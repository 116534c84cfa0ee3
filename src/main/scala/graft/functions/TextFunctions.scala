package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis primitives for large-scale corpus processing.
  *
  * Everything here is a per-row projection — embarrassingly parallel, no
  * shuffle, scales linearly with input splits. Where a computation would need
  * N passes as composed built-ins (SimHash's 64 bit-counters, MinHash's k
  * permutations) we use a native Catalyst `Expression` doing one pass per row;
  * everything else composes `org.apache.spark.sql.functions` so it stays
  * inside whole-stage codegen.
  */
object TextFunctions {

  /** FNV-1a 64-bit over UTF-8 bytes — public-domain hash, stable across
    * engines and releases (unlike hashCode). */
  def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
  def fnv64(s: String): Long = { val b = s.getBytes("UTF-8"); fnv64(b, 0, b.length) }

  /** splitmix64 finalizer (public-domain constants): FNV-1a's low bits have
    * poor avalanche on short strings (parity tracks the last byte), so
    * anything deriving ±1/bucket decisions from a hash must mix first. */
  def mix64(x: Long): Long = {
    var z = x
    z ^= (z >>> 30); z *= 0xbf58476d1ce4e5b9L
    z ^= (z >>> 27); z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- static eval helpers (shared by interpreted eval and codegen) --------

  /** Single-pass SimHash64 over whitespace tokens. */
  def simhashOf(input: UTF8String): Long = {
    val s = input.toString
    val counts = new Array[Int](64)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val h = fnv64(s.substring(start, i).toLowerCase)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** mix64(fnv64(s)) — the deterministic "public arithmetic" hash used for
    * seed/sample selection (IVF seed ranking). Mirrors in DuckDB HUGEINT SQL. */
  def fnvMixOf(input: UTF8String): Long = mix64(fnv64(input.toString))

  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Distinct word n-gram shingles in one pass. Replicates the composed
    * form `array_distinct(transform(sequence(...), i => array_join(slice(
    * split(trim(lower(text))), ...))))` EXACTLY — same trim (spaces only,
    * via UTF8String.trim like Spark's `trim`), same lower, same `\s+`
    * split (so "" yields [""]), same clipped final windows, same
    * first-occurrence distinct order. The HOF chain evaluates interpreted
    * lambdas per position (~24 µs/shingle measured); this is one string
    * pass + a LinkedHashSet. */
  def ngramsOf(input: UTF8String, n: Int): ArrayData = {
    val s = input.trim().toLowerCase.toString
    val toks = WS.split(s, -1)
    val count = math.max(toks.length - n, 0) + 1
    val seen = new java.util.LinkedHashSet[String](count * 2)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** NON-distinct word n-grams — [[ngramsOf]]'s tokenization and window
    * clipping with multiplicity and order preserved (the unit for
    * repetition / LM statistics, where counts matter). */
  def ngramsAllOf(input: UTF8String, n: Int): ArrayData = {
    val s = input.trim().toLowerCase.toString
    val toks = WS.split(s, -1)
    val count = math.max(toks.length - n, 0) + 1
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val FP_P = (1L << 61) - 1
  private val FP_B = 1000003L

  /** Order-sensitive polynomial rolling hash over whitespace tokens,
    * mod 2^61-1 with exact 128-bit mulmod (the DuckDB oracle reproduces the
    * same HUGEINT arithmetic bit-for-bit). */
  def fingerprintOf(input: UTF8String): Long = {
    val s = input.toString
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val h = fnv64(s.substring(start, i).toLowerCase) & Long.MaxValue
        acc = (mulmod61(acc, FP_B) + (h % FP_P)) % FP_P
      }
    }
    acc
  }

  /** Exact (a*b) mod (2^61-1) for a,b < 2^61, via the 128-bit product:
    * 2^64 ≡ 8 and 2^61 ≡ 1 (mod p) fold the high/low halves. */
  def mulmod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & FP_P)
    while (r >= FP_P) r -= FP_P
    r
  }

  /** MinHash signature over an array of shingles with precomputed flat
    * [a0,b0,a1,b1,...] coefficients; p = 2^61-1. */
  def minhashOf(arr: ArrayData, coeffs: Array[Long]): ArrayData = {
    val k = coeffs.length / 2
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = fnv64(arr.getUTF8String(i).toString) & Long.MaxValue
      var j = 0
      while (j < k) {
        val v = (mulmod61(coeffs(2 * j), h % FP_P) + coeffs(2 * j + 1)) % FP_P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  // ---- tokenization (composed built-ins; codegen'd) ------------------------

  /** Whitespace tokens of the trimmed, lowercased text. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Word n-gram shingles (distinct), the unit for MinHash / Jaccard dedup.
    * Codegen'd single-pass expression; [[shinglesComposed]] is the
    * composed-builtins reference implementation it must match bit-for-bit
    * (spec-asserted). */
  def shingles(c: Column, n: Int): Column =
    GraftColumnBridge.column(WordNGrams(toExpr(c), n))

  /** The original composed form, kept as the semantic reference. */
  def shinglesComposed(c: Column, n: Int): Column = {
    val t = tokens(c)
    array_distinct(
      transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
  }

  /** NON-distinct word n-grams (multiplicity + order preserved), codegen'd.
    * The HOF-composed equivalent ([[ngramsAllComposed]]) evaluates its
    * lambda interpreted per position and re-evaluates the token split per
    * element (~20x slower measured at sf0.1); this is one string pass. */
  def ngramsAll(c: Column, n: Int): Column =
    GraftColumnBridge.column(WordNGramsAll(toExpr(c), n))

  /** Composed-builtins reference for [[ngramsAll]] (spec-pinned). */
  def ngramsAllComposed(c: Column, n: Int): Column = {
    val t = tokens(c)
    transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
      i => array_join(slice(t, i + 1, lit(n)), " "))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish token count: runs of word chars or single non-space symbols
    * (a cheap, deterministic proxy for subword tokenizer load estimates). */
  def tokenCountBpeish(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]"), lit(0))).cast("long")

  // ---- quality scoring -----------------------------------------------------

  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^.!?,;:]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "from", "that", "this", "be", "are", "was")

  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val t = tokens(c)
    size(filter(t, x => x.isin(stopwords.map(_.asInstanceOf[Any]): _*))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation noise and a natural stopword rate. Heuristic, deterministic.
    * Unrounded: the raw double expression tree evaluates bit-identically in
    * DuckDB, whereas round(double, n) implementations differ by ULPs. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(c) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(c) * 4.0, lit(1.0))
    lenScore * 0.4 + (lit(1.0) - punctPenalty) * 0.3 + stopScore * 0.3
  }

  // ---- language identification (n-gram/stopword heuristic) -----------------

  /** Tiny per-language lexicons of high-frequency function words. */
  val langLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "est"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "en", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "mit", "ist", "den", "ein"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Predict language by stopword-hit votes; deterministic tie-break by
    * lexicon order; no hits at all -> "und". */
  def langId(c: Column): Column = {
    val t = tokens(c)
    val scores = langLexicons.map { case (lang, lex) =>
      lang -> size(filter(t, x => x.isin(lex.map(_.asInstanceOf[Any]): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  // ---- single-pass native expressions --------------------------------------

  /** 64-bit SimHash of the whitespace-tokenized input string in ONE pass
    * (64 bit-counters over FNV-1a token hashes). A composed-builtins version
    * would need 64 parallel aggregates per row. Generates code (a static
    * helper call), so it stays inside whole-stage codegen. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simhashOf(input.asInstanceOf[UTF8String]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.simhashOf($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** Distinct word n-grams as a codegen'd expression (see [[ngramsOf]]). */
  case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      ngramsOf(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.ngramsOf($c, $n)")
    override protected def withNewChildInternal(c: Expression): WordNGrams = copy(child = c)
  }

  /** Non-distinct companion of [[WordNGrams]]. */
  case class WordNGramsAll(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      ngramsAllOf(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.ngramsAllOf($c, $n)")
    override protected def withNewChildInternal(c: Expression): WordNGramsAll = copy(child = c)
  }

  /** mix64∘fnv64 of a string column as a codegen'd expression — used to rank
    * rows by a deterministic pseudo-random key (e.g. IVF seed selection) that
    * the DuckDB oracle reproduces exactly in HUGEINT arithmetic. */
  case class FnvMix64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(fnvMixOf(input.asInstanceOf[UTF8String]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.fnvMixOf($c)")
    override protected def withNewChildInternal(c: Expression): FnvMix64 = copy(c)
  }

  /** k-permutation MinHash signature over an array<string> of shingles in ONE
    * pass: sig_i = min over shingles of ((a_i * h + b_i) mod p), p = 2^61-1,
    * (a_i, b_i) derived deterministically from the seed. Codegen references
    * the flat coefficient array. */
  case class MinHashSignature(child: Expression, k: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private val P = (1L << 61) - 1
    // flat [a0, b0, a1, b1, ...] so codegen can reference one object.
    // Coefficients derive from FNV-1a of a labeled string rather than
    // java.util.Random so any engine (incl. the DuckDB oracle) can reproduce
    // the exact signature from public arithmetic.
    private lazy val coeffs: Array[Long] =
      Array.tabulate(2 * k) { idx =>
        val label = if (idx % 2 == 0) "a" else "b"
        (fnv64(s"minhash-$label-$seed-${idx / 2}") & Long.MaxValue) % (P - 1) + 1
      }

    override def nullSafeEval(input: Any): Any =
      minhashOf(input.asInstanceOf[ArrayData], coeffs)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val coeffsRef = ctx.addReferenceObj("minhashCoeffs", coeffs, "long[]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.minhashOf($c, $coeffsRef)")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** Polynomial rolling-hash document fingerprint over whitespace tokens,
    * mod 2^61-1 — order-sensitive (unlike SimHash), single pass, codegen'd. */
  case class RollingFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(fingerprintOf(input.asInstanceOf[UTF8String]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.fingerprintOf($c)")
    override protected def withNewChildInternal(c: Expression): RollingFingerprint =
      copy(c)
  }

  /** Codegen hook for [[BloomMightContain]] — membership on the string's
    * UTF-8 bytes, the same encoding `DataFrameStatFunctions.bloomFilter`
    * inserts string columns with, so build and probe agree. */
  def bloomHitOf(s: UTF8String,
                 bf: org.apache.spark.util.sketch.BloomFilter): Boolean =
    bf.mightContainBinary(s.getBytes)

  /** Bloom-filter membership as a codegen'd predicate; the filter rides
    * into generated code as a reference object (like IVF's centroid
    * matrix), so the prefilter is a pure map-side projection — no UDF
    * boxing, no shuffle. */
  case class BloomMightContain(child: Expression,
                               bf: org.apache.spark.util.sketch.BloomFilter)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any): Any =
      bloomHitOf(a.asInstanceOf[UTF8String], bf)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bf", bf,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      defineCodeGen(ctx, ev,
        a => s"graft.functions.TextFunctions.bloomHitOf($a, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
  }

  private def toExpr(c: Column) = GraftColumnBridge.expression(c)

  def bloomMightContain(c: Column,
                        bf: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftColumnBridge.column(BloomMightContain(toExpr(c), bf))

  def simhash64(c: Column): Column =
    GraftColumnBridge.column(SimHash64(toExpr(c)))
  def minhashSignature(c: Column, k: Int = 64, seed: Long = 42L): Column =
    GraftColumnBridge.column(MinHashSignature(toExpr(c), k, seed))
  def rollingFingerprint(c: Column): Column =
    GraftColumnBridge.column(RollingFingerprint(toExpr(c)))
  def fnvMix64(c: Column): Column =
    GraftColumnBridge.column(FnvMix64(toExpr(c)))
}
