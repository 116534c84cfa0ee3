package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Unigram-LM tokenizer: the quantized-likelihood Viterbi semantics and a
  * FULL driver-side training replica (independent plain-Scala seed + EM +
  * DP) against the distributed trainer — the BpeEnsembleSpec discipline.
  * The DuckDB oracle pins the same math bit-exactly at sf0.01. */
class UnigramSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val sfDir = "/root/testdata/sf0.001"

  test("unigramScore is floor(3*log2(clipped count))") {
    assert(PipelineOps.unigramScore(1L) == 0)
    assert(PipelineOps.unigramScore(2L) == 3)
    assert(PipelineOps.unigramScore(7L) == 8)  // floor(3*2.807) = 8
    assert(PipelineOps.unigramScore(8L) == 9)
    assert(PipelineOps.unigramScore(0L) == 0)   // clip low
    assert(PipelineOps.unigramScore(1L << 40) == 120)
    assert(PipelineOps.unigramScore(1L << 50) == 120) // clip at 2^40
    // exact reference: score k iff 2^k <= c^3 < 2^(k+1). (A float
    // reference 3*ln(c)/ln(2) misrounds at c=8 — 8.9999999999999982 —
    // which is precisely the cross-libm hazard the integer form removes.)
    for (c <- 1L to 2000L) {
      val k = PipelineOps.unigramScore(c)
      val c3 = BigInt(c).pow(3)
      assert((BigInt(1) << k) <= c3 && c3 < (BigInt(1) << (k + 1)), s"c=$c k=$k")
    }
  }

  test("viterbiPieces maximizes score, then fewest pieces, then longest last piece") {
    // "abc": {abc: 5} beats {ab: 9, c: 9}? scores: abc=5 vs ab+c=18 -> split wins
    val s1 = Map("a" -> 1, "b" -> 1, "c" -> 1, "ab" -> 9, "abc" -> 5)
    assert(PipelineOps.viterbiPieces("abc", s1) == Seq("ab", "c"))
    // equal total score -> fewer pieces wins: {abc: 6} vs {ab: 5, c: 1}
    val s2 = Map("a" -> 1, "b" -> 1, "c" -> 1, "ab" -> 5, "abc" -> 6)
    assert(PipelineOps.viterbiPieces("abc", s2) == Seq("abc"))
    // equal score AND pieces -> longer last piece at the cell: {a, bc} vs {ab, c}
    val s3 = Map("a" -> 2, "b" -> 0, "c" -> 2, "ab" -> 2, "bc" -> 2)
    // ab|c and a|bc both score 4 with 2 pieces (a|b|c also scores 4 but
    // loses on piece count); the last-piece-length tie-break keeps bc
    assert(PipelineOps.viterbiPieces("abc", s3) == Seq("a", "bc"))
    // coverage: unknown chars impossible by construction, but a gap throws
    intercept[IllegalArgumentException] {
      PipelineOps.viterbiPieces("ax", Map("a" -> 1))
    }
  }

  /** Independent driver-side replica of the whole trainer. */
  private def replicaTrain(words: Seq[String], rounds: Int)
      : (Map[String, Long], Map[String, Seq[String]]) = {
    val dict: Map[String, Long] = words.map(_.take(16)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cand = scala.collection.mutable.Map[String, Long]()
    for ((w, f) <- dict; i <- 0 until w.length;
         l <- 1 to math.min(4, w.length - i))
      cand(w.substring(i, i + l)) = cand.getOrElse(w.substring(i, i + l), 0L) + f
    val chars = cand.filter(_._1.length == 1)
    val multi = cand.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(64)
    var vocab: Map[String, Long] = (chars ++ multi).toMap
    // independent quantized log: via BigDecimal-free BigInt comparisons
    def q3log2(c: Long): Int = {
      val cl = math.min(math.max(c, 1L), 1L << 40)
      var k = 0
      while (BigInt(2).pow(k + 1) <= BigInt(cl).pow(3)) k += 1
      k
    }
    // independent DP (recursive, memoized; enumerate and pick best)
    def seg(w: String, sc: Map[String, Int]): Seq[String] = {
      val memo = scala.collection.mutable.Map[Int, (Int, Int, List[String])]()
      def best(i: Int): (Int, Int, List[String]) = memo.getOrElseUpdate(i, {
        if (i == 0) (0, 0, Nil)
        else {
          val cands = for {
            l <- (1 to math.min(4, i)).toList
            p = w.substring(i - l, i)
            s <- sc.get(p).toList
            prev = best(i - l)
          } yield (prev._1 + s, prev._2 + 1, p :: prev._3, l)
          // (score desc, np asc, l desc)
          val (s, n, ps, _) = cands.maxBy { case (s, n, _, l) => (s, -n, l) }
          (s, n, ps)
        }
      })
      best(w.length)._3.reverse
    }
    var segs: Map[String, Seq[String]] = Map.empty
    def scoresOf(v: Map[String, Long]): Map[String, Int] = {
      val total = math.min(
        v.valuesIterator.map(c => math.min(math.max(c, 1L), 1L << 40)).sum,
        1L << 40)
      val sT = q3log2(total)
      v.map { case (p, c) => p -> (q3log2(c) - sT) }
    }
    for (_ <- 0 until rounds) {
      val sc = scoresOf(vocab)
      segs = dict.keys.map(w => w -> seg(w, sc)).toMap
      val used = scala.collection.mutable.Map[String, Long]()
      for ((w, ps) <- segs; p <- ps)
        used(p) = used.getOrElse(p, 0L) + dict(w)
      vocab = vocab.keys.flatMap { p =>
        val c = used.getOrElse(p, 0L)
        if (c > 0 || p.length == 1) Some(p -> c) else None
      }.toMap
    }
    // mirror the trainer's extra scoring-consistent pass: the stored segs
    // come from the FINAL counts' scores (no further recount)
    val finalSc = scoresOf(vocab)
    segs = dict.keys.map(w => w -> seg(w, finalSc)).toMap
    (vocab.filter(_._2 > 0), segs)
  }

  test("distributed trainer == independent driver replica on the real corpus") {
    val words = graft.Tables.t(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .collect().map(_.getString(0)).toSeq
    val (refVocab, refSegs) = replicaTrain(words, rounds = 2)
    val got = graft.SparkEntry.queries("doc_unigram_train")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refVocab,
      s"vocab mismatch: only-spark=${got.keySet -- refVocab.keySet} only-ref=${refVocab.keySet -- got.keySet}")
    // encode parity: per-doc piece counts from the replica's segmentations
    val enc = graft.SparkEntry.queries("doc_unigram_encode")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docToks = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .collect().map(r => (r.getLong(0), r.getString(1).take(16)))
      .groupBy(_._1)
    enc.foreach { case (doc, nTok, nPieces) =>
      val toks = docToks(doc).map(_._2)
      assert(nTok == toks.length.toLong, s"doc $doc token count")
      assert(nPieces == toks.map(w => refSegs(w).length.toLong).sum, s"doc $doc pieces")
    }
    assert(enc.length == docToks.size)
    // compression sanity: multi-char pieces actually fire
    assert(enc.exists { case (_, nTok, nP) => nP > nTok },
      "pieces should exceed tokens somewhere (chars split words)")
    assert(refVocab.keys.exists(_.length > 1), "multi-char pieces must survive EM")
  }
}
