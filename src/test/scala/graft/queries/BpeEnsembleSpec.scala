package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Round-8 additions: BPE tokenizer train/encode and the quality-ensemble
  * selection gate. The DuckDB oracle pins both bit-exactly at sf0.01;
  * these specs pin the SEMANTICS — greedy left-to-right merge application
  * (the part the run-parity SQL formulation must agree with), a full
  * driver-side BPE training replica, and the ensemble's gate arithmetic
  * against the already-verified component queries. */
class BpeEnsembleSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val sfDir = "/root/testdata/sf0.001"

  /** Reference greedy BPE merge: scan left to right, merge (l,r) when
    * adjacent, skip past a merge (never re-match its right half). */
  private def greedyMerge(syms: List[String], l: String, r: String): List[String] =
    syms match {
      case a :: b :: rest if a == l && b == r => (a + b) :: greedyMerge(rest, l, r)
      case a :: rest                          => a :: greedyMerge(rest, l, r)
      case Nil                                => Nil
    }

  test("bpeApplyMerge == greedy left-to-right on overlap-heavy inputs") {
    import spark.implicits._
    // "aaaa" -> [aa, aa]; "aaa" -> [aa, a]; interleavings; no-ops
    val words = Seq("aaaa", "aaa", "aa", "a", "abab", "aabaa", "baaab", "xyz")
    val df = words.toDF("word").withColumn("syms",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    val got = df.withColumn("m", PipelineOps.bpeApplyMerge(col("syms"), "a", "a"))
      .select(col("word"), col("m")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    for (w <- words)
      assert(got(w) == greedyMerge(w.split("").toList, "a", "a"), s"word $w")
    // multi-char symbols after a prior merge round
    val df2 = Seq(Seq("ab", "ab", "c", "ab")).toDF("syms")
    val got2 = df2.select(PipelineOps.bpeApplyMerge(col("syms"), "ab", "ab"))
      .collect()(0).getSeq[String](0).toList
    assert(got2 == List("abab", "c", "ab"))
  }

  test("bpeTrain == driver-side brute-force BPE on the corpus dict") {
    val docs = PipelineOps.docs(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    var dict: Map[List[String], Long] = docs
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w.split("").toList, ws.length.toLong) }
    val expMerges = (1 to 8).flatMap { _ =>
      val counts = dict.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f))
      }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      if (counts.isEmpty) None
      else {
        // argmax by (count DESC, l ASC, r ASC) — the Spark/DuckDB contract
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        dict = dict.groupBy { case (syms, _) => greedyMerge(syms, l, r) }
          .map { case (s, m) => (s, m.values.sum) }
        Some((l, r, c))
      }
    }
    val (gotMerges, gotDict) = PipelineOps.bpeTrain(PipelineOps.docs(spark, sfDir), 8)
    assert(gotMerges == expMerges.toList, "merge table mismatch")
    val gotWords = gotDict.select("word", "freq", "syms").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getSeq[String](2).toList))).toMap
    assert(gotWords.size == dict.size)
    for ((syms, f) <- dict) {
      val word = syms.mkString
      assert(gotWords(word) == ((f, syms)), s"dict row for '$word'")
    }
    // vocab artifact over the same brute dict
    val expVocab = dict.toSeq
      .flatMap { case (syms, f) => syms.map(s => (s, syms.mkString, f)) }
      .groupBy(_._1).map { case (sym, xs) =>
        sym -> ((xs.map(_._2).distinct.size.toLong,
          xs.map(_._3).sum))
      }
    val gotVocab = PipelineOps.dfQueries("doc_bpe_vocab")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotVocab == expVocab, "vocab artifact mismatch")
  }

  test("bpeTrain stops early when the pair supply is exhausted") {
    import spark.implicits._
    // single-char words: no adjacent pairs at all -> zero merges
    val single = Seq("a b c", "a a").toDF("text")
    val (m0, d0) = PipelineOps.bpeTrain(single, numMerges = 8)
    assert(m0.isEmpty)
    assert(d0.count() == 3)
    // one mergeable pair, then nothing: exactly one merge learned
    val one = Seq("ab ab", "ab").toDF("text")
    val (m1, d1) = PipelineOps.bpeTrain(one, numMerges = 8)
    assert(m1 == List(("a", "b", 3L)))
    assert(d1.select("syms").collect()(0).getSeq[String](0) == Seq("ab"))
  }

  test("doc_wordpiece_encode == driver-side greedy longest-prefix replica") {
    // rebuild the vocab exactly as the catalog query does (distinct BPE
    // dict symbols), re-encode every distinct word with an independent
    // recursive replica, and compare per-doc piece sums
    val (_, dict) = PipelineOps.bpeTrain(
      spark.read.parquet(s"$sfDir/documents.parquet"), numMerges = 8)
    val vocab = dict.select(explode(col("syms")).as("p")).distinct()
      .collect().map(_.getString(0)).toSet
    val maxLen = vocab.map(_.length).max
    def greedy(w: String): Long = {
      @annotation.tailrec
      def go(pos: Int, n: Long): Long =
        if (pos >= w.length) n
        else {
          val l = (math.min(maxLen, w.length - pos) to 1 by -1)
            .find(k => vocab.contains(w.substring(pos, pos + k))).getOrElse(1)
          go(pos + l, n + 1)
        }
      go(0, 0L)
    }
    val perWord = dict.select(col("word")).collect().map(_.getString(0))
      .map(w => w -> greedy(w)).toMap
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = toks.groupBy(_._1).view
      .mapValues(ws => (ws.length.toLong, ws.map(t => perWord(t._2)).sum)).toMap
    val got = graft.SparkEntry.queries("doc_wordpiece_encode")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (nTok, nWp)) =>
      assert((nTok, nWp) == expected(id), s"doc $id")
    }
    // every word is at least one piece, never more than its char count
    assert(perWord.forall { case (w, n) => n >= 1 && n <= w.length })
  }

  test("ann_recall equals the overlap of the ivf and brute-force catalog queries") {
    def ids(name: String) = PipelineOps.dfQueries(name)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = ids("ann_ivf")
    val brute = ids("ann_cosine_topk")
    val got = PipelineOps.dfQueries("ann_recall")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == brute.keySet)
    got.foreach { case (q, nHits, recall) =>
      val expect = (ivf.getOrElse(q, Set.empty) & brute(q)).size.toLong
      assert(nHits == expect, s"probe $q overlap")
      assert(recall == nHits.toDouble / 10.0)
    }
  }

  test("doc_select_ensemble gates agree with the component queries") {
    def byId(name: String) = PipelineOps.dfQueries(name)(spark, sfDir)
    val clf = byId("doc_quality_classifier").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val dsir = byId("doc_dsir").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lm = byId("doc_lm_score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = byId("doc_select_ensemble").collect()
    // exactly the source pool with >= 1 bigram = dsir's domain ∩ lm's
    assert(rows.map(_.getLong(0)).toSet == dsir.keySet.intersect(lm.keySet))
    assert(rows.nonEmpty)
    // corpus-relative DSIR baseline over the FULL source pool (doc_dsir's
    // domain), floored integer division — the selectEnsemble contract
    val thr = dsir.values.map(_._2).sum / dsir.values.map(_._1).sum
    var kept = 0
    rows.foreach { r =>
      val id = r.getLong(0)
      val (nFeats, dsirMilli) = dsir(id)
      val (nGrams, nOov) = lm(id)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((clf(id), nFeats, dsirMilli)))
      assert((r.getLong(4), r.getLong(5)) == ((nGrams, nOov)))
      val docMean = if (nFeats == 0) 0L else dsirMilli / nFeats
      val mask = (if (clf(id) <= 0) 1L else 0L) +
        (if (docMean < thr) 2L else 0L) +
        (if (nOov * 5L > nGrams) 4L else 0L)
      assert(r.getLong(6) == mask, s"mask for doc $id")
      assert(r.getBoolean(7) == (mask == 0L))
      if (mask == 0L) kept += 1
    }
    // the gate must actually separate: some kept, some dropped
    assert(kept > 0 && kept < rows.length)
  }
}
