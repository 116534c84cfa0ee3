package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Round-5 pipeline additions: windowed exact-substring dedup, distributed
  * shard packing, PII scrubbing, C4-style filtering. The DuckDB oracle pins
  * each to a bit-exact reference; these specs pin the SEMANTIC claims the
  * oracle can't see — plan shape (no global single-reducer window over the
  * corpus in doc_pack), brute-force agreement for window dedup, and the
  * scrubber actually removing every match it counted. */
class PipelineNewOpsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val sfDir = "/root/testdata/sf0.001"

  private def q(name: String) = PipelineOps.dfQueries(name)(spark, sfDir)

  test("doc_window_dedup == brute-force shared-window pairs") {
    val docs = PipelineOps.docs(spark, sfDir)
    val win = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.shingles(col("text"), 8)).as("w"))
    // brute force on strings (no hashing): every (earlier, later) doc pair
    // sharing a window
    val a = win.select(col("doc_id").as("id_a"), col("w"))
    val b = win.select(col("doc_id").as("id_b"), col("w"))
    val expected = a.join(b, "w").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val got = q("doc_window_dedup").collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3)))
    val gotDups = got.collect { case (id, Some(d), _) => id -> d }.toMap
    assert(gotDups == expected)
    got.foreach { case (_, d, isDup) => assert(d.isDefined == isDup) }
    assert(expected.nonEmpty, "fixture should contain at least one window dup")
  }

  test("windowDedup: exact copies, embedded substrings, short docs") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f g h i j"),            // base: 3 distinct 8-windows
      (1L, "a b c d e f g h i j"),            // exact copy -> dup_of 0
      (2L, "x a b c d e f g h i j y"),        // contains base's windows -> dup
      (3L, "p q r s t u v w"),                // unique single window
      (4L, "short text"),                     // < k tokens: whole text window
      (5L, "short text"),                     // exact short copy -> dup_of 4
      (6L, "totally different words here now then")
    ).toDF("doc_id", "text")
    val out = PipelineOps.windowDedup(corpus, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
      .toMap
    assert(out(0) == ((3L, None, false)))
    assert(out(1) == ((3L, Some(0L), true)))
    assert(out(2)._2 == Some(0L) && out(2)._3)   // shares windows with doc 0
    assert(out(3) == ((1L, None, false)))
    assert(out(4) == ((1L, None, false)))
    assert(out(5) == ((1L, Some(4L), true)))
    assert(out(6)._2.isEmpty && !out(6)._3)
  }

  test("doc_pack matches the naive global cumsum; nothing exceeds the plan's two-level shape") {
    val naive = PipelineOps.docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .withColumn("token_offset", coalesce(sum(col("n_tokens")).over(
        Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("shard_id", expr("token_offset div 4096"))
    val exp = naive.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = q("doc_pack").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == exp)

    // plan shape: the only unpartitioned window runs over the per-block
    // aggregate (nDocs/blockSize rows), never the raw corpus — the per-doc
    // window is partitioned by blk
    val plan = q("doc_pack").queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    val unpartitioned = windows.filterNot(_.contains("windowspecdefinition(blk"))
    // every unpartitioned window spec must sit above the block aggregate:
    // it orders by blk, not doc_id
    unpartitioned.foreach(w => assert(w.contains("blk") && !w.contains("doc_id"),
      s"global window over the corpus: $w"))
    // shards are contiguous and within budget: every shard except possibly
    // the last holds <= 4096 tokens of offsets (offset div stays monotone)
    val byShard = got.toSeq.sortBy(_._1).map(_._4)
    assert(byShard == byShard.sorted, "shard_id must be monotone in doc_id")
  }

  test("doc_pii_scrub removes every span it counts") {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val out = q("doc_pii_scrub")
    val leftover = out.filter(
      size(regexp_extract_all(col("scrubbed"), lit(email), lit(0))) > 0 ||
      size(regexp_extract_all(col("scrubbed"), lit(phone), lit(0))) > 0)
    assert(leftover.count() == 0, "scrubbed text still matches a PII pattern")
    val counts = out.agg(min(col("n_emails")), min(col("n_phones"))).head()
    assert(counts.getLong(0) >= 1 && counts.getLong(1) >= 1,
      "every grafted contact line should count at least one email and phone")
    assert(out.filter(!col("scrubbed").contains("[EMAIL]") ||
      !col("scrubbed").contains("[PHONE]")).count() == 0)
  }

  test("doc_filter_c4 flags agree with the underlying signal queries") {
    val flags = q("doc_filter_c4").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // bit 0 iff token count below threshold (cross-checked via doc_token_stats)
    val tokens = q("doc_token_stats").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    flags.foreach { case (id, (nTok, f, keep)) =>
      assert(nTok == tokens(id))
      assert(((f & 1L) != 0) == (nTok < 32))
      assert(keep == (f == 0L))
    }
    // bit 3 iff lang-id disagrees with the label
    val lang = q("doc_lang_id").collect()
      .map(r => (r.getLong(0), r.getString(1) != r.getString(2))).toMap
    flags.foreach { case (id, (_, f, _)) =>
      assert(((f & 8L) != 0) == lang(id), s"lang bit mismatch for doc $id")
    }
    // the filter must neither keep nor drop everything on the fixture
    val kept = flags.values.count(_._3)
    assert(kept > 0 && kept < flags.size)
  }

  test("paragraphDedup removes ALL copies of duplicated chunks, rebuilds in order") {
    import spark.implicits._
    // k=3 chunks: doc 0 = [a b c][d e f], doc 1 = [a b c][x y z],
    // doc 2 = [x y z][q r s], doc 3 unique, doc 4 = [a b c] only (all dup)
    val corpus = Seq(
      (0L, "a b c d e f"),
      (1L, "a b c x y z"),
      (2L, "x y z q r s"),
      (3L, "u v w m n o"),
      (4L, "a b c")
    ).toDF("doc_id", "text")
    val out = PipelineOps.paragraphDedup(corpus, k = 3, minDup = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out(0) == ((2L, 1L, 1L, "d e f")))  // [a b c] seen 3x -> removed everywhere
    assert(out(1) == ((2L, 0L, 2L, "")))       // both chunks duplicated
    assert(out(2) == ((2L, 1L, 1L, "q r s")))  // [x y z] seen 2x -> removed
    assert(out(3) == ((2L, 2L, 0L, "u v w m n o"))) // untouched, order preserved
    assert(out(4) == ((1L, 0L, 1L, "")))       // the whole doc was boilerplate
  }

  test("doc_paragraph_dedup finds cross-doc chunk dups in the fixture corpus") {
    val out = q("doc_paragraph_dedup")
    assert(out.filter(col("n_removed") > 0).count() > 0,
      "fixture corpus should contain duplicated chunks")
    // reassembly sanity: n_kept + n_removed == n_chunks, text_clean empty
    // iff nothing kept
    assert(out.filter(col("n_kept") + col("n_removed") =!= col("n_chunks")).count() == 0)
    assert(out.filter((col("n_kept") === 0) =!= (col("text_clean") === "")).count() == 0)
  }

  test("gramMatrix: partitioning-invariant exact decimals, agrees with brute force") {
    val e = PipelineOps.embs(spark, sfDir)
    val a = PipelineOps.gramMatrix(e, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2)).toMap
    // ORDER-FREE: a different partitioning must give bit-identical decimals
    val b = PipelineOps.gramMatrix(e.repartition(7), dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2)).toMap
    assert(a == b, "gram must not depend on partitioning")
    assert(a.size == 64 * 65 / 2)
    // numeric agreement with a driver-side double computation
    val vecs = e.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (((i, j), d) <- a.toSeq.sortBy(_._1).take(200)) {
      val brute = vecs.map(v => v(i.toInt) * v(j.toInt)).sum
      assert(math.abs(d.doubleValue() - brute) < 1e-9, s"cell ($i,$j)")
    }
  }

  test("gramMatrixGrid: partitioning-invariant int64 sums, bounded vs exact") {
    val e = PipelineOps.embs(spark, sfDir)
    val n = e.count()
    val a = PipelineOps.gramMatrixGrid(e, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ORDER-FREE: a different partitioning must give identical int64 sums
    val b = PipelineOps.gramMatrixGrid(e.repartition(7), dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b, "grid gram must not depend on partitioning")
    assert(a.size == 64 * 65 / 2)
    // brute-force replica of the per-term grid on a sample of cells
    val vecs = e.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (((i, j), g) <- a.toSeq.sortBy(_._1).take(100)) {
      val brute = vecs.map(v => math.floor(v(i.toInt) * v(j.toInt) * 1e12 + 0.5).toLong).sum
      assert(g == brute, s"cell ($i,$j): $g vs $brute")
    }
    // quantization bound: each term moves < 5e-13, so grid/1e12 is within
    // n*5e-13 of the exact decimal sum on every cell
    val exact = PipelineOps.gramMatrix(e, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).doubleValue()).toMap
    for ((k, g) <- a)
      assert(math.abs(g / 1e12 - exact(k)) <= n * 5e-13,
        s"cell $k: grid ${g / 1e12} vs exact ${exact(k)}")
  }

  test("pcaBasis: orthonormal eigenbasis of the gram, descending, deterministic") {
    val e = PipelineOps.embs(spark, sfDir)
    val gram = PipelineOps.gramMatrix(e, dim = 64)
    val basis = PipelineOps.pcaBasis(gram, dim = 64, k = 8)
    assert(basis.length == 8 && basis.forall(_.length == 64))
    // orthonormality
    for (i <- basis.indices; j <- i until basis.length) {
      val d = basis(i).zip(basis(j)).map { case (x, y) => x * y }.sum
      if (i == j) assert(math.abs(d - 1.0) < 1e-9)
      else assert(math.abs(d) < 1e-9, s"basis $i,$j not orthogonal")
    }
    // true eigenvectors of G: residual ||G v - λ v|| ~ 0, λ descending > 0
    val g = Array.ofDim[Double](64, 64)
    gram.collect().foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val v = r.getDecimal(2).doubleValue(); g(i)(j) = v; g(j)(i) = v
    }
    val lams = basis.map { v =>
      val gv = g.map(row => row.zip(v).map(p => p._1 * p._2).sum)
      val lam = v.zip(gv).map(p => p._1 * p._2).sum
      val res = math.sqrt(gv.zip(v).map { case (x, y) =>
        (x - lam * y) * (x - lam * y) }.sum)
      assert(res < 1e-6 * math.max(1.0, math.abs(lam)), s"eigen residual $res")
      lam
    }
    assert(lams.zip(lams.tail).forall { case (a, b) => a >= b - 1e-9 })
    assert(lams.head > 0)
    // deterministic run-to-run
    assert(PipelineOps.pcaBasis(gram, 64, 8).map(_.toSeq) == basis.map(_.toSeq))
  }

  test("pcaProject: codegen'd kernel is bit-identical to the driver-side fold") {
    val e = PipelineOps.embs(spark, sfDir)
    val basis = PipelineOps.pcaBasis(PipelineOps.gramMatrix(e, 64), 64, k = 4)
    val proj = PipelineOps.pcaProject(e, basis).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    vecs.foreach { case (id, v) =>
      val expect = basis.map { w =>
        var s = 0.0; var i = 0
        while (i < 64) { s += v(i).toDouble * w(i); i += 1 }
        s
      }
      assert(proj(id) == expect.toSeq, s"vec $id projection differs")
    }
  }

  test("curate: end-to-end composition holds every stage's invariant") {
    import spark.implicits._
    val docs = PipelineOps.docs(spark, sfDir)
    val probes = docs.filter(col("doc_id") < 3)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("shingle"))
      .distinct()
    val out = PipelineOps.curate(docs, probes,
      minTokens = 16, nearDupThreshold = 0.3, shardTokens = 256).cache()
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length < docs.count())
    // survivors are real input docs above the token gate
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.subsetOf(docs.select("doc_id").collect().map(_.getLong(0)).toSet))
    // no surviving pair is a near-dup under the same deterministic LSH
    val sh = out.select(col("doc_id"),
      graft.functions.TextFunctions.shingles(col("text_clean"), 3).as("sh"))
    assert(PipelineOps.minhashLshJoin(sh, 0.3).count() === 0)
    // no survivor shares a probe n-gram
    val inv = out.select(col("doc_id"),
      explode(graft.functions.TextFunctions.shingles(col("text_clean"), 3)).as("shingle"))
    assert(inv.join(probes, "shingle").count() === 0)
    // shard structure: contiguous positions, shard ids dense from 0
    val byShard = rows.groupBy(_.getLong(5))
    assert(byShard.keySet == (0L until byShard.size).toSet)
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(6)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // token budget: every shard except possibly the last stays under
    // budget + one straddling doc
    val maxDoc = rows.map(_.getLong(4)).max
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(4)).sum <= 256 + maxDoc)
    }
    out.unpersist()
  }

  test("Bloom-prefiltered decontamination == exact broadcast decontamination") {
    val exact = q("doc_decontaminate").collect().map(r => (r.getLong(0), r.getLong(1)))
    val scalable = q("doc_decontaminate_scalable").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    assert(scalable.toSeq == exact.toSeq)
  }

  test("LSH hot-bucket cap bounds degenerate corpora and is dormant below the cap") {
    import spark.implicits._
    // adversarial corpus: 10^4 byte-identical docs + 10^3 empty docs — every
    // one of them lands in a single (band, band_hash) bucket per band, which
    // uncapped would self-join to ~5*10^7 candidate pairs
    val identical = spark.range(0, 10000)
      .select(col("id").as("doc_id"),
        typedLit(Seq("a b", "b c", "c d")).as("sh"))
    val empty = spark.range(10000, 11000)
      .select(col("id").as("doc_id"), typedLit(Seq.empty[String]).as("sh"))
    // two genuine near-dups (jaccard 8/9 — band collision essentially
    // certain under the fixed seed) + an isolated doc, all on the cold path
    val base = (0 until 8).map(i => s"w$i w${i + 1}")
    val normal = Seq(
      (20000L, base),
      (20001L, base :+ "extra shingle"),
      (20002L, Seq("p q", "q r", "r s"))).toDF("doc_id", "sh")
    val corpus = identical.unionByName(empty).unionByName(normal)
    val pairs = PipelineOps.minhashLshJoin(corpus, threshold = 0.3,
      maxBucket = 64).cache()
    try {
      val n = pairs.count()
      // star candidates: 9999 identical-doc pairs + the one normal pair;
      // empty docs verify to NaN jaccard and vanish. The uncapped join
      // would have emitted ~5*10^7 rows here.
      assert(n <= 10001L, s"hot-bucket cap failed to bound candidates: $n")
      // every identical doc is still reachable from the bucket min -> ONE
      // cluster under connected components (the dedup consumers' view)
      val comp = PipelineOps.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")),
        identical.select(col("doc_id")))
      assert(comp.select(col("cluster_rep")).distinct().count() === 1L,
        "capped pairs must keep the identical docs in one component")
      // cold path unaffected: the genuine near-dup pair survives
      assert(pairs.filter(col("doc_a") === 20000L && col("doc_b") === 20001L)
        .count() === 1L)
      // empty docs emit nothing
      assert(pairs.filter(col("doc_a") >= 10000L && col("doc_a") < 11000L)
        .count() === 0L)
    } finally { pairs.unpersist(); () }
    // dormant below the cap: on the real corpus the capped plan and an
    // effectively-uncapped plan produce the SAME pairs
    val sh = PipelineOps.docs(spark, sfDir)
      .select(col("doc_id"), graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val capped = key(PipelineOps.minhashLshJoin(sh, 0.3))
    val uncapped = key(PipelineOps.minhashLshJoin(sh, 0.3,
      maxBucket = Int.MaxValue))
    assert(capped.nonEmpty && capped == uncapped,
      "default cap must not change results on a normal corpus")
  }

  test("incremental LSH hot-bucket cap bounds the cross-set product") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("mhhot").toString + "/idx"
    // 5000 identical docs in the index, 5000 identical incoming — the
    // uncapped cross join would emit 2.5*10^7 candidates from one bucket
    val indexed = spark.range(0, 10000, 2)
      .select(col("id").as("doc_id"), typedLit(Seq("a b", "b c", "c d")).as("sh"))
    val incoming = spark.range(1, 10000, 2)
      .select(col("id").as("doc_id"), typedLit(Seq("a b", "b c", "c d")).as("sh"))
    PipelineOps.minhashIndexSave(indexed, idxDir)
    val pairs = PipelineOps.minhashDedupIncremental(incoming, idxDir, 0.3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // star form: every incoming doc pairs with the bucket-min indexed doc
    assert(got.length === 5000, s"expected 5000 star pairs, got ${got.length}")
    assert(got.forall(_._1 == 0L), "star pairs must anchor at the min indexed doc")
    assert(got.map(_._2).sorted.toSeq == (1L until 10000L by 2).toSeq,
      "every incoming doc must appear in exactly one star pair")
    // probing an index that already holds the incoming docs emits no
    // jaccard-1.0 self-pairs (the doc_a =!= doc_b guard): without it the
    // bucket-min doc 0 would star to itself
    val selfPairs = PipelineOps.minhashDedupIncremental(indexed, idxDir, 0.3)
      .filter(col("doc_a") === col("doc_b")).count()
    assert(selfPairs === 0L, "self-pairs leaked through the incremental probe")
  }

  test("incremental minhash == full join restricted to cross-set pairs") {
    import org.apache.spark.sql.functions.col
    val all = PipelineOps.docs(spark, sfDir)
      .select(col("doc_id"), graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
    // full-corpus join, then keep pairs with one even (index) and one odd
    // (incoming) id, normalized to (even, odd) like the incremental output
    val full = PipelineOps.minhashLshJoin(all, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 2) != (b % 2) }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
      .sortBy(t => (t._1, t._2))
    val incr = PipelineOps.dfQueries("dedup_minhash_incr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(incr.nonEmpty, "fixture should contain cross-set near-dups")
    assert(incr.toSeq == full.toSeq,
      "batch-at-a-time must be indistinguishable from the full join")
  }

  test("contamination score covers all train docs and agrees with the boolean gate") {
    val score = q("doc_contamination_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val gate = q("doc_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val train = PipelineOps.docs(spark, sfDir)
      .filter(col("source") =!= "src0").count()
    assert(score.length == train, "every train doc gets a score row")
    score.foreach { case (id, nSh, nHits, c) =>
      assert(nSh > 0 && nHits >= 0 && nHits <= nSh)
      assert(c == nHits.toDouble / nSh.toDouble)
      // the boolean gate lists exactly the docs with a nonzero score
      assert(gate.get(id).map(_ == nHits).getOrElse(nHits == 0L), s"doc $id")
    }
    assert(score.exists(_._3 > 0) && score.exists(_._3 == 0),
      "fixture should exercise both contaminated and clean docs")
  }

  test("Bloom prefilter passes every true hit and drops most clean postings") {
    import spark.implicits._
    val probes = Seq("alpha beta", "gamma delta").toDF("shingle")
    val bf = probes.stat.bloomFilter("shingle", 2, 0.01)
    val postings = (0 until 2000).map(i => (i.toLong, s"noise gram $i")) ++
      Seq((9001L, "alpha beta"), (9002L, "gamma delta"))
    val pre = postings.toDF("doc_id", "shingle")
      .filter(graft.functions.TextFunctions.bloomMightContain(col("shingle"), bf))
      .collect().map(_.getLong(0)).toSet
    assert(Set(9001L, 9002L).subsetOf(pre), "no false negatives, ever")
    // 2000 clean postings at fpp=0.01: expect ~20 false positives; a 5x
    // margin keeps the assertion deterministic-in-practice
    assert(pre.size <= 2 + 100, s"prefilter kept ${pre.size} rows")
  }

  test("connectedComponents fails loudly when the iteration bound is too small") {
    import spark.implicits._
    // a 5-node path needs ~4 rounds; bound of 1 must raise, not mislabel
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.connectedComponents(edges, nodes, maxIter = 1)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("incremental window dedup == batch dedup restricted to the new docs") {
    val all = PipelineOps.docs(spark, sfDir)
    val idx = java.nio.file.Files.createTempDirectory("winidx").resolve("i").toString
    PipelineOps.windowIndexSave(all.filter(col("doc_id") % 2 === 0), k = 8, idx)
    val incr = PipelineOps.windowDedupIncremental(
        all.filter(col("doc_id") % 2 === 1), idx, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
    val batch = PipelineOps.windowDedup(all, k = 8)
      .filter(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
    assert(incr.toSeq == batch.toSeq)
    assert(incr.exists(_._4), "fixture should contain cross-batch dups")
  }

  test("lmScore: OOV and reference-mass arithmetic on a hand-computed corpus") {
    import spark.implicits._
    val d = Seq(
      (0L, Seq("a b", "b c")),   // the reference doc
      (1L, Seq("a b", "x y")),   // one known, one OOV bigram
      (2L, Seq("q r"))           // fully OOV
    ).toDF("doc_id", "g")
    val out = PipelineOps.lmScore(d, d.filter(col("doc_id") === 0)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out(0L) == ((2L, 0L, 0.0, 2L, 1.0)))
    assert(out(1L) == ((2L, 1L, 0.5, 1L, 0.5)))
    assert(out(2L) == ((1L, 1L, 1.0, 0L, 0.0)))
  }

  test("doc_lm_score: reference docs are never fully OOV") {
    val rows = q("doc_lm_score").collect()
    assert(rows.nonEmpty)
    // a reference doc's own bigrams are in the counts, so oov_rate < 1
    rows.filter(_.getLong(0) % 10 == 0).foreach { r =>
      assert(r.getDouble(3) < 1.0 && r.getLong(4) > 0)
    }
  }

  test("doc_shuffle: shard positions are contiguous 1..n, order is deterministic") {
    val a = q("doc_shuffle").collect()
    val b = q("doc_shuffle").collect()
    assert(a.toSeq == b.toSeq, "shuffle must be run-to-run deterministic")
    val byShard = a.groupBy(_.getLong(2))
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length).toSeq)
      // within a shard, position order == sort_key order
      val sorted = rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getLong(0)))
      assert(sorted.toSeq == sorted.sortBy(identity).toSeq)
    }
    assert(a.map(_.getLong(0)).distinct.length == a.length, "every doc exactly once")
  }

  test("emb_decontaminate: probes hit themselves zero times; flags match counts") {
    val out = q("emb_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == PipelineOps.embs(spark, sfDir).count())
    out.foreach { case (_, n, flag) => assert(flag == (n > 0)) }
    assert(out.exists(_._3) && out.exists(!_._3),
      "threshold should split the fixture corpus")
  }

  test("mixtureSample: rate 1.0 keeps every row, per-source rates differ") {
    import spark.implicits._
    val h = graft.functions.TextFunctions.fnvMix64(
      concat(lit("mix-42-"), col("doc_id").cast("string")))
    val docs = PipelineOps.docs(spark, sfDir).withColumn("h", h)
    val all = PipelineOps.mixtureSample(docs, Map.empty, defaultRate = 1.0,
      sourceCol = "source", hashCol = "h")
    assert(all.count() == docs.count(), "rate 1.0 must keep everything")
    val mixed = PipelineOps.mixtureSample(docs,
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5,
      sourceCol = "source", hashCol = "h")
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == totals("src0"), "rate-1.0 source keeps all rows")
    assert(!bySrc.contains("src1"), "rate-0.0 source drops all rows")
    // default-rate sources keep a strict, nonempty subset
    val others = totals.keySet -- Set("src0", "src1")
    val keptOther = others.toSeq.map(s => bySrc.getOrElse(s, 0L)).sum
    val totalOther = others.toSeq.map(totals).sum
    assert(keptOther > 0 && keptOther < totalOther)
  }

  test("unpersistCheckpointed frees localCheckpoint RDD blocks (memo eviction)") {
    // Dataset.unpersist is a CacheManager call and is a NO-OP for
    // localCheckpoint blocks (they are RDD-level persisted) — the memo
    // caches' eviction must free the underlying RDD directly (round-9
    // advice). Pin both halves: the no-op and the working release.
    import spark.implicits._
    val df = (1 to 100).toDF("x").localCheckpoint()
    val rddIds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(rddIds.nonEmpty, "localCheckpoint plan should be a LogicalRDD")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddIds.forall(persisted.contains))
    df.unpersist() // the former eviction call: provably does nothing here
    assert(rddIds.forall(persisted.contains), "Dataset.unpersist freed RDD blocks?!")
    PipelineOps.unpersistCheckpointed(df)
    // eventually-consistent: suites share one SparkSession and run in
    // parallel; unpersist's map/block removal can lag under concurrent
    // persist traffic from sibling suites (observed flake in the full run,
    // deterministic standalone). The CONTRACT pinned is removal, not latency.
    val deadline = System.nanoTime() + 10_000_000_000L
    while (rddIds.exists(persisted.contains) && System.nanoTime() < deadline) {
      Thread.sleep(50)
      // re-issue: the call swallows transient RPC failures by design (best-
      // effort eviction), so one retry loop makes the test deterministic
      PipelineOps.unpersistCheckpointed(df)
    }
    assert(rddIds.forall(id => !persisted.contains(id)),
      "checkpoint blocks must be gone after unpersistCheckpointed")
  }
}
