package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.functions.TextFunctions.shingles

/** Adaptive similarity-join planner: plan selection from measured posting
  * stats; the two exact plans return identical results; LSH is the
  * over-budget fallback. */
class SimilarityPlannerSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val sfDir = "/root/testdata/sf0.001"

  private def collectPairs(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** Dense: the real documents corpus (916 shingles shared by 500 docs). */
  private lazy val dense = graft.Tables.t(spark, sfDir, "documents")
    .select(col("doc_id"), shingles(col("text"), 2).as("sh"))

  /** Sparse: 200 docs with almost entirely unique shingles — a mildly-shared
    * token on every 10th doc can't reach jaccard 0.5 — plus 3 near/exact
    * duplicate pairs that must survive every plan. */
  private lazy val sparse = {
    import spark.implicits._
    val docs = (0L until 200L).map { i =>
      val base = (0 until 20).map(j => s"tok-${i}-$j")
      // doc 2k+1 duplicates doc 2k for k < 3 -> three high-jaccard pairs
      val sh = if (i % 2 == 1 && i < 6) (0 until 20).map(j => s"tok-${i - 1}-$j") else base
      (i, if (i % 10 == 0) sh :+ "shared-common" else sh)
    }
    docs.toDF("doc_id", "sh")
  }

  test("dense corpus within budget -> exact count-join plan") {
    val (plan, df) = PipelineOps.similarityJoinPlan(dense, threshold = 0.25)
    assert(plan === "exact")
    assert(collectPairs(df) ===
      collectPairs(PipelineOps.ngramJaccardJoin(dense, 0.25, maxCandidatePairs = None)))
  }

  test("sparse corpus -> prefix plan, result identical to the exact join") {
    val (plan, df) = PipelineOps.similarityJoinPlan(sparse, threshold = 0.5)
    assert(plan === "prefix")
    val got = collectPairs(df)
    assert(got === collectPairs(
      PipelineOps.ngramJaccardJoin(sparse, 0.5, maxCandidatePairs = None)))
    assert(got.map(p => (p._1, p._2)) === Seq((0L, 1L), (2L, 3L), (4L, 5L)))
    assert(got.forall(_._3 >= 0.5))
  }

  test("prefix join equals the count-join on the dense corpus too") {
    val prefix = PipelineOps.verifyPairs(dense,
      PipelineOps.pairCandidates(PipelineOps.prefixIndex(dense, 0.25)), 0.25)
    assert(collectPairs(prefix) ===
      collectPairs(PipelineOps.ngramJaccardJoin(dense, 0.25, maxCandidatePairs = None)))
  }

  test("dense over budget but bitset-eligible -> still exact") {
    val (plan, df) = PipelineOps.similarityJoinPlan(dense, threshold = 0.25,
      maxCandidatePairs = 10.0)
    assert(plan === "exact")
    assert(collectPairs(df) ===
      collectPairs(PipelineOps.ngramJaccardJoin(dense, 0.25, maxCandidatePairs = None)))
  }

  test("over budget beyond bitset eligibility -> minhash-lsh, subset of exact") {
    // maxDocs=0 simulates the >100k-doc regime where bitsets no longer apply
    val (plan, df) = PipelineOps.similarityJoinPlan(dense, threshold = 0.25,
      maxCandidatePairs = 10.0, bitsetBounds = PipelineOps.BitsetBounds(maxDocs = 0))
    assert(plan === "minhash-lsh")
    val exact = collectPairs(
      PipelineOps.ngramJaccardJoin(dense, 0.25, maxCandidatePairs = None))
      .map(p => (p._1, p._2) -> p._3).toMap
    val approx = collectPairs(df)
    assert(approx.nonEmpty)
    approx.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)), s"LSH pair ($a,$b) not in exact result")
      assert(exact((a, b)) === j)
    }
  }

  test("bitset and posting Jaccard plans return identical results") {
    for ((corpus, t) <- Seq((dense, 0.25), (sparse, 0.5))) {
      val inv = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val counts = corpus.select(col("doc_id"), size(col("sh")).as("n_sh"))
      val nSh = inv.select("shingle").distinct().count().toInt
      val bits = collectPairs(PipelineOps.bitsetJaccard(inv, t, nSh))
      val post = collectPairs(PipelineOps.postingJaccard(inv, counts, t))
      assert(bits === post)
    }
  }

  test("bitset and posting containment plans return identical results") {
    for ((corpus, t) <- Seq((dense, 0.8), (sparse, 0.9), (dense, 0.5))) {
      val inv = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val counts = corpus.select(col("doc_id"), size(col("sh")).as("n_sh"))
      val nSh = inv.select("shingle").distinct().count().toInt
      val bits = collectPairs(PipelineOps.bitsetContainment(inv, t, nSh))
      val post = collectPairs(PipelineOps.postingContainment(inv, counts, t))
      assert(bits === post)
      // asymmetry sanity: every sparse duplicate pair emits BOTH directions
      // (equal sizes -> equal containment both ways)
      if (corpus eq sparse) {
        val set = bits.map(p => (p._1, p._2)).toSet
        set.foreach { case (a, b) => assert(set.contains((b, a))) }
        assert(bits.nonEmpty)
      }
    }
  }

  /** The dense corpus replicated k× with offset doc_ids — a scaled-up
    * corpus with the SAME vocabulary and density, no new testdata. */
  private def corpusAt(k: Int): DataFrame =
    dense.select(col("doc_id"), col("sh"),
        explode(array((0 until k).map(lit): _*)).as("rep"))
      .select((col("doc_id") + col("rep").cast("long") * 1000000L).as("doc_id"),
        col("sh"))

  test("DEFAULT guards flip the plan from measured stats alone as the corpus scales") {
    // 1x: 500 docs, ~916 shingles -> bitset-eligible, candidate pairs in
    // budget -> exact. 250x: 125k docs -> nDocs > BitsetBounds.maxDocs
    // (100k) AND candidate pairs beyond maxCandidatePairs (replication
    // squares every posting's df), so with NO knob overrides the planner
    // must walk down to the LSH path. Plan selection costs one stats
    // aggregate; the returned frame is not executed here.
    val (small, _) = PipelineOps.similarityJoinPlan(corpusAt(1), threshold = 0.25)
    assert(small === "exact")
    val (big, _) = PipelineOps.similarityJoinPlan(corpusAt(250), threshold = 0.25)
    assert(big === "minhash-lsh",
      "125k-doc corpus must flip past bitset AND posting budgets at default bounds")
  }

  test("the flipped LSH plan agrees with the guard-off exact join on a verifiable slice") {
    // 4x (2000 docs) keeps the exact join tractable while every doc has 3
    // exact replicas. Contract across the flip: every LSH pair is an exact
    // pair with the identical jaccard (no false positives — LSH verifies
    // candidates exactly), and every jaccard-1.0 replica pair is present
    // (identical signatures share every band, so duplicates cannot be
    // missed).
    val four = corpusAt(4)
    val lsh = collectPairs(PipelineOps.minhashLshJoin(four, threshold = 0.25))
    val exact = collectPairs(
        PipelineOps.ngramJaccardJoin(four, 0.25, maxCandidatePairs = None))
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)), s"LSH pair ($a,$b) not in exact result")
      assert(exact((a, b)) === j)
    }
    val lshSet = lsh.map(p => (p._1, p._2)).toSet
    val dupPairs = exact.collect { case (pair, j) if j == 1.0 => pair }
    assert(dupPairs.nonEmpty)
    dupPairs.foreach { pair =>
      assert(lshSet.contains(pair), s"exact-duplicate pair $pair missed by LSH")
    }
  }

  test("prefix index keeps |x| - ceil(t|x|) + 1 rarest tokens per doc") {
    import spark.implicits._
    val d = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b", "x", "y"))).toDF("doc_id", "sh")
    val px = PipelineOps.prefixIndex(d, 0.5)
    val perDoc = px.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=4, t=0.5 -> p = 4 - 2 + 1 = 3
    assert(perDoc === Map(1L -> 3L, 2L -> 3L))
  }
}
