package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** IVF-flat ANN: structure, determinism, and agreement with brute force on
  * the candidate cells it actually searched. */
class AnnIvfSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val sfDir = "/root/testdata/sf0.001"

  private def embs = graft.Tables.t(spark, sfDir, "embeddings")

  private lazy val ivf = PipelineOps.annIvf(embs, k = 16, nprobe = 4, topK = 10)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

  private lazy val brute = PipelineOps.dfQueries("ann_cosine_topk")(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("five probes, ranks dense from 1, cosines non-increasing per probe") {
    assert(ivf.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq)
      assert(rows.length <= 10)
    }
  }

  test("cosines agree bit-exactly with brute force for the same pairs") {
    val bruteAll = brute.map(t => (t._1, t._2) -> t._3).toMap
    // brute force only keeps top-10, so compare where the pair appears there
    val overlap = ivf.filter(t => bruteAll.contains((t._1, t._2)))
    assert(overlap.nonEmpty)
    overlap.foreach { case (q, v, c, _) => assert(bruteAll((q, v)) === c) }
  }

  test("recall against brute-force top-10 is non-degenerate") {
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val hit = ivf.count(t => bruteSet.contains((t._1, t._2)))
    val recall = hit.toDouble / bruteSet.size
    assert(recall >= 0.2, s"recall $recall too low — IVF candidates degenerate")
  }

  test("fixed seed makes the result deterministic across runs") {
    val again = PipelineOps.annIvf(embs, k = 16, nprobe = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.toSet === ivf.toSet)
  }

  test("seed centroids are deterministic, k x dim, drawn from the corpus") {
    val seeds = PipelineOps.ivfSeedCentroids(embs, 16)
    assert(seeds.length === 16)
    assert(seeds.forall(_.length === 64))
    val again = PipelineOps.ivfSeedCentroids(embs, 16)
    assert(seeds.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("ivfAssign picks each vector's true nearest centroid, deterministically") {
    val cents = PipelineOps.ivfSeedCentroids(embs, 8).toIndexedSeq
    val assigned = PipelineOps.ivfAssign(embs, cents)
      .select("vec_id", "embedding", "cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    assert(assigned.forall { case (_, _, c) => c >= 0 && c < 8 })
    // verify argmin against an independent distance computation
    assigned.take(100).foreach { case (_, v, cell) =>
      val dists = cents.map(c => v.zip(c).map { case (x, y) =>
        (x.toDouble - y) * (x.toDouble - y) }.sum)
      assert(dists(cell) === dists.min)
    }
    val again = PipelineOps.ivfAssign(embs, cents)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again === assigned.map(t => (t._1, t._3)).toSet)
  }
}
