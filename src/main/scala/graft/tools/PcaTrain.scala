package graft.tools

import graft.queries.PipelineOps

/** Offline PCA training CLI — the train half of the train/serve split
  * for the served `emb_pca` projection: compute the
  * exact-decimal Gram matrix of a reference corpus, extract the top-k
  * Jacobi eigenbasis on the driver (dim x dim — a few KB at any corpus
  * size), and emit it as source-embeddable literals. The checked-in
  * [[graft.queries.PcaRefBasis]] artifact is this program's output on
  * /root/testdata/sf0.001 (k=8, dim=64); `PcaArtifactSpec` re-derives it
  * from that corpus and asserts exact equality, so the artifact's
  * provenance is machine-checked.
  *
  * Usage: runMain graft.tools.PcaTrain <sfDir> [k]
  */
object PcaTrain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = if (args.length > 1) args(1).toInt else 8
    val spark = graft.GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val gram = PipelineOps.gramMatrix(
      graft.Tables.t(spark, sfDir, "embeddings"), dim = 64)
    val (basis, eig) = PipelineOps.pcaEigen(gram, dim = 64, k = k)
    // shortest-repr doubles: Double.toString round-trips exactly in both
    // Scala source and DuckDB SQL literals, so embedding these strings on
    // both sides reproduces bit-identical weights
    basis.zipWithIndex.foreach { case (v, i) =>
      println(s"COMPONENT $i: " + v.map(_.toString).mkString(","))
    }
    println("EIGENVALUES: " + eig.map(_.toString).mkString(","))
    spark.stop()
  }
}
