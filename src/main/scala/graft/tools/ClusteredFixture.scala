package graft.tools

import graft.GraftSession

/** Mixture-of-Gaussians embedding fixture — the CLUSTERED complement
  * to the driver's near-random `embeddings` table, for measuring the
  * IVF-PQ operating envelope on a corpus with real-corpus structure.
  *
  * The driver fixture's vectors are i.i.d. — in 64 dims every vector
  * is nearly equidistant from every other, the hardest possible case
  * for any inverted-file index (neighbors are spread across MANY
  * lists, so small nprobe caps recall; the PLANS.md r9 envelope
  * measures exactly that). Real embedding corpora are the opposite:
  * text/image embeddings concentrate into clusters (topics, templates,
  * near-duplicates), so a trained coarse quantizer maps each cluster
  * to few lists and a 1–5 % probe fraction captures most true
  * neighbors. This tool makes that claim MEASURABLE instead of argued:
  *
  *  - `nClusters` centers drawn i.i.d. N(0, 1) per dim — expected
  *    center-to-center L2 ≈ √(2·dim) ≈ 11 at dim 64;
  *  - members = center + N(0, σ_within) per dim — within-cluster
  *    distance ≈ σ·√(2·dim) ≈ 0.57 at the default σ 0.05, a 20×
  *    separation (σ_within ≪ σ_between as real corpora show);
  *  - same schema as the driver table (vec_id long, embedding
  *    list<float>, label int = cluster id), same vec_id density, so
  *    `PqRecall` / `Similarity.*` run on it unchanged via
  *    SPARK_GRAFT_SF_DIR pointing at the output dir;
  *  - fully deterministic: one fixed-seed java.util.Random drives
  *    centers then members in a single sequential stream, so every run
  *    bit-reproduces the same parquet values.
  *
  * Generation is driver-side (N·dim floats — 2 000·64 at gate scale,
  * kilobytes-to-megabytes for any measurement size) then parallelized;
  * this is a measurement fixture, not a data path.
  *
  * Usage: ClusteredFixture <outDir> [nVectors=2000] [nClusters=64] [dim=64] [sigma=0.05]
  */
object ClusteredFixture {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val n = if (args.length > 1) args(1).toInt else 2000
    val k = if (args.length > 2) args(2).toInt else 64
    val dim = if (args.length > 3) args(3).toInt else 64
    val sigma = if (args.length > 4) args(4).toDouble else 0.05
    val spark = GraftSession.local()
    import spark.implicits._

    val rng = new java.util.Random(20260814L)
    val centers = Array.fill(k, dim)(rng.nextGaussian().toFloat)
    val rows = (0 until n).map { i =>
      val c = i % k // round-robin: every cluster gets ~n/k members
      val v = Array.tabulate(dim)(d =>
        centers(c)(d) + (rng.nextGaussian() * sigma).toFloat)
      (i.toLong, v.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) AS embedding",
        "cast(label as int) AS label")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[clustered] wrote $n vectors, $k clusters, dim $dim, sigma $sigma -> $out")
    spark.stop()
  }
}
