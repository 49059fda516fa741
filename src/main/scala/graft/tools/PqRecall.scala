package graft.tools

import graft.GraftSession
import graft.ops.Similarity

/** PQ-ADC recall vs the exact brute-force baseline — the measurement
  * the catalog row (`q_sim_pq`, differential vs DuckDB) deliberately
  * does not make: the gate pins the ARITHMETIC, this records the
  * QUALITY. Two recalls are printed per run, separating PQ's two loss
  * sources so a regression is attributable:
  *
  *  - `recall_vs_bucket`: ADC top-3 vs exact-rescore top-3 over the
  *    SAME sign-bucket candidates — pure quantization loss (what
  *    PqSpec lower-bounds at 0.5).
  *  - `recall_vs_bf`: ADC top-3 vs global brute-force top-3 — adds the
  *    candidate-generation loss of the sign-bucket blocking (shared
  *    with the LSH/IVF family, IvfSweep's curve).
  *
  * Usage: PqRecall  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    import org.apache.spark.sql.functions.col

    // pqAdc queries every vec_id % 50 == 0; align all baselines to it
    // both baselines already query vec_id % 50 == 0 — same query set
    val bf = Similarity.bruteForceTopK(spark, sfDir)
      .filter("rank <= 3")
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sharedState.cacheManager.clearCache(); graft.CacheScope.drain()

    val bucketExact = Similarity.lshBucketed(spark, sfDir)
      .filter("rank <= 3")
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sharedState.cacheManager.clearCache(); graft.CacheScope.drain()

    val t0 = System.nanoTime()
    val pq = Similarity.pqAdc(spark, sfDir)
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache(); graft.CacheScope.drain()

    val vsBf = (pq & bf).size.toDouble / math.max(1, bf.size)
    val vsBucket = (pq & bucketExact).size.toDouble / math.max(1, bucketExact.size)
    // the ceiling PQ cannot exceed: how much of the global top-3 the
    // sign-bucket candidate set contains at all (blocking loss alone)
    val ceiling = (bucketExact & bf).size.toDouble / math.max(1, bf.size)
    println(f"""{"tool":"pq_recall","recall_vs_bf":$vsBf%.4f,"recall_vs_bucket":$vsBucket%.4f,"bucket_ceiling_vs_bf":$ceiling%.4f,"queries":${pq.map(_._1).size},"adc_sec":$dt%.2f,"sf":"$sfDir"}""")

    // the composition the decomposition motivates: trained-IVF
    // candidate generation + residual-PQ ADC shortlist + exact
    // rescore, swept over the (k, nprobe) operating grid. The shipped
    // catalog constants are one of these points; the full table is the
    // PLANS.md "IVF-PQ operating envelope".
    val points: Seq[(Int, Int, Int)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(k, np, r) = a.split(":").map(_.toInt); (k, np, r)
      }
      else Seq(
        // the r8 constants, for the before/after row
        (Similarity.ivfK, Similarity.ivfNprobe, Similarity.ivfPqShortlist),
        (64, 8, 24), (64, 16, 24), (128, 16, 24), (128, 24, 24),
        (128, 24, 48), (128, 32, 48), (128, 32, 64))
    points.foreach { case (k, np, r) =>
      val t1 = System.nanoTime()
      val ivfpq = Similarity
        .ivfPqWithParams(spark, sfDir, k, Similarity.ivfIters, np, r)
        .select(col("qid"), col("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt1 = (System.nanoTime() - t1) / 1e9
      spark.sharedState.cacheManager.clearCache(); graft.CacheScope.drain()
      val ivfpqVsBf = (ivfpq & bf).size.toDouble / math.max(1, bf.size)
      val frac = np.toDouble / k
      println(f"""{"tool":"ivfpq_recall","k":$k,"nprobe":$np,"probe_frac":$frac%.4f,"shortlist":$r,"recall_vs_bf":$ivfpqVsBf%.4f,"queries":${ivfpq.map(_._1).size},"sec":$dt1%.2f,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
