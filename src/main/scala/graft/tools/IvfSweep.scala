package graft.tools

import graft.GraftSession
import graft.ops.Similarity

/** IVF recall/cost sweep at deployment-scale parameters: trains a
  * codebook of the given size and probes each nprobe width, printing
  * one JSON line per point with recall@3 vs the exact brute-force
  * baseline and wall-clock seconds. QueryBench covers the pinned
  * catalog query (k=16); this covers the knobs a 100 TB corpus would
  * actually turn (k ≈ √N, nprobe traded against recall).
  *
  * Usage: IvfSweep [k=64] [iters=2] [nprobes=1,2,4,8]
  *   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 64
    val iters = if (args.length > 1) args(1).toInt else 2
    val nprobes = if (args.length > 2) args(2).split(",").toSeq.map(_.toInt) else Seq(1, 2, 4, 8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    val bf = Similarity.bruteForceTopK(spark, sfDir).filter("rank <= 3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sharedState.cacheManager.clearCache()
    nprobes.foreach { np =>
      val t0 = System.nanoTime()
      val got = Similarity.ivfWithParams(spark, sfDir, k, iters, np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      val recall = (got & bf).size.toDouble / bf.size
      println(f"""{"k":$k,"iters":$iters,"nprobe":$np,"recall_at_3":$recall%.4f,"sec":$dt%.2f,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
