package graft.tools

import graft.{CacheScope, Catalog, GraftSession}

/** Single-query repeated timing (variance-aware companion to
  * graft.Bench): runs one catalog query N times in one JVM, printing
  * per-iteration seconds plus min/median — the number to trust when
  * comparing formulations on a noisy box, where consecutive whole-bench
  * runs can swing ±2×.
  *
  * Usage: QueryBench <query> [iters=5]  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val fn = Catalog.byName(name).fn
    val times = (1 to iters).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      CacheScope.drain()
      println(f"[$i] $dt%.2f s")
      dt
    }
    val sorted = times.sorted
    println(f"min ${sorted.head}%.2f  median ${sorted(iters / 2)}%.2f  ($name, $sfDir)")
    spark.stop()
  }
}
