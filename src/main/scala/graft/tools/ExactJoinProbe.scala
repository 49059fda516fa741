package graft.tools

import graft.{GraftSession, Tables}
import graft.ops.Dedup
import graft.CacheScope._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Verify-stage formulation shootout for the exact joins (round-14
  * ask #1). Three shapes per operator:
  *
  *  - AGG (the round-13 library shape): verify arrays re-COLLECTED
  *    from the exploded token stream — a full corpus-token exchange;
  *  - AGG+PRUNE (the round-14 verdict's proposal): the same aggregate,
  *    left_semi-pruned to candidate doc ids first — saves aggregate
  *    input but pays candidate-pair materialization + extra exchanges;
  *  - library (MAP, the round-14 shape): `sort_array` of the
  *    pre-explode shingles column — the arrays never needed to move;
  *    the aggregate was re-assembling exactly what explode tore apart.
  *
  * Measured (localdata/sf10, 100×, min of 2, quiet box): containment
  * gate AGG 16.2 / AGG+PRUNE 16.9 / MAP 10.1 s; containment bench=200
  * AGG 10.0 / AGG+PRUNE 12.0 / MAP 6.6 s; prefix gate AGG 27-38 /
  * AGG+PRUNE 46-59 / MAP 28.7 s (gate shapes on ScaleUp fixtures are
  * dup-saturated — every doc is a candidate — so pruning saves nothing
  * there BY CONSTRUCTION; it also lost at realistic density, which is
  * why MAP shipped and PRUNE did not).
  *
  * Usage: ExactJoinProbe <sfDir> [iters=3] [benchRows=200]
  *   (env: SPARK_GRAFT_CPUS)
  */
object ExactJoinProbe {

  /** The round-13 aggregate verify for the prefix join, optionally
    * semi-join-pruned — kept here verbatim so the comparison stays
    * reproducible against the shipped map-side shape. */
  private def prefixJoinAgg(docs: DataFrame, tauMilli: Long,
      prune: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = Dedup.withShingles(docs.select($"doc_id", $"text"), "sh")
      .select($"doc_id", explode($"sh").as("s")).persistScoped()
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"s")
    val pref = sh.join(dfreq, Seq("s")).join(sz, Seq("doc_id"))
      .withColumn("rn", row_number().over(wDoc))
      .filter($"rn" <= expr(s"n - ((n * $tauMilli + 999) div 1000) + 1"))
      .select($"doc_id", $"s", $"n", $"rn")
      .persistScoped()
    val cand0 = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          lit(1000L) * least(col("a.n"), col("b.n")) >=
            lit(tauMilli) * greatest(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(struct(col("a.rn").as("ia"), col("b.rn").as("ib"))).as("fst"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .filter((lit(1000L) + lit(tauMilli)) *
          (lit(1L) + least($"na" - $"fst.ia", $"nb" - $"fst.ib")) >=
        lit(tauMilli) * ($"na" + $"nb"))
      .select($"doc_a", $"doc_b")
    val cand = if (prune) cand0.persistScoped() else cand0
    val candIds = cand.select($"doc_a".as("doc_id"))
      .union(cand.select($"doc_b".as("doc_id"))).distinct()
    val shP = if (prune) sh.join(candIds, Seq("doc_id"), "left_semi") else sh
    val sets = shP.groupBy($"doc_id")
      .agg(sort_array(collect_list($"s")).as("ss"), count(lit(1)).as("n"))
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa"), $"n".as("na")), Seq("doc_a"))
      .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb"), $"n".as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("uni", $"na" + $"nb" - $"inter")
      .filter(lit(1000L) * $"inter" >= lit(tauMilli) * $"uni")
      .select($"doc_a", $"doc_b", $"inter", $"uni",
        expr("(1000 * inter) div uni").as("jacc_milli"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The round-13 aggregate verify for containment, optionally
    * semi-join-pruned. */
  private def containmentAgg(corpus: DataFrame, bench: DataFrame,
      tauMilli: Long, prune: Boolean): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val ca = Dedup.withShingles(corpus.select($"doc_id", $"text"), "sh")
      .select($"doc_id", explode($"sh").as("s")).persistScoped()
    val cb = Dedup.withShingles(bench.select($"doc_id", $"text"), "sh")
      .select($"doc_id".as("bench_id"), explode($"sh").as("s")).persistScoped()
    val dfreq = ca.groupBy($"s").agg(count(lit(1)).as("df"))
    val bn = cb.groupBy($"bench_id").agg(count(lit(1)).as("bn"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy($"bench_id").orderBy($"df", $"s")
    val bpref = cb.join(dfreq, Seq("s"), "left")
      .withColumn("df", coalesce($"df", lit(0L)))
      .join(bn, Seq("bench_id"))
      .withColumn("rn", row_number().over(wB))
      .filter($"rn" <= expr(s"bn - ((bn * $tauMilli + 999) div 1000) + 1"))
      .select($"bench_id", $"s", $"bn")
    val cand0 = bpref.join(ca, Seq("s"))
      .select($"doc_id", $"bench_id", $"bn").distinct()
    val cand = if (prune) cand0.persistScoped() else cand0
    val caP = if (prune)
      ca.join(cand.select($"doc_id").distinct(), Seq("doc_id"), "left_semi")
    else ca
    val aSets = caP.groupBy($"doc_id")
      .agg(sort_array(collect_list($"s")).as("sa"))
    val bSets = cb.groupBy($"bench_id")
      .agg(sort_array(collect_list($"s")).as("sb"))
    cand
      .join(aSets, Seq("doc_id"))
      .join(bSets, Seq("bench_id"))
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
      .filter(lit(1000L) * $"inter" >= lit(tauMilli) * $"bn")
      .select($"doc_id", $"bench_id", $"inter", $"bn",
        expr("(1000 * inter) div bn").as("containment_milli"))
      .orderBy($"doc_id", $"bench_id")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 3
    val benchRows = if (args.length > 2) args(2).toInt else 200
    val spark = GraftSession.local()
    import spark.implicits._

    val docs = Tables.t(spark, sfDir, "documents")
    def time(label: String)(mk: => DataFrame): Unit = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        graft.CacheScope.drain()
        dt
      }
      println(f"$label%-42s min ${ts.min}%6.2f  median ${ts.sorted.apply(iters / 2)}%6.2f")
    }

    val gateBench = docs.filter($"doc_id" % 50 === 0)
    // localized to the driver once so the per-iteration clearCache
    // can't evict it and every variant pays the identical bench cost
    val smallBench = spark.createDataFrame(
      docs.orderBy($"doc_id").limit(benchRows)
        .select($"doc_id", $"text").collect().toSeq.asJava,
      docs.select($"doc_id", $"text").schema)

    time("prefix_join  gate   MAP (library)")(Dedup.prefixJoinOn(docs, 700L))
    time("prefix_join  gate   AGG")(prefixJoinAgg(docs, 700L, prune = false))
    time("prefix_join  gate   AGG+PRUNE")(prefixJoinAgg(docs, 700L, prune = true))
    time("containment  gate   MAP (library)")(
      Dedup.containmentPairsOn(docs, gateBench, 800L))
    time("containment  gate   AGG")(
      containmentAgg(docs, gateBench, 800L, prune = false))
    time("containment  gate   AGG+PRUNE")(
      containmentAgg(docs, gateBench, 800L, prune = true))
    time(s"containment  bench=$benchRows MAP (library)")(
      Dedup.containmentPairsOn(docs, smallBench, 800L))
    time(s"containment  bench=$benchRows AGG")(
      containmentAgg(docs, smallBench, 800L, prune = false))
    time(s"containment  bench=$benchRows AGG+PRUNE")(
      containmentAgg(docs, smallBench, 800L, prune = true))
    spark.stop()
  }
}
