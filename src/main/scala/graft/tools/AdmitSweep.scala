package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index-growth sweep for the exact-dedup admission index
  * (`graft.ops.Dedup.admitExactDedup`): admit `ticks` fixed-size
  * batches of synthetic docs into one index and print per-tick wall
  * seconds as JSON lines. The claim under test is the r15 bucketed
  * layout's — per-tick cost tracks the BATCH's token footprint, not
  * the accumulated index — so a healthy run shows a flat (or
  * log-flat) tick series while the index grows linearly; the r14
  * whole-index-explode formulation grows roughly linearly in tick
  * number instead.
  *
  * Docs are random token strings over a large pool (near-zero dup
  * rate, so the index genuinely grows by ~batch each tick); a small
  * salted dup fraction keeps the reject path exercised.
  *
  * Usage: AdmitSweep [ticks=20] [batchDocs=500] [docTokens=40] [compactEvery=0] [mode=bucketed]
  *   (env: SPARK_GRAFT_CPUS). compactEvery=N runs
  *   compactExactDedupIndex after every Nth tick (untimed — it's a
  *   scheduled maintenance step, not admission cost), the deployment
  *   discipline that bounds the per-tick file/listing rent.
  *   mode=r14 measures the round-14 formulation instead (kept
  *   VERBATIM in [[admitR14]] below, the ExactJoinProbe convention):
  *   flat `docs/` append of (doc_id, sa, n, pref) rows, whole-index
  *   scan + per-doc prefix-array explode every tick.
  */
object AdmitSweep {

  /** The round-14 `admitExactDedup`, verbatim (minus the marker
    * plumbing — tau is passed in), for head-to-head growth
    * measurement: every tick reads the WHOLE accumulated `docs/` and
    * re-explodes every admitted doc's prefix array before the
    * candidate join, and appends tasks × 1 unaligned files. Its
    * per-tick wall grows with index size; the library formulation's
    * tracks the batch.
    */
  private def admitR14(batch: DataFrame, path: String, tau: Long): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val fs = graft.connect.Hfs.fs(s, path)
    val order = s.read.parquet(s"$path/order")
    val inBatch = graft.ops.Dedup.exactDedupFilterOn(batch, tau)
    val rows = {
      import graft.CacheScope._
      graft.ops.Dedup.dedupIndexRows(inBatch, order, tau).persistScoped()
    }
    val docsPath = new org.apache.hadoop.fs.Path(path, "docs")
    val hasDocs = fs.exists(docsPath) && fs.listStatus(docsPath)
      .exists(_.getPath.getName.endsWith(".parquet"))
    val admitted0 = if (!hasDocs) inBatch else {
      val idx = s.read.parquet(s"$path/docs")
      val bp = rows.select($"doc_id", $"sa", $"n", explode($"pref").as("s"))
      val ip = idx.select($"doc_id".as("idx_id"), $"sa".as("isa"),
        $"n".as("idx_n"), explode($"pref").as("s"))
      val flagged = bp.join(ip, Seq("s"))
        .filter(lit(1000L) * least($"n", $"idx_n") >=
          lit(tau) * greatest($"n", $"idx_n"))
        .withColumn("inter", size(array_intersect($"sa", $"isa")).cast("long"))
        .filter(lit(1000L) * $"inter" >= lit(tau) * ($"n" + $"idx_n" - $"inter"))
        .select($"doc_id").distinct()
      inBatch.join(flagged, Seq("doc_id"), "left_anti")
    }
    val admitted = admitted0.localCheckpoint()
    rows.join(admitted.select($"doc_id"), Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(s"$path/docs")
    admitted
  }

  def main(args: Array[String]): Unit = {
    val ticks = if (args.length > 0) args(0).toInt else 20
    val batchDocs = if (args.length > 1) args(1).toInt else 500
    val docTokens = if (args.length > 2) args(2).toInt else 40
    val compactEvery = if (args.length > 3) args(3).toInt else 0
    val mode = if (args.length > 4) args(4) else "bucketed"
    val spark = GraftSession.local()

    val base = java.nio.file.Files.createTempDirectory("graft-admit-sweep")
    val idx = s"$base/idx"

    // deterministic doc text: token ids from a splitmix-style hash of
    // (doc_id, position) over a 40k-token pool — no Random needed, and
    // every tick's batch is schema- and size-identical
    def batchDf(tick: Int): DataFrame = {
      val lo = tick.toLong * batchDocs
      spark.range(lo, lo + batchDocs).toDF("doc_id")
        .withColumn("text", concat_ws(" ",
          (0 until docTokens).map(p =>
            concat(lit("w"), pmod(xxhash64(col("doc_id") * 7919L + p), lit(40000L)))): _*))
        // ~4% of docs are exact dups of the PREVIOUS tick's rows: the
        // reject path must run every tick (flag + anti-join), or the
        // sweep would time only the all-admit fast path. The copy
        // source is offset by +1 (id ≡ 1 mod 25): the r15 formulation
        // copied id − batchDocs exactly, whose row was ITSELF a copy
        // and therefore rejected — from tick 2 on the "dup" text never
        // matched anything admitted and the committed r15 series shows
        // admitted = 2000 after tick 1 (the flag-then-anti-join still
        // ran every tick — candidates from shared pool tokens — but
        // found nothing; found and fixed while building SemAdmitSweep,
        // which prints the same counts)
        .withColumn("text",
          when(col("doc_id") % 25 === 0 && col("doc_id") >= batchDocs,
            concat_ws(" ", (0 until docTokens).map(p =>
              concat(lit("w"), pmod(xxhash64(
                (col("doc_id") - batchDocs + 1) * 7919L + p), lit(40000L)))): _*))
            .otherwise(col("text")))
    }

    graft.ops.Dedup.createExactDedupIndex(spark, idx, batchDf(0), 800L)
    val out = new StringBuilder
    (0 until ticks).foreach { t =>
      val b = batchDf(t)
      val t0 = System.nanoTime()
      val admitted =
        if (mode == "r14") admitR14(b, idx, 800L).count()
        else graft.ops.Dedup.admitExactDedup(b, idx, t.toLong).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.drain()
      spark.sharedState.cacheManager.clearCache()
      val line = f"""{"tick":$t,"sec":$dt%.3f,"admitted":$admitted,"batch":$batchDocs}"""
      println(line)
      out.append(line).append('\n')
      if (compactEvery > 0 && t % compactEvery == compactEvery - 1) {
        val folded = graft.ops.Dedup.compactExactDedupIndex(spark, idx)
        println(s"""{"compacted_after_tick":$t,"folded":$folded}""")
      }
    }
    // flatness verdict the PLANS entry can cite: mean of last 5 ticks
    // vs mean of ticks 2-6 (skip tick 0-1 JIT)
    val secs = out.toString.linesIterator.toSeq.map { l =>
      """"sec":([0-9.]+)""".r.findFirstMatchIn(l).get.group(1).toDouble
    }
    if (ticks >= 10) {
      val early = secs.slice(2, 7).sum / 5
      val late = secs.takeRight(5).sum / 5
      println(f"""{"early_mean":$early%.3f,"late_mean":$late%.3f,"growth":${late / early}%.3f}""")
    }
    spark.stop()
  }
}
