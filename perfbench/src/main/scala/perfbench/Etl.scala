package perfbench

import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
import graft.model.{ConnectionSpec, PipelineJson}
import graft.sched.PipelineScheduler
import graft.store.Repository
import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The reference's product shape: a repository of four pipelines that
  * `PipelineScheduler.tick()` fires on its worker pool whenever the
  * benchmark advances the injected clock past their cron.
  *
  *  - `revenue`: lineitem joined to orders, loaded to parquet in
  *    replace mode with sanitize on;
  *  - `jdbc`: a query extract from embedded Derby (seeded with a slice
  *    of orders), a SQL roll-up, a JDBC replace load;
  *  - `curate`: documents through `quality_filter` and an audited
  *    `dedup_filter` into training shards;
  *  - `cdc`: a streaming drain of a landing directory into the bucketed
  *    upsert snapshot. Before each tick the benchmark lands one seeded
  *    batch built from `events`.
  *
  * The two batch SQL transforms run as named transforms over their own
  * view names: the program's `sql` transform kind registers every
  * frame as the one session view `input`, which pipelines running at
  * the same time on the shared session overwrite for each other. Only
  * the CDC pipeline uses the `sql` kind. */
final class Etl(h: Harness) {
  private val spark = h.spark
  private val base = s"${h.workDir}/etl"
  private val landing = s"$base/landing"
  private val derbyUrl = s"jdbc:derby:$base/derby/db"
  val pipelines: Seq[String] = Seq("revenue", "jdbc", "curate", "cdc")
  private val batchRows = 2000
  private var now = Instant.parse("2026-01-05T00:00:30Z")
  private var batchSeq = 0
  private var repo: Repository = _
  private var sched: PipelineScheduler = _
  private var events: Array[Row] = _

  private val cdcSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("ver", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts", TimestampType)))

  /** Seeding: the repository, the Derby source table, the events pool
    * CDC batches are drawn from, and the scheduler's first tick (a
    * pipeline seen for the first time is only scheduled). */
  def setup(): Unit = {
    Files.createDirectories(Paths.get(landing))
    repo = new Repository(Paths.get(s"$base/meta"))
    graft.Tables.t(spark, h.dataDir, "orders").createOrReplaceTempView("bench_orders")
    repo.saveConnection(ConnectionSpec("data", "fixture parquet", "parquet",
      Map("basePath" -> h.dataDir)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> s"$base/out")))
    repo.saveConnection(ConnectionSpec("etl", "cdc landing and snapshot", "parquet",
      Map("basePath" -> base)))
    repo.saveConnection(ConnectionSpec("derby", "embedded derby", "jdbc",
      Map("url" -> s"$derbyUrl;create=true", "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))
    Trace.span("setup.derby_seed", 0) {
      spark.table("bench_orders").filter("o_orderkey % 10 = 0")
        .write.format("jdbc").mode("overwrite")
        .option("url", s"$derbyUrl;create=true")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "orders_src").save()
    }
    events = graft.Tables.t(spark, h.dataDir, "events")
      .selectExpr("event_type", "value", "ts").collect()
    val cron = "\"recurrence\":\"*/15\",\"enabled\":true"
    Seq(
      s"""{"id":"revenue","name":"revenue by priority and month",$cron,"steps":[
         |{"stepType":"extract","name":"lineitem","order":1,"connectionId":"data","path":"lineitem.parquet"},
         |{"stepType":"transform","name":"revenue","order":2,"kind":"named","transformName":"revenue_sql"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"out","path":"revenue","mode":"replace","sanitize":true}]}""",
      s"""{"id":"jdbc","name":"derby round trip",$cron,"steps":[
         |{"stepType":"extract","name":"orders","order":1,"connectionId":"derby","query":"SELECT * FROM orders_src"},
         |{"stepType":"transform","name":"rollup","order":2,"kind":"named","transformName":"jdbc_rollup_sql"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"derby","table":"order_rollup","mode":"replace"}]}""",
      s"""{"id":"curate","name":"documents to shards",$cron,"steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"data","path":"documents.parquet"},
         |{"stepType":"transform","name":"quality","order":2,"kind":"named","transformName":"quality_filter"},
         |{"stepType":"transform","name":"dedup","order":3,"kind":"named","transformName":"dedup_filter","audit":true},
         |{"stepType":"load","name":"shards","order":4,"connectionId":"out","path":"shards","mode":"replace",
         | "options":{"shardBy":"doc_id","shards":"8"}}]}""",
      s"""{"id":"cdc","name":"landing to snapshot",$cron,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"etl","path":"landing",
         | "options":{"streaming":"true","schema":"id BIGINT, ver BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP"}},
         |{"stepType":"transform","name":"shape","order":2,"kind":"sql",
         | "sql":"SELECT id, ver, upper(event_type) AS kind, value * 2 AS amount, ts FROM input"},
         |{"stepType":"load","name":"snapshot","order":3,"connectionId":"etl","path":"out/snapshot","mode":"upsert",
         | "options":{"keyCol":"id","versionCol":"ver","numBuckets":"8","checkpointLocation":"ckpt"}}]}"""
    ).foreach(j => repo.savePipeline(PipelineJson.parsePipeline(j.stripMargin)))

    val registry = new TransformRegistry
    registry.register("revenue_sql", { li: DataFrame =>
      li.createOrReplaceTempView("revenue_lineitem")
      spark.sql(Etl.revenueSql)
    })
    registry.register("jdbc_rollup_sql", { o: DataFrame =>
      o.createOrReplaceTempView("jdbc_orders")
      spark.sql(Etl.rollupSql)
    })
    CurationTransforms.registerQualityFilter(registry, minTtrPermille = 400L)
    CurationTransforms.registerDedupFilter(registry, keepBest = true)
    sched = new PipelineScheduler(new PipelineRunner(spark, repo, registry), repo,
      () => now, workers = Runtime.getRuntime.availableProcessors().min(4).max(1))
    Trace.span("sched.tick", 0)(sched.tick()) // first sight: schedule only
  }

  /** Land one seeded CDC batch: skewed keys (a cubed uniform draw over a
    * key space that grows every batch, so hot keys are updated and new
    * keys inserted), versions unique across all batches. */
  private def land(): Unit = {
    val b = batchSeq
    batchSeq += 1
    val rnd = new scala.util.Random(h.seed * 1000003L + b)
    val keys = 1000 + 500 * b
    val rows = (0 until batchRows).map { i =>
      val e = events(rnd.nextInt(events.length))
      Row((math.pow(rnd.nextDouble(), 3) * keys).toLong, b.toLong * batchRows + i,
        e.getString(0), e.getDouble(1), e.get(2))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), cdcSchema)
      .coalesce(1).write.mode("append").parquet(landing)
  }

  private def terminal(id: String): Seq[graft.store.HistoryEvent] =
    repo.history(id).filter(e => e.status == "success" || e.status == "error")

  /** One round: advance the clock one cron period, land a batch, tick,
    * wait for every pipeline's terminal history row. */
  def round(r: Int): Unit = {
    val before = pipelines.map(p => p -> Trace.span("store.history_read", 0)(terminal(p)).size).toMap
    now = now.plusSeconds(15 * 60)
    Trace.span("bench.land", 0)(land())
    val landed = Instant.now()
    val fired = Trace.span("sched.tick", 0)(sched.tick())
    h.check(fired.toSet == pipelines.toSet, s"round $r: tick fired ${fired.mkString(",")}")
    val deadline = System.nanoTime() + 150L * 1000000000L
    var done = Map.empty[String, graft.store.HistoryEvent]
    while (done.size < pipelines.size && System.nanoTime() < deadline) {
      Thread.sleep(5)
      pipelines.filterNot(done.contains).foreach { p =>
        val t = Trace.span("store.history_read", 0)(terminal(p))
        if (t.size > before(p)) done += p -> t.last
      }
    }
    pipelines.foreach { p =>
      done.get(p) match {
        case Some(e) =>
          val ok = e.status == "success"
          val ms = e.finishedAt.map(f => java.time.Duration.between(e.startedAt, f).toNanos / 1e6)
            .getOrElse(Double.NaN)
          h.record("run", p, r, ok, ms, 0L, if (ok) "" else e.message)
          Trace.count(0, "sched.start_lag_ms",
            java.time.Duration.between(landed, e.startedAt).toNanos / 1e6)
          if (p == "cdc") h.record("tick", "cdc_tick", r, ok,
            e.finishedAt.map(f => java.time.Duration.between(landed, f).toNanos / 1e6)
              .getOrElse(Double.NaN), 0L, "")
        case None =>
          h.record("run", p, r, ok = false, Double.NaN, 0L, "no terminal history row within 150 s")
      }
    }
  }

  def stop(): Unit = if (sched != null) sched.stop()

  /** After the timed phase: dump every output for the oracle, and fill
    * in the rows each run loaded (read back from the outputs, untimed). */
  def dump(): Unit = {
    stop()
    val out = s"$base/out"
    val revenue = spark.read.parquet(s"$out/revenue")
    val rollup = spark.read.format("jdbc").option("url", derbyUrl)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "order_rollup").load()
    val snapshot = graft.streaming.StreamOps.readBucketedSnapshot(spark, s"$out/snapshot")
      .select("id", "ver", "kind", "amount", "ts")
    val kept = Seq("etl_revenue" -> revenue, "etl_jdbc" -> rollup, "etl_snapshot" -> snapshot)
      .map { case (n, df) => n -> Kept(df.schema, df.collect()) }
    h.dumpResults(kept)
    val shardRows = spark.read.parquet(s"$out/shards").count()
    val loaded = Map("revenue" -> kept(0)._2.rows.length.toLong,
      "jdbc" -> kept(1)._2.rows.length.toLong, "curate" -> shardRows,
      "cdc" -> batchRows.toLong)
    h.setRows(r => r.kind == "run", r => loaded(r.name))
    Trace.count(0, "connect.output_files", Host.du(out)._2.toDouble)
    val (sb, _) = Host.du(s"$out/snapshot")
    Trace.count(0, "streaming.snapshot_mb", sb / 1e6)
    val (lb, _) = Host.du(landing)
    Trace.count(0, "streaming.landed_mb", lb / 1e6)
    Trace.count(0, "store.history_mb", Files.size(Paths.get(s"$base/meta/history.jsonl")) / 1e6)
  }
}

object Etl {
  /** Revenue in exact integer units (cents x percent): both engines sum
    * longs, so the oracle compare is exact. */
  val revenueSql: String =
    """SELECT o.o_orderpriority, date_trunc('MONTH', o.o_orderdate) AS month,
      |  count(*) AS n_lines,
      |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS revenue_e4
      |FROM revenue_lineitem l JOIN bench_orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority, date_trunc('MONTH', o.o_orderdate)""".stripMargin

  val rollupSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
      |FROM jdbc_orders GROUP BY o_orderpriority, o_orderstatus""".stripMargin
}
