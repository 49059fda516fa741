package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM: set up, warm, run whole rounds of
  * the workload's fixed work for the given seconds, then write the
  * records and the outputs the checks read. `run.py` starts it and
  * turns the records into metrics.
  *
  * Args: workload dataDir workDir outDir seed seconds trace(0|1)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, outDir, seedS, secondsS, traceS) = args
    val seed = seedS.toLong
    Trace.on = traceS == "1"
    Files.createDirectories(Paths.get(s"$outDir/results"))
    val hostStart = Host.sample()
    val cpus = Runtime.getRuntime.availableProcessors()

    val tSession = Trace.nowNs()
    val spark = Trace.span("setup.session", 0) {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    if (Trace.on) spark.sparkContext.addSparkListener(probe)
    graft.functions.GraftExtensions.register(spark)
    val sessionMs = (Trace.nowNs() - tSession) / 1e6
    val h = new Harness(spark, dataDir, workDir, outDir, seed)

    // seeding: the workload's own state, then the untimed warm pass
    val tSeed = Trace.nowNs()
    val (warmPass, timedRound, finish): (() => Unit, Int => Unit, () => Unit) =
      Trace.span("setup.seed", 0) {
        workload match {
          case "catalog" =>
            // the short rows are warmed; the curation half of the round
            // (the heavy row, the native functions, the index lifecycle)
            // runs cold, once, as a scheduled curation job in a fresh
            // JVM sees it
            val short = new CatalogRows(h, CatalogRows.sql)
            val heavy = new CatalogRows(h, CatalogRows.curation)
            Seq("documents", "embeddings", "events").foreach(t =>
              graft.Tables.t(spark, dataDir, t).createOrReplaceTempView(t))
            val fns = new Functions(h)
            val idx = new IndexLifecycle(h)
            (() => short.pass(-1),
              r => { short.pass(r); heavy.pass(r); fns.pass(r); idx.round(r) },
              () => {
                h.dumpResults(short.results.kept ++ heavy.results.kept ++ fns.results.kept)
                writeOracle(outDir, short.oracle ++ heavy.oracle)
                idx.verify()
              })
          case "etl_scheduled" =>
            val etl = new Etl(h)
            etl.setup()
            (() => etl.round(-1), r => etl.round(r), () => etl.dump())
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      }
    val seedMs = (Trace.nowNs() - tSeed) / 1e6
    val tWarm = Trace.nowNs()
    h.warm = true
    Trace.span("setup.warm", 0)(warmPass())
    h.warm = false
    val warmMs = (Trace.nowNs() - tWarm) / 1e6

    // set-up ends where the first timed operation starts
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val timedStartNs = Trace.nowNs()
    val setupS = (timedStartNs / 1e6 - jvmStartMs) / 1e3
    h.loop(secondsArg(secondsS))(timedRound)
    val timedEndNs = Trace.nowNs()
    val peakRss = Host.peakRssMb()
    val hostEnd = Host.sample()

    Trace.span("check", 0)(finish())
    h.writeRecords()
    val fingerprint = graft.connect.Hfs.listingFingerprint(spark, dataDir)
    if (Trace.on) {
      org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
      probe.write(outDir)
      Trace.write(outDir)
    }
    spark.stop()

    val stealPct =
      if (hostEnd._3 > hostStart._3)
        100.0 * (hostEnd._2 - hostStart._2) / (hostEnd._3 - hostStart._3) else 0.0
    val run = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cpus" -> cpus.toString, "trace" -> Trace.on.toString,
      "fixture_fingerprint" -> Json.str(fingerprint),
      "setup_s" -> Json.num(setupS), "session_ms" -> Json.num(sessionMs),
      "seed_ms" -> Json.num(seedMs), "warm_ms" -> Json.num(warmMs),
      "timed_start_ns" -> timedStartNs.toString, "timed_end_ns" -> timedEndNs.toString,
      "peak_rss_mb" -> Json.num(peakRss),
      "load1_start" -> Json.num(hostStart._1), "load1_end" -> Json.num(hostEnd._1),
      "steal_pct" -> Json.num(stealPct),
      "problems" -> h.problems.map(Json.str).mkString("[", ",", "]"))
    val w = new PrintWriter(s"$outDir/run.json", "UTF-8")
    try w.println(run) finally w.close()
  }

  private def secondsArg(s: String): Double = {
    val v = s.toDouble
    require(v > 0, s"seconds must be positive: $s")
    v
  }

  private def writeOracle(outDir: String, oracle: Map[String, String]): Unit = {
    val w = new PrintWriter(s"$outDir/oracle_sql.json", "UTF-8")
    try w.println(oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))
    finally w.close()
  }
}

