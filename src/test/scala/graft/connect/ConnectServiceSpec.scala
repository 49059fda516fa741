package graft.connect

import graft.SparkSpec
import graft.functions.GraftExtensions
import graft.model.{ConnectionSpec, ExtractStep, LoadStep}

/** Connection probe (A14), CSV source/sink round-trip (the reference's
  * declared csv stubs), and the T-SQL compat function registration.
  */
class ConnectServiceSpec extends SparkSpec {
  import spark.implicits._

  test("connection test: ok for readable parquet, error message for bad path") {
    val dir = tmpDir("graft-conn")
    Seq((1, "a")).toDF("id", "s").write.parquet(s"$dir/t")
    val good = ConnectionSpec("g", "g", "parquet", Map("basePath" -> dir.toString))
    assert(ConnectionService.test(spark, good, Some("t"))._1)
    val (ok, msg) = ConnectionService.test(spark, good, Some("missing"))
    assert(!ok && msg.nonEmpty)
    assert(!ConnectionService.test(spark,
      ConnectionSpec("m", "m", "mongo", Map()))._1) // declared-but-unsupported
  }

  test("streaming extracts are admission-bounded by default (opt-out explicit)") {
    // nothing set -> the default file cap is injected; the measured
    // failure this guards: an unbounded AvailableNow drain of a large
    // backlog OOMs in batch processing before state is even involved
    val injected = Sources.admissionDefaults(Map("other" -> "x"))
    assert(injected("maxFilesPerTrigger") == Sources.defaultMaxFilesPerTrigger.toString)
    assert(injected("other") == "x")
    // caller sizing wins, either knob
    assert(Sources.admissionDefaults(Map("maxFilesPerTrigger" -> "7")) ==
      Map("maxFilesPerTrigger" -> "7"))
    assert(Sources.admissionDefaults(Map("maxBytesPerTrigger" -> "1g")) ==
      Map("maxBytesPerTrigger" -> "1g"))
    // explicit opt-out removes the bound (and the marker option)
    assert(Sources.admissionDefaults(Map("admission" -> "unbounded")) == Map.empty)
    // anything else is a loud error, not a silent unbounded drain
    val e = intercept[IllegalArgumentException] {
      Sources.admissionDefaults(Map("admission" -> "bounded?"))
    }
    assert(e.getMessage.contains("admission"))
  }

  test("csv source/sink round-trip with header") {
    val dir = tmpDir("graft-csv")
    val conn = ConnectionSpec("c", "c", "csv", Map("basePath" -> dir.toString))
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "tag", "v")
    Sources.write(df, conn, LoadStep("w", 1, "c", path = Some("out"), mode = "replace"))
    val back = Sources.read(spark, conn, ExtractStep("r", 1, "c", path = Some("out")))
    assert(back.count() == 2)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "v"))
    assert(back.filter($"tag" === "y").select($"v").as[Double].head() == 2.5)
    // an absolute path wins over the connection's basePath
    val elsewhere = conn.copy(options = Map("basePath" -> tmpDir("graft-csv-base").toString))
    assert(Sources.read(spark, elsewhere,
      ExtractStep("abs", 1, "c", path = Some(s"$dir/out"))).count() == 2)
  }

  test("partitionBy load writes hive layout and readers prune partitions") {
    val dir = tmpDir("graft-part")
    val conn = ConnectionSpec("p", "p", "parquet", Map("basePath" -> dir.toString))
    val df = Seq((1L, "en", 10.0), (2L, "fr", 20.0), (3L, "en", 30.0), (4L, "de", 40.0))
      .toDF("id", "lang", "v")
    Sources.write(df, conn, LoadStep("w", 1, "p", path = Some("docs"), mode = "replace",
      options = Map("partitionBy" -> "lang")))
    // hive-style directories exist per lang
    val subdirs = new java.io.File(s"$dir/docs").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs == Set("lang=en", "lang=fr", "lang=de"), s"$subdirs")
    // a filter on the layout column must prune DIRECTORIES, not rows:
    // the scan plan carries it as a PartitionFilter, and at 100 TB this
    // is the difference between reading one partition and the corpus
    val back = Sources.read(spark, conn, ExtractStep("r", 1, "p", path = Some("docs")))
      .filter($"lang" === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang#"), plan)
    assert(back.select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("tsql_isnull registered via extensions behaves as 2-arg ISNULL") {
    GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT tsql_isnull(NULL, 'fallback') AS a, tsql_isnull('x', 'fallback') AS b")
      .collect().head
    assert(out.getString(0) == "fallback")
    assert(out.getString(1) == "x")
  }

  test("maxRecordsPerFile splits output; compactParquet merges it back") {
    import spark.implicits._
    val dir = tmpDir("compact").toString + "/t"
    (1 to 1000).toDF("v").repartition(1)
      .write.option("maxRecordsPerFile", "100").parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files() >= 10, s"maxRecordsPerFile=100 over 1000 rows: ${files()} files")
    val (rows, before, after) = Sources.compactParquet(spark, dir, 1000L)
    assert(rows == 1000 && before >= 10 && after == 1)
    assert(files() == 1)
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == (1 to 1000))
  }

  test("compactPartitionedParquet merges files inside partition dirs, keeps the layout") {
    import spark.implicits._
    val dir = tmpDir("compact-part").toString + "/t"
    // three appends of 4 partitions each → ≥3 files per partition dir
    (0 until 3).foreach { r =>
      (1 to 400).map(v => (v % 4, v * 10 + r)).toDF("part", "v")
        .repartition(4)
        .write.mode("append").partitionBy("part").parquet(dir)
    }
    val beforeData = spark.read.parquet(dir).select($"part", $"v")
      .as[(Int, Int)].collect().sorted.toSeq
    val (rows, before, after) =
      Sources.compactPartitionedParquet(spark, dir, "part", 100000L)
    assert(rows == 1200 && after < before)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("part=0", "part=1", "part=2", "part=3"))
    assert(after <= 4, s"one file per partition dir expected, got $after")
    val afterData = spark.read.parquet(dir).select($"part", $"v")
      .as[(Int, Int)].collect().sorted.toSeq
    assert(afterData == beforeData)
    // the flat compactor refuses nothing but WOULD flatten — the
    // partitioned one must be chosen for layouts; guard the contract
    intercept[IllegalArgumentException] {
      Sources.compactPartitionedParquet(spark, dir, "nope", 100L)
    }
  }

  test("schema-evolved parquet reads with mergeSchema (late column is null on old files)") {
    import spark.implicits._
    val dir = tmpDir("evolve").toString + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    Seq((2L, "b", 9L)).toDF("id", "s", "extra").write.mode("append").parquet(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("extra", "id", "s"))
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(df.columns.indexOf("extra")))
    assert(byId(2L).getLong(df.columns.indexOf("extra")) == 9L)
  }
}
