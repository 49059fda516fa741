package graft.exec

import graft.SparkSpec
import graft.model._
import graft.store.Repository
import org.apache.spark.sql.functions._

/** End-to-end pipeline tests ≅ SURVEY.md §5.4: JSON spec → run → sink
  * contents + execution_history transitions (running→success /
  * running→error, core/engine.py:40-76); replace-mode idempotence.
  */
class PipelineRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def setup() = {
    val root = tmpDir("graft-runner")
    val repo = new Repository(root)
    val dataDir = tmpDir("graft-data")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, null.asInstanceOf[String], 40.0))
      .toDF("id", "tag", "amount")
      .write.mode("overwrite").parquet(s"$dataDir/src")
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir.toString)))
    (repo, dataDir)
  }

  private def pipeline(json: String): PipelineSpec = PipelineJson.parsePipeline(json)

  test("extract -> sql transform -> load, history running->success") {
    val (repo, dataDir) = setup()
    val spec = pipeline(
      s"""{"id":"p1","name":"demo","recurrence":"*/5","enabled":true,"steps":[
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"out1","mode":"replace"},
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"agg","order":2,"kind":"sql",
         | "sql":"SELECT tag, sum(amount) AS total FROM input GROUP BY tag"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    val runner = new PipelineRunner(spark, repo)
    val res = runner.runById("p1") // also exercises steps sorted by order
    assert(res.status == "success")
    val out = spark.read.parquet(s"$dataDir/out1")
    assert(out.count() == 3) // a, b, null tag
    assert(out.filter($"tag" === "a").select($"total").as[Double].head() == 40.0)
    val h = repo.history("p1")
    assert(h.map(_.status) == Seq("running", "success"))
    assert(h.last.finishedAt.isDefined)
  }

  test("concurrent sql pipelines on one session each load only their own input") {
    val (repo, dataDir) = setup()
    val n = 6
    (0 until n).foreach { i =>
      (0 until 5).map(j => (j.toLong, s"t$i")).toDF("id", "tag")
        .write.mode("overwrite").parquet(s"$dataDir/race_src_$i")
    }
    val specs = (0 until n).map { i =>
      pipeline(
        s"""{"id":"race$i","name":"race","steps":[
           |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"race_src_$i"},
           |{"stepType":"transform","name":"t","order":2,"kind":"sql","sql":"SELECT id, tag FROM input"},
           |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"race_out_$i","mode":"replace"}
           |]}""".stripMargin)
    }
    val runner = new PipelineRunner(spark, repo)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val wrong = try {
      (1 to 5).flatMap { _ =>
        val start = new java.util.concurrent.CountDownLatch(1)
        val runs = specs.map { spec =>
          pool.submit(new java.util.concurrent.Callable[RunResult] {
            def call(): RunResult = { start.await(); runner.run(spec) }
          })
        }
        start.countDown()
        runs.foreach(_.get())
        (0 until n).filter { i =>
          spark.read.parquet(s"$dataDir/race_out_$i").select("tag").as[String]
            .collect().toSet != Set(s"t$i")
        }
      }
    } finally pool.shutdown()
    assert(wrong.isEmpty, s"pipelines that loaded another pipeline's rows: $wrong")
  }

  test("audited transforms record per-stage retention counts in history") {
    val (repo, dataDir) = setup()
    val spec = pipeline(
      s"""{"id":"paud","name":"audited","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"keep_tagged","order":2,"kind":"sql","audit":true,
         | "sql":"SELECT * FROM input WHERE tag IS NOT NULL"},
         |{"stepType":"transform","name":"keep_a","order":3,"kind":"sql","audit":true,
         | "sql":"SELECT * FROM input WHERE tag = 'a'"},
         |{"stepType":"load","name":"sink","order":4,"connectionId":"local","path":"outaud","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    // round-trips through the repo's JSON serialization (audit flag kept)
    assert(new PipelineRunner(spark, repo).runById("paud").status == "success")
    val h = repo.history("paud")
    assert(h.map(_.status) == Seq("running", "audit", "audit", "success"))
    assert(h(1).message == "step 'keep_tagged': rows=3")
    assert(h(2).message == "step 'keep_a': rows=2")
    assert(spark.read.parquet(s"$dataDir/outaud").count() == 2)
    // un-audited pipelines keep the exact two-event shape (opt-in)
    val plain = pipeline(
      s"""{"id":"paud2","name":"plain","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"t","order":2,"kind":"sql","sql":"SELECT * FROM input"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"outaud2","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(plain)
    assert(new PipelineRunner(spark, repo).runById("paud2").status == "success")
    assert(repo.history("paud2").map(_.status) == Seq("running", "success"))
  }

  test("declarative split-shard layout: splitBy writes physical split dirs; append/delete must address one split") {
    val (repo, dataDir) = setup()
    val spark2 = spark; import spark2.implicits._
    (1L to 100L).map(i => (i, if (i % 5 == 0) "val" else "train"))
      .toDF("doc_id", "split")
      .write.mode("overwrite").parquet(s"$dataDir/labeled")
    def spec(id: String, mode: String) = pipeline(
      s"""{"id":"$id","name":"$id","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"labeled"},
         |{"stepType":"load","name":"sink","order":2,"connectionId":"local","path":"splitshards","mode":"$mode",
         | "options":{"shardBy":"doc_id","shards":"4","splitBy":"split"}}
         |]}""".stripMargin)
    repo.savePipeline(spec("ps1", "replace"))
    val runner = new PipelineRunner(spark, repo)
    assert(runner.runById("ps1").status == "success")
    assert(spark.read.parquet(s"$dataDir/splitshards/split=train").count() == 80L)
    assert(spark.read.parquet(s"$dataDir/splitshards/split=val").count() == 20L)
    // each split dir carries its own standalone manifest
    assert(new java.io.File(s"$dataDir/splitshards/split=val/_shards.json").exists())
    // append and delete on the split ROOT are refused loudly — they
    // address one split's directory (itself a plain shard layout)
    repo.savePipeline(spec("ps2", "append"))
    intercept[IllegalArgumentException](runner.runById("ps2"))
    assert(repo.history("ps2").map(_.status) == Seq("running", "error"))
    repo.savePipeline(spec("ps3", "delete"))
    intercept[IllegalArgumentException](runner.runById("ps3"))
  }

  test("named transform via registry") {
    val (repo, dataDir) = setup()
    val registry = new TransformRegistry
    registry.register("double_amount", df => df.withColumn("amount", col("amount") * 2))
    val spec = pipeline(
      s"""{"id":"p2","name":"named","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"x2","order":2,"kind":"named","transformName":"double_amount"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"out2","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    new PipelineRunner(spark, repo, registry).run(spec)
    val out = spark.read.parquet(s"$dataDir/out2")
    assert(out.agg(sum($"amount")).as[Double].head() == 200.0)
  }

  test("append mode accumulates; replace mode is idempotent") {
    val (repo, dataDir) = setup()
    val append = pipeline(
      s"""{"id":"p3","name":"ap","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"load","name":"sink","order":2,"connectionId":"local","path":"out3","mode":"append"}
         |]}""".stripMargin)
    val runner = new PipelineRunner(spark, repo)
    runner.run(append); runner.run(append)
    assert(spark.read.parquet(s"$dataDir/out3").count() == 8)
    val replace = pipeline(
      s"""{"id":"p4","name":"rp","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"load","name":"sink","order":2,"connectionId":"local","path":"out4","mode":"replace"}
         |]}""".stripMargin)
    runner.run(replace); runner.run(replace)
    assert(spark.read.parquet(s"$dataDir/out4").count() == 4)
  }

  test("a batch run releases what it cached: a re-run reads rows landed in between") {
    import graft.CacheScope.Scoped
    val (repo, dataDir) = setup()
    val registry = new TransformRegistry
    registry.register("persist_input", df => df.filter($"amount" > 0).persistScoped())
    registry.register("cut_input", df =>
      graft.ops.lineageCut(df.filter($"amount" > 0), reliable = false))
    val landed = tmpDir("graft-landed")
    Seq((5L, "c", 50.0), (6L, "c", 60.0)).toDF("id", "tag", "amount")
      .coalesce(1).write.mode("overwrite").parquet(landed.toString)
    val landedFile = landed.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    val runner = new PipelineRunner(spark, repo, registry)
    val kinds = Seq(""""kind":"named","transformName":"persist_input"""", """"kind":"cache"""",
      """"kind":"named","transformName":"cut_input"""")
    kinds.zipWithIndex.foreach { case (kind, i) =>
      spark.read.parquet(s"$dataDir/src").write.parquet(s"$dataDir/src$i")
      val spec = pipeline(
        s"""{"id":"c$i","name":"cached","steps":[
           |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src$i"},
           |{"stepType":"transform","name":"keep","order":2,$kind},
           |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"cached$i","mode":"replace"}
           |]}""".stripMargin)
      def runReleases(): Unit = {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        assert(runner.run(spec).status == "success")
        val after = spark.sparkContext.getPersistentRDDs.keySet
        assert(after.subsetOf(before), s"$kind: run left ${after -- before} persisted")
      }
      runReleases()
      assert(spark.read.parquet(s"$dataDir/cached$i").count() == 4)
      // a file landed by plain copy, as an external writer would
      java.nio.file.Files.copy(landedFile.toPath,
        java.nio.file.Paths.get(s"$dataDir/src$i/part-landed.parquet"))
      runReleases()
      assert(spark.read.parquet(s"$dataDir/cached$i").count() == 6, kind)
    }
  }

  test("error path: history running->error and reraise") {
    val (repo, _) = setup()
    val bad = pipeline(
      s"""{"id":"p5","name":"bad","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"nope","path":"src"}
         |]}""".stripMargin)
    repo.savePipeline(bad)
    intercept[IllegalArgumentException](new PipelineRunner(spark, repo).run(bad))
    assert(repo.history("p5").map(_.status) == Seq("running", "error"))
  }

  test("unknown step/transform kinds rejected (engine.py guards)") {
    intercept[IllegalArgumentException](
      PipelineJson.parseStep(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree("""{"stepType":"mystery","name":"x","order":1}""")))
    val (repo, _) = setup()
    val spec = pipeline(
      s"""{"id":"p6","name":"badkind","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"t","order":2,"kind":"python"}
         |]}""".stripMargin)
    intercept[IllegalArgumentException](new PipelineRunner(spark, repo).run(spec))
  }

  test("declarative right-to-be-forgotten: delete-mode shard load, manifest recount, null-id error path") {
    val (repo, dataDir) = setup()
    // a shard layout to forget from, plus the deletion request as its
    // own extractable table — the GDPR batch arrives as data, so the
    // whole flow is one JSON pipeline, history rows included
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    graft.ops.Sharding.writeTrainingShards(docs, "doc_id", s"$dataDir/shards", 8)
    Seq(3L, 77L, 123L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dataDir/forget")

    val spec = pipeline(
      s"""{"id":"gdpr","name":"forget","steps":[
         |{"stepType":"extract","name":"request","order":1,"connectionId":"local","path":"forget"},
         |{"stepType":"load","name":"purge","order":2,"connectionId":"local","path":"shards","mode":"delete",
         | "options":{"shardBy":"doc_id","shards":"8"}}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo).run(spec).status == "success")
    assert(repo.history("gdpr").map(_.status) == Seq("running", "success"))

    val remaining = spark.read.parquet(s"$dataDir/shards")
    assert(remaining.count() == 197)
    assert(remaining.filter($"doc_id".isin(3L, 77L, 123L)).isEmpty)
    // manifest recounted from the written files
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/shards/_shards.json")))
    val total = """"n_rows":\s*(\d+)""".r.findAllMatchIn(manifest).map(_.group(1).toLong).sum
    assert(total == 197)

    // a malformed request (null id) must be running→error, not a
    // silent no-op — and must leave the layout untouched
    Seq(Some(5L), None).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dataDir/forget_bad")
    val bad = pipeline(
      s"""{"id":"gdpr2","name":"bad forget","steps":[
         |{"stepType":"extract","name":"request","order":1,"connectionId":"local","path":"forget_bad"},
         |{"stepType":"load","name":"purge","order":2,"connectionId":"local","path":"shards","mode":"delete",
         | "options":{"shardBy":"doc_id","shards":"8"}}
         |]}""".stripMargin)
    repo.savePipeline(bad)
    intercept[IllegalArgumentException](new PipelineRunner(spark, repo).run(bad))
    assert(repo.history("gdpr2").map(_.status) == Seq("running", "error"))
    assert(spark.read.parquet(s"$dataDir/shards").count() == 197)
  }

  test("declarative ANN index maintenance: build, append == rebuild, rotated, error paths") {
    val (repo, dataDir) = setup()
    val rnd = new scala.util.Random(5)
    val emb = (0L until 300L)
      .map(id => (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    emb.filter($"vec_id" < 200).write.parquet(s"$dataDir/emb_b1")
    emb.filter($"vec_id" >= 200).write.parquet(s"$dataDir/emb_b2")
    emb.write.parquet(s"$dataDir/emb_all")
    val runner = new PipelineRunner(spark, repo)

    def annStep(id: String, src: String, mode: String, extra: String = "") = pipeline(
      s"""{"id":"$id","name":"$id","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"$src"},
         |{"stepType":"load","name":"idx","order":2,"connectionId":"local","path":"annidx","mode":"$mode",
         | "options":{"annIndex":"prefix","dims":"4"$extra}}
         |]}""".stripMargin)
    // bootstrap on the first batch, stream the second in via append
    repo.savePipeline(annStep("ann1", "emb_b1", "replace"))
    repo.savePipeline(annStep("ann2", "emb_b2", "append"))
    assert(runner.runById("ann1").status == "success")
    assert(runner.runById("ann2").status == "success")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", concat_ws(",", $"pq".cast("array<string>")), $"pn2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val rebuilt = rows(graft.ops.Similarity.buildPrefixIndex(spark, emb, dims = 4))
    graft.CacheScope.drain()
    assert(rows(spark.read.parquet(s"$dataDir/annidx")) == rebuilt)

    // rotated variant: frozen basis steers the index
    val pcaPath = s"$dataDir/pcam"
    graft.ops.Similarity.savePcaModel(spark,
      graft.ops.Similarity.trainPcaModel(spark, emb, k = 2), pcaPath)
    graft.CacheScope.drain()
    val rot = pipeline(
      s"""{"id":"ann3","name":"rot","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"emb_all"},
         |{"stepType":"load","name":"idx","order":2,"connectionId":"local","path":"rotidx","mode":"replace",
         | "options":{"annIndex":"prefix","pcaModel":"$pcaPath"}}
         |]}""".stripMargin)
    repo.savePipeline(rot)
    assert(runner.runById("ann3").status == "success")
    val rotRebuilt = rows(graft.ops.Similarity.buildRotatedPrefixIndex(
      spark, emb, graft.ops.Similarity.loadPcaModel(spark, pcaPath), dims = 2))
    graft.CacheScope.drain()
    assert(rows(spark.read.parquet(s"$dataDir/rotidx")) == rotRebuilt)

    // ivfpq kind: frozen model, centroid=-partitioned serving layout,
    // bootstrap + append == full rebuild
    val ivfModelPath = s"$dataDir/ivfm"
    graft.ops.Similarity.saveIvfPqModel(
      graft.ops.Similarity.trainIvfPq(spark, emb), ivfModelPath)
    graft.CacheScope.drain()
    def ivfStep(id: String, src: String, mode: String) = pipeline(
      s"""{"id":"$id","name":"$id","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"$src"},
         |{"stepType":"load","name":"idx","order":2,"connectionId":"local","path":"ivfidx","mode":"$mode",
         | "options":{"annIndex":"ivfpq","ivfpqModel":"$ivfModelPath"}}
         |]}""".stripMargin)
    repo.savePipeline(ivfStep("ivf1", "emb_b1", "replace"))
    repo.savePipeline(ivfStep("ivf2", "emb_b2", "append"))
    assert(runner.runById("ivf1").status == "success")
    assert(runner.runById("ivf2").status == "success")
    val m = graft.ops.Similarity.loadIvfPqModel(spark, ivfModelPath)
    val ivfRebuilt = graft.ops.Similarity.indexIvfPq(spark, emb, m)
      .select($"vec_id", $"centroid".cast("long"), $"sub".cast("int"), $"code".cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    graft.CacheScope.drain()
    val ivfWritten = spark.read.parquet(s"$dataDir/ivfidx")
      .select($"vec_id", $"centroid".cast("long"), $"sub".cast("int"), $"code".cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(ivfWritten == ivfRebuilt, "declarative ivfpq index must equal the full rebuild")
    // the layout is the GROUPED serving layout (r14 default for new
    // saves: list_group= directories at the k-adaptive width, group
    // pruning + in-file centroid stats replace per-list directories)
    val listDirs = new java.io.File(s"$dataDir/ivfidx").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(listDirs.nonEmpty && listDirs.forall(_.startsWith("list_group=")))
    val (_, ivfWidth) = graft.ops.Similarity.loadIvfPqIndexLayout(
      spark, s"$dataDir/ivfidx")
    assert(ivfWidth.exists(w => w >= 1), s"grouped width marker missing: $ivfWidth")

    // error paths: unknown kind, missing frozen model, delete mode
    val badKind = pipeline(
      s"""{"id":"ann4","name":"bad","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"emb_b1"},
         |{"stepType":"load","name":"idx","order":2,"connectionId":"local","path":"annidx","mode":"replace",
         | "options":{"annIndex":"hnsw"}}
         |]}""".stripMargin)
    repo.savePipeline(badKind)
    intercept[IllegalArgumentException](runner.run(badKind))
    assert(repo.history("ann4").map(_.status) == Seq("running", "error"))
    val noModel = pipeline(
      s"""{"id":"ann6","name":"no model","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"emb_b1"},
         |{"stepType":"load","name":"idx","order":2,"connectionId":"local","path":"ivfidx2","mode":"replace",
         | "options":{"annIndex":"ivfpq"}}
         |]}""".stripMargin)
    repo.savePipeline(noModel)
    intercept[IllegalArgumentException](runner.run(noModel))
    assert(repo.history("ann6").map(_.status) == Seq("running", "error"))
    repo.savePipeline(annStep("ann5", "emb_b1", "delete"))
    intercept[IllegalArgumentException](runner.runById("ann5"))
  }

  test("declarative layout maintenance: compact_layout step, history contract, frame untouched") {
    val (repo, dataDir) = setup()
    // a partitioned layout accumulated by appends (the streaming-shard
    // / ANN-index small-files shape)
    val layout = s"$dataDir/layout"
    (0 until 3).foreach { r =>
      (1 to 300).map(v => (v % 4, v + r)).toDF("part", "v")
        .repartition(3).write.mode("append").partitionBy("part").parquet(layout)
    }
    val filesBefore = {
      val fs = graft.connect.Hfs.fs(spark, layout)
      graft.connect.Hfs.countParquetFilesRecursive(fs, new org.apache.hadoop.fs.Path(layout))
    }
    val registry = new TransformRegistry
    CurationTransforms.registerCompaction(
      registry, spark, layout, targetFileRows = 100000L, partitionCol = Some("part"))
    val spec = pipeline(
      s"""{"id":"maint","name":"nightly compaction","recurrence":"0 3 * * *","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_layout"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
    assert(repo.history("maint").map(_.status) == Seq("running", "success"))
    val fs = graft.connect.Hfs.fs(spark, layout)
    val filesAfter = graft.connect.Hfs.countParquetFilesRecursive(
      fs, new org.apache.hadoop.fs.Path(layout))
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(spark.read.parquet(layout).count() == 900)
    // the maintenance hook passes the in-flight frame through untouched
    assert(spark.read.parquet(s"$dataDir/maint_out").count() == 4)

    // error contract: compaction of a missing directory is running→error
    val reg2 = new TransformRegistry
    CurationTransforms.registerCompaction(
      reg2, spark, s"$dataDir/nope", targetFileRows = 100L)
    val bad = pipeline(
      s"""{"id":"maint2","name":"bad compaction","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_layout"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out2","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(bad)
    intercept[Exception](new PipelineRunner(spark, repo, reg2).run(bad))
    assert(repo.history("maint2").map(_.status) == Seq("running", "error"))

    // streaming guard: a streaming plan applies transforms ONCE at
    // query setup, so the eager rewrite would fire at setup time, not
    // per tick — the transform must refuse loudly (r12 advice)
    val streamFrame = spark.readStream.format("rate").load()
    val err = intercept[IllegalArgumentException](
      registry("compact_layout")(streamFrame))
    assert(err.getMessage.contains("PipelineScheduler"),
      s"message should direct streaming deployments to the scheduler: ${err.getMessage}")
  }

  test("declarative admission-index maintenance: compact_dedup_index step folds batch dirs") {
    import org.apache.spark.sql.functions.col
    val (repo, dataDir) = setup()
    // an admission index accumulated by six one-batch ticks
    val idx = s"$dataDir/dedupidx"
    def doc(seed: Int) = (0 until 25).map(j => s"t${seed}x$j").mkString(" ")
    graft.ops.Dedup.createExactDedupIndex(spark, idx,
      Seq((0L, doc(0))).toDF("doc_id", "text"), 800L)
    (0 until 6).foreach { i =>
      graft.ops.Dedup.admitExactDedup(
        Seq((i.toLong, doc(i))).toDF("doc_id", "text"), idx, i.toLong)
      graft.CacheScope.drain()
    }
    val fs = graft.connect.Hfs.fs(spark, idx)
    def dirs() = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idx, "docs")).size
    val before = dirs()
    assert(before == 6)
    val registry = new TransformRegistry
    CurationTransforms.registerDedupIndexCompaction(registry, spark, idx)
    val spec = pipeline(
      s"""{"id":"dimaint","name":"nightly dedup-index compaction","recurrence":"0 4 * * *","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_dedup_index"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"dimaint_out","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
    assert(repo.history("dimaint").map(_.status) == Seq("running", "success"))
    assert(dirs() == 2, s"expected [consolidated, live], got ${dirs()}") // 5 folded + live
    // a post-compaction tick still dedups correctly: a re-arrival of an
    // already-admitted doc self-rejects, a fresh doc admits
    val adm = graft.ops.Dedup.admitExactDedup(
      Seq((100L, doc(2)), (101L, doc(99))).toDF("doc_id", "text"), idx, 50L)
      .select(col("doc_id")).as[Long].collect().toSet
    graft.CacheScope.drain()
    assert(adm == Set(101L), s"post-compaction admissions wrong: $adm")
    // streaming guard mirrors compact_layout's
    val err = intercept[IllegalArgumentException](
      registry("compact_dedup_index")(spark.readStream.format("rate").load()))
    assert(err.getMessage.contains("PipelineScheduler"))
  }

  test("sanitize load applies reference null semantics (SURVEY §1.3)") {
    val (repo, dataDir) = setup()
    Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-05-05 10:11:12.345")), Some("x")),
      (2L, None, None))
      .toDF("id", "ts", "s")
      .write.mode("overwrite").parquet(s"$dataDir/src2")
    val spec = pipeline(
      s"""{"id":"p7","name":"san","steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src2"},
         |{"stepType":"load","name":"sink","order":2,"connectionId":"local","path":"out7","mode":"replace","sanitize":true}
         |]}""".stripMargin)
    new PipelineRunner(spark, repo).run(spec)
    val out = spark.read.parquet(s"$dataDir/out7").orderBy("id").collect()
    // ts truncated to seconds; NaT -> 1900-01-01; null string -> ""
    assert(out(0).getTimestamp(1) == java.sql.Timestamp.valueOf("2024-05-05 10:11:12"))
    assert(out(1).getTimestamp(1) == java.sql.Timestamp.valueOf("1900-01-01 00:00:00"))
    assert(out(0).getString(2) == "x")
    assert(out(1).getString(2) == "")
  }
}
