package graft.exec

import graft.SparkSpec
import graft.model._
import graft.sched.PipelineScheduler
import graft.store.Repository
import graft.streaming.StreamOps
import java.time.Instant

/** The reference's actual product shape, run end-to-end as ONE
  * composition: a persisted PipelineSpec fires on a scheduler tick
  * (first-seen-skip honored), its extract is a STREAMING file source
  * over a landing directory, a SQL transform reshapes the frame, and
  * the load is the bucketed CDC upsert sink — each run an AvailableNow
  * incremental drain whose offsets live in the load checkpoint, with
  * the engine.run history contract (running→success,
  * core/engine.py:40-76) asserted per run. The second run happens on a
  * FRESH scheduler instance (process restart) after the first batch's
  * landing files are DELETED — so the only way the early keys can
  * survive into the final snapshot is via the persisted snapshot +
  * checkpoint resume, proving the drain is incremental, not a rescan.
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val specJson =
    s"""{"id":"cdc","name":"landing-to-snapshot","recurrence":"*/15","enabled":true,"steps":[
       |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
       | "path":"landing","options":{"streaming":"true"}},
       |{"stepType":"transform","name":"shape","order":2,"kind":"sql",
       | "sql":"SELECT id, ver, upper(tag) AS tag, amount * 2 AS amount FROM input"},
       |{"stepType":"load","name":"snapshot","order":3,"connectionId":"local",
       | "path":"snapshot","mode":"upsert",
       | "options":{"keyCol":"id","versionCol":"ver","numBuckets":"4",
       |            "checkpointLocation":"ckpt"}}
       |]}""".stripMargin

  test("scheduled streaming pipeline: tick -> drain -> CDC upsert, incremental across restart") {
    val dataDir = tmpDir("graft-stream-e2e").toString
    val repo = new Repository(tmpDir("graft-stream-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    repo.savePipeline(PipelineJson.parsePipeline(specJson))

    // batch 1 lands, with an in-batch version collision on id=2
    Seq((1L, "a", 1L, 10.0), (2L, "b", 1L, 20.0), (2L, "bb", 2L, 25.0), (3L, "c", 1L, 30.0))
      .toDF("id", "tag", "ver", "amount")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")

    var now = Instant.parse("2026-03-01T08:00:10Z")
    val sched1 = new PipelineScheduler(new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched1.tick().isEmpty) // first sight: scheduled, never run immediately
    now = Instant.parse("2026-03-01T08:15:05Z")
    assert(sched1.tick() == Seq("cdc"))
    sched1.stop() // drains the worker pool -> run 1 is complete

    assert(repo.history("cdc").map(_.status) == Seq("running", "success"))
    val snap1 = StreamOps.readBucketedSnapshot(spark, s"$dataDir/snapshot")
      .select($"id", $"ver", $"tag", $"amount").as[(Long, Long, String, Double)]
      .collect().sortBy(_._1)
    // transformed (upper tag, doubled amount); id=2 resolved to ver 2
    assert(snap1.toSeq == Seq((1L, 1L, "A", 20.0), (2L, 2L, "BB", 50.0), (3L, 1L, "C", 60.0)))

    // delete batch 1's files: a rescan would now see nothing of them
    val landing = new java.io.File(s"$dataDir/landing")
    val old = landing.listFiles().filter(_.getName.startsWith("part-"))
    assert(old.nonEmpty)
    old.foreach(f => assert(f.delete()))
    // batch 2: an update for id=2 and a brand-new id=4
    Seq((2L, "b2", 3L, 99.0), (4L, "d", 1L, 40.0))
      .toDF("id", "tag", "ver", "amount")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")

    // fresh scheduler = restart; same repo, same checkpoint
    val sched2 = new PipelineScheduler(new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched2.tick().isEmpty) // first-seen-skip applies per process
    now = Instant.parse("2026-03-01T08:30:05Z")
    assert(sched2.tick() == Seq("cdc"))
    sched2.stop()

    assert(repo.history("cdc").map(_.status) ==
      Seq("running", "success", "running", "success"))
    val snap2 = StreamOps.readBucketedSnapshot(spark, s"$dataDir/snapshot")
      .select($"id", $"ver", $"tag", $"amount").as[(Long, Long, String, Double)]
      .collect().sortBy(_._1)
    // ids 1,3 survive from the snapshot (their source files are gone),
    // id 2 upserted to ver 3, id 4 inserted
    assert(snap2.toSeq == Seq(
      (1L, 1L, "A", 20.0), (2L, 3L, "B2", 198.0), (3L, 1L, "C", 60.0), (4L, 1L, "D", 80.0)))

    // a tick whose merge fails (an unreadable file in every snapshot
    // bucket) still releases what its micro-batch persisted
    new java.io.File(s"$dataDir/snapshot").listFiles()
      .filter(_.getName.startsWith("bucket=")).foreach { b =>
        java.nio.file.Files.write(new java.io.File(b, "current/part-bad.parquet").toPath,
          "not parquet".getBytes)
      }
    Seq((1L, "a3", 2L, 11.0), (2L, "b3", 4L, 12.0), (3L, "c3", 2L, 13.0), (4L, "d3", 2L, 14.0))
      .toDF("id", "tag", "ver", "amount")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val sched3 = new PipelineScheduler(new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched3.tick().isEmpty)
    now = Instant.parse("2026-03-01T08:45:05Z")
    assert(sched3.tick() == Seq("cdc"))
    sched3.stop()
    assert(repo.history("cdc").map(_.status).last == "error")
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- persistedBefore
    assert(left.isEmpty, s"the failed upsert tick left $left persisted")
  }

  test("streaming curation: frozen-model filter + shard-append load across two ticks") {
    import graft.ops.TextAnalysis
    val dataDir = tmpDir("graft-stream-curate").toString
    val repo = new Repository(tmpDir("graft-stream-curate-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    // separable corpus: curated sources speak the alpha vocabulary
    def mk(ids: Range) = ids.map { i =>
      val curated = i % 2 == 0
      val words = if (curated) Seq("alpha", "beta", "gamma") else Seq("zeta", "eta", "theta")
      (i.toLong, (words :+ s"tok${i % 5}").mkString(" "), "en",
        if (curated) "cur" else "crawl", 20L)
    }
    val all = mk(0 until 80)
    val allDf = all.toDF("doc_id", "text", "lang", "source", "n_chars")
    // train offline on the full corpus, freeze, register the filter
    val modelPath = s"$dataDir/qmodel"
    TextAnalysis.saveQualityModel(spark,
      TextAnalysis.trainQualityModel(spark, allDf, Seq("cur")), modelPath)
    graft.CacheScope.drain()
    val registry = new TransformRegistry
    CurationTransforms.registerModelFilter(registry, spark, modelPath)

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"curate-stream","name":"landing-to-shards","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"transform","name":"filter","order":2,"kind":"named","transformName":"model_filter"},
         |{"stepType":"load","name":"shards","order":3,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"8","checkpointLocation":"ck"}}
         |]}""".stripMargin))

    def manifestTotal(): Long = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dataDir/shards/_shards.json")))
      """"n_rows":\s*(\d+)""".r.findAllMatchIn(text).map(_.group(1).toLong).sum
    }

    // tick 1 drains the first 50 docs
    all.take(50).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-02T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-02T08:15:05Z")
    assert(sched.tick() == Seq("curate-stream"))
    // tick 2 drains the remaining 30
    all.drop(50).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-02T08:30:05Z")
    assert(sched.tick() == Seq("curate-stream"))
    sched.stop()

    assert(repo.history("curate-stream").map(_.status) ==
      Seq("running", "success", "running", "success"))
    // the shard layout holds EXACTLY the model-approved (curated) docs,
    // accumulated across both drains, and the manifest accounts for them
    val written = spark.read.parquet(s"$dataDir/shards")
    val expected = all.filter(_._1 % 2 == 0).map(_._1).toSet
    assert(written.select($"doc_id").as[Long].collect().toSet == expected)
    assert(manifestTotal() == expected.size.toLong)
  }

  test("streaming decontamination: frozen bench-prefix index served stream-static per tick") {
    val dataDir = tmpDir("graft-stream-decon").toString
    val repo = new Repository(tmpDir("graft-stream-decon-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    // bench vocabulary is disjoint from the clean corpus vocabulary,
    // so containment flags EXACTLY the planted copies/quotes
    val bench = (1L to 3L).map(i =>
      (i, (0 until 8).map(j => s"b${i}x$j").mkString(" ")))
    val benchDf = bench.toDF("doc_id", "text")
    // freeze the index OFFLINE (the scheduled drain must never
    // recompute bench prefixes per tick), serve it stream-static
    val idxPath = s"$dataDir/benchidx"
    graft.ops.Dedup.saveBenchPrefixIndex(benchDf, benchDf, 1000L, idxPath)
    graft.CacheScope.drain()
    val registry = new TransformRegistry
    CurationTransforms.registerExactDecontaminateFrozen(registry, idxPath)

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"decon-stream","name":"landing-decontaminated","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"transform","name":"decon","order":2,"kind":"named","transformName":"exact_decontaminate"},
         |{"stepType":"load","name":"shards","order":3,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck"}}
         |]}""".stripMargin))

    def clean(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 6).map(j => s"c${i}w$j").mkString(" ")))
    // tick 1: 20 clean docs + one EXACT bench copy
    (clean(100 until 120) :+ (200L, bench(0)._2))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-02T09:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty) // first-seen skip
    now = Instant.parse("2026-03-02T09:15:05Z")
    assert(sched.tick() == Seq("decon-stream"))
    // tick 2: 20 clean docs + the QUOTED-benchmark shape (containment
    // 1000 inside a doc several times the bench item's size)
    (clean(120 until 140) :+
        (201L, "p1 p2 p3 p4 " + bench(1)._2 + " q1 q2 q3 q4"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-02T09:30:05Z")
    assert(sched.tick() == Seq("decon-stream"))
    sched.stop()

    // both planted contaminated docs were dropped AT THEIR TICK; every
    // clean doc from both drains landed
    val written = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSet
    assert(written == (100L until 140L).toSet,
      s"unexpected shard contents: missing=${(100L until 140L).toSet -- written} " +
        s"extra=${written -- (100L until 140L).toSet}")
  }

  test("streaming decontamination above the serve ceiling: per-tick shuffle path via the load option") {
    // the transform-registry route serves the frozen index as a
    // per-row broadcast, which REFUSES above maxBenchShingles; the
    // over-ceiling recipe is the shard-load's exactDecontaminateIndex
    // option — the same frozen artifact, but the shuffle path
    // (exactDecontaminateFrozen) runs on each drained micro-batch
    // inside foreachBatch, where no broadcast ceiling applies
    val dataDir = tmpDir("graft-stream-decon-big").toString
    val repo = new Repository(tmpDir("graft-stream-decon-big-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    val bench = (1L to 3L).map(i =>
      (i, (0 until 8).map(j => s"B${i}y$j").mkString(" ")))
    val benchDf = bench.toDF("doc_id", "text")
    val idxPath = s"$dataDir/benchidx"
    graft.ops.Dedup.saveBenchPrefixIndex(benchDf, benchDf, 1000L, idxPath)
    graft.CacheScope.drain()
    // the per-row serve route refuses this bench at a tight ceiling —
    // the exact situation the load option exists for (the real 2M
    // default would need a gigabyte-scale bench in a unit test; the
    // ceiling is a parameter, the refusal path is what's under test)
    val dummy = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val refused = intercept[IllegalArgumentException](
      graft.ops.Dedup.exactDecontaminateServe(dummy, idxPath, maxBenchShingles = 1L))
    assert(refused.getMessage.contains("exactDecontaminateFrozen"))

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"decon-big","name":"landing-decon-shuffle","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"shards","order":2,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck",
         |            "exactDecontaminateIndex":"benchidx"}}
         |]}""".stripMargin))

    def clean(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 6).map(j => s"C${i}w$j").mkString(" ")))
    (clean(100 until 120) :+ (200L, bench(0)._2))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-03T09:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, new TransformRegistry), repo, () => now, 1)
    assert(sched.tick().isEmpty) // first-seen skip
    now = Instant.parse("2026-03-03T09:15:05Z")
    assert(sched.tick() == Seq("decon-big"))
    // second tick: a quoted-benchmark doc plus clean docs
    (clean(120 until 140) :+
        (201L, "x1 x2 x3 x4 " + bench(1)._2 + " z1 z2 z3 z4"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-03T09:30:05Z")
    assert(sched.tick() == Seq("decon-big"))
    sched.stop()

    val written = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSet
    assert(written == (100L until 140L).toSet,
      s"unexpected shard contents: missing=${(100L until 140L).toSet -- written} " +
        s"extra=${written -- (100L until 140L).toSet}")
  }

  test("streaming exact dedup: arrivals admitted against the incremental prefix index, shards hold survivors") {
    val dataDir = tmpDir("graft-stream-exdedup").toString
    val repo = new Repository(tmpDir("graft-stream-exdedup-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    def words(prefix: String, n: Int) = (0 until n).map(j => s"$prefix$j").mkString(" ")
    // create the index with a frozen token order from a tiny reference
    graft.ops.Dedup.createExactDedupIndex(spark, s"$dataDir/dedupidx",
      Seq((0L, words("r", 10))).toDF("doc_id", "text"), 800L)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"exdedup-stream","name":"landing-deduped-shards","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"shards","order":2,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck",
         |            "exactDedupIndex":"dedupidx"}}
         |]}""".stripMargin))

    // tick 1: two uniques + an in-batch exact copy (102 of 101)
    Seq((101L, words("a", 12)), (102L, words("a", 12)), (103L, words("b", 12)))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-02T10:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-02T10:15:05Z")
    assert(sched.tick() == Seq("exdedup-stream"))
    // tick 2: a CROSS-TICK near-copy of 101 (one extra word), one unique
    Seq((201L, words("a", 12) + " extra"), (202L, words("c", 12)))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-02T10:30:05Z")
    assert(sched.tick() == Seq("exdedup-stream"))
    sched.stop()

    // shards hold exactly the arrival-order survivors: 101 (min-id of
    // the tick-1 pair), 103, 202 — the tick-2 near-copy was rejected
    // against the INDEX, not against anything in its own batch
    val written = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSet
    assert(written == Set(101L, 103L, 202L), s"got $written")
    // and the index accumulated exactly the admitted docs
    val idxIds = spark.read.parquet(s"$dataDir/dedupidx/docs")
      .select($"doc_id").as[Long].collect().toSet
    assert(idxIds == Set(101L, 103L, 202L))
  }

  test("streaming chunking: window_chunk per tick accumulates exactly the batch chunker's frame") {
    import graft.ops.TextAnalysis
    val dataDir = tmpDir("graft-stream-chunk").toString
    val repo = new Repository(tmpDir("graft-stream-chunk-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    val registry = new TransformRegistry
    CurationTransforms.registerWindowChunk(registry, win = 8, stride = 6)

    // docs long enough to cut (win 8 / stride 6): 20 words each
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, (0 until 20).map(j => s"d${i}w$j").mkString(" "), "en", "s", 40L)
    }
    val all = mk(0 until 60)
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"chunk-stream","name":"landing-to-chunks","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"transform","name":"chunks","order":2,"kind":"named","transformName":"window_chunk"},
         |{"stepType":"load","name":"store","order":3,"connectionId":"local",
         | "path":"chunks","mode":"append","options":{"checkpointLocation":"ck"}}
         |]}""".stripMargin))

    all.take(35).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-02T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty) // first-seen skip
    now = Instant.parse("2026-03-02T08:15:05Z")
    assert(sched.tick() == Seq("chunk-stream"))
    all.drop(35).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-02T08:30:05Z")
    assert(sched.tick() == Seq("chunk-stream"))
    sched.stop()

    // a granularity-CHANGING transform through the streaming path:
    // accumulated chunk store == the batch chunker over the full corpus
    val batch = TextAnalysis.windowChunkText(
      all.toDF("doc_id", "text", "lang", "source", "n_chars"), 8, 6)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens", $"chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    val streamed = spark.read.parquet(s"$dataDir/chunks")
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens", $"chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
    // 20 words at (8, 6) = 1 + ceil(12/6) = 3 windows per doc
    assert(batch.size == 60 * 3)
  }

  test("streaming ANN maintenance: landing embeddings -> rotated index append across two ticks") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.concat_ws
    val dataDir = tmpDir("graft-stream-ann").toString
    val repo = new Repository(tmpDir("graft-stream-ann-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    val rnd = new scala.util.Random(23)
    val all = (0L until 120L).map(id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val allDf = all.toDF("vec_id", "embedding")
    // freeze the basis offline on the full corpus, like a deployment
    val pcaPath = s"$dataDir/pcam"
    Similarity.savePcaModel(spark,
      Similarity.trainPcaModel(spark, allDf, k = 2), pcaPath)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"ann-stream","name":"landing-to-index","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"annidx","mode":"append",
         | "options":{"annIndex":"prefix","pcaModel":"$pcaPath","checkpointLocation":"ck"}}
         |]}""".stripMargin))

    // tick 1 drains the first 70 vectors, tick 2 the remaining 50
    all.take(70).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-03T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-03T08:15:05Z")
    assert(sched.tick() == Seq("ann-stream"))
    all.drop(70).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-03T08:30:05Z")
    assert(sched.tick() == Seq("ann-stream"))
    sched.stop()

    assert(repo.history("ann-stream").map(_.status) ==
      Seq("running", "success", "running", "success"))
    // the streamed index equals a full offline rebuild, row for row,
    // and probes serve identically from it
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", concat_ws(",", $"pq".cast("array<string>")), $"pn2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val model = Similarity.loadPcaModel(spark, pcaPath)
    val rebuilt = rows(Similarity.buildRotatedPrefixIndex(spark, allDf, model, dims = 2))
    graft.CacheScope.drain()
    assert(rows(spark.read.parquet(s"$dataDir/annidx")) == rebuilt)
    val queries = allDf.filter($"vec_id" % 50 === 0)
    val servedStream = Similarity.probeRotatedPrefixIndex(spark, allDf, queries,
      model, spark.read.parquet(s"$dataDir/annidx"), dims = 2, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    graft.CacheScope.drain()
    val servedRebuild = Similarity.probeRotatedPrefixIndex(spark, allDf, queries,
      model, Similarity.buildRotatedPrefixIndex(spark, allDf, model, dims = 2),
      dims = 2, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    graft.CacheScope.drain()
    assert(servedStream == servedRebuild && servedStream.nonEmpty)
  }

  test("streaming ANN maintenance: ivfpq kind appends the grouped layout across two ticks") {
    import graft.ops.Similarity
    val dataDir = tmpDir("graft-stream-ivf").toString
    val repo = new Repository(tmpDir("graft-stream-ivf-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    val rnd = new scala.util.Random(29)
    val all = (0L until 120L).map(id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val allDf = all.toDF("vec_id", "embedding")
    // codebooks are trained OFFLINE and frozen — the maintenance loop
    // must never move them (existing codes would stop meaning anything)
    val modelPath = s"$dataDir/ivfm"
    Similarity.saveIvfPqModel(Similarity.trainIvfPq(spark, allDf), modelPath)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"ivf-stream","name":"landing-to-ivf-index","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"ivfidx","mode":"append",
         | "options":{"annIndex":"ivfpq","ivfpqModel":"$modelPath","checkpointLocation":"ck"}}
         |]}""".stripMargin))

    all.take(70).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-04T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-04T08:15:05Z")
    assert(sched.tick() == Seq("ivf-stream"))
    all.drop(70).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-04T08:30:05Z")
    assert(sched.tick() == Seq("ivf-stream"))
    sched.stop()
    assert(repo.history("ivf-stream").map(_.status) ==
      Seq("running", "success", "running", "success"))

    // streamed index == offline rebuild, the layout is the GROUPED
    // default (r14: new saves choose list_group= at the k-adaptive width
    // unless flat is requested), and probes serve identically
    val model = Similarity.loadIvfPqModel(spark, modelPath)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"centroid".cast("long"), $"sub".cast("int"), $"code".cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val rebuilt = rows(Similarity.indexIvfPq(spark, allDf, model))
    graft.CacheScope.drain()
    val (streamedIdx, width) = Similarity.loadIvfPqIndexLayout(spark, s"$dataDir/ivfidx")
    assert(width.exists(_ >= 1),
      s"streaming maintenance must create the grouped default, got $width")
    assert(rows(streamedIdx) == rebuilt)
    val listDirs = new java.io.File(s"$dataDir/ivfidx").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(listDirs.nonEmpty && listDirs.forall(_.startsWith("list_group=")))
    val queries = allDf.filter($"vec_id" % 40 === 0)
    val servedStream = Similarity.probeIvfPq(spark, allDf, queries, model,
      streamedIdx, listsPerDir = width).collect().toSeq
    graft.CacheScope.drain()
    val servedRebuild = Similarity.probeIvfPq(spark, allDf, queries, model,
      Similarity.indexIvfPq(spark, allDf, model)).collect().toSeq
    graft.CacheScope.drain()
    assert(servedStream == servedRebuild && servedStream.nonEmpty)
  }

  test("landing-dir drain is admission-bounded: the backlog splits into capped micro-batches") {
    // five files land before the first run — an unbounded AvailableNow
    // drain would hand all five to ONE micro-batch (the measured OOM
    // path at deployment backlog sizes). A connection-level
    // maxFilesPerTrigger=2 is the deployment sizing; the drain must
    // still deliver every row, as ceil(5/2)=3 bounded batches.
    val dataDir = tmpDir("graft-stream-adm").toString
    val repo = new Repository(tmpDir("graft-stream-adm-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir, "maxFilesPerTrigger" -> "2")))
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"f$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    }
    val p = PipelineSpec("adm", "bounded drain", None, enabled = true, steps = List(
      ExtractStep("e", 1, "local", path = Some("landing"),
        options = Map("streaming" -> "true")),
      LoadStep("l", 2, "local", path = Some("out"), mode = "append",
        options = Map("checkpointLocation" -> "ckpt"))))
    repo.savePipeline(p)
    assert(new PipelineRunner(spark, repo).run(p).status == "success")
    assert(spark.read.parquet(s"$dataDir/out").count() == 5)
    val batches = new java.io.File(s"$dataDir/ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches == 3, s"5 files at maxFilesPerTrigger=2 must drain as 3 batches, got $batches")
  }

  /** Poll the run history until pipeline `id` has `n` rows and the
    * last one succeeded — the scheduler's worker pool is asynchronous,
    * and the lifecycle tests below must not land the next tick's files
    * (or run a compaction) while a drain is still in flight. */
  private def waitRuns(repo: Repository, id: String, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (repo.history(id).size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val h = repo.history(id)
    assert(h.size == n && h.last.status == "success",
      s"runs for $id: ${h.map(_.status)}")
  }

  test("streaming BM25 maintenance: landing docs -> index generations across three ticks, compaction, serve == rebuild") {
    import graft.ops.TextAnalysis
    val dataDir = tmpDir("graft-stream-bm25").toString
    val repo = new Repository(tmpDir("graft-stream-bm25-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    // overlapping vocabulary so df/len statistics matter: shared w#
    // tokens + a unique token per doc
    val all = (0 until 60).map { i =>
      (i.toLong, (0 until 6).map(j => s"w${(i + j) % 9}").mkString(" ") + s" u$i")
    }
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"bm25-stream","name":"landing-to-bm25-index","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"bm25idx","mode":"append",
         | "options":{"bm25Index":"true","checkpointLocation":"ck"}}
         |]}""".stripMargin))

    var now = Instant.parse("2026-03-05T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty) // first-seen skip
    Seq((all.take(20), "08:15"), (all.slice(20, 40), "08:30"),
        (all.drop(40), "08:45")).zipWithIndex.foreach { case ((slice, t), i) =>
      slice.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
      now = Instant.parse(s"2026-03-05T$t:05Z")
      assert(sched.tick() == Seq("bm25-stream"))
      waitRuns(repo, "bm25-stream", 2 * (i + 1))
    }
    sched.stop()

    val idx = s"$dataDir/bm25idx"
    val fs = graft.connect.Hfs.fs(spark, idx)
    def batches() = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idx, "postings")).map(_.getName).sorted
    assert(batches() == Seq("batch=0", "batch=1", "batch=2"))

    // scheduled maintenance: the declarative compact_bm25_index step
    // folds batches 0+1 (2 stays live as the replayable batch)
    Seq((0L, "seed")).toDF("id", "tag").write.mode("overwrite")
      .parquet(s"$dataDir/src")
    val registry = new TransformRegistry
    CurationTransforms.registerBm25IndexCompaction(registry, spark, idx)
    val maint = PipelineJson.parsePipeline(
      s"""{"id":"bm25-maint","name":"nightly bm25 compaction","recurrence":"0 4 * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_bm25_index"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(maint)
    assert(new PipelineRunner(spark, repo, registry).run(maint).status == "success")
    assert(batches() == Seq("batch=-1", "batch=2"))
    // streaming guard mirrors the other compaction transforms
    val err = intercept[IllegalArgumentException](
      registry("compact_bm25_index")(spark.readStream.format("rate").load()))
    assert(err.getMessage.contains("PipelineScheduler"))

    // the streamed-and-compacted index serves BIT-IDENTICALLY to a
    // one-shot offline rebuild over the same corpus — the append ==
    // rebuild invariant through the real streaming machinery
    val queries = all.take(4).map { case (id, text) => (id, text) }
      .toDF("doc_id", "text")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
    val rebuilt = s"$dataDir/bm25-rebuilt"
    TextAnalysis.saveBm25Index(all.toDF("doc_id", "text"), rebuilt)
    graft.CacheScope.drain()
    val servedStream = TextAnalysis.bm25Serve(spark, queries, idx).collect().toSeq
    graft.CacheScope.drain()
    val servedRebuild = TextAnalysis.bm25Serve(spark, queries, rebuilt).collect().toSeq
    assert(servedStream == servedRebuild && servedStream.nonEmpty,
      "streamed index diverged from offline rebuild")
  }

  test("streaming lexical decontamination: bm25DecontaminateIndex drops a rephrasing the exact route provably misses") {
    val dataDir = tmpDir("graft-stream-bm25dec").toString
    val repo = new Repository(tmpDir("graft-stream-bm25dec-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    // the planted leak: SAME eight words, reordered — every 3-gram
    // shingle differs, so n-gram containment can never flag it, but
    // every BM25 query term matches
    val rephrase = "beta alpha delta gamma theta eta zeta epsilon"
    val benchDf = Seq((1L, benchText)).toDF("doc_id", "text")
    benchDf.write.mode("overwrite").parquet(s"$dataDir/benchdocs")
    val exactIdx = s"$dataDir/benchidx"
    graft.ops.Dedup.saveBenchPrefixIndex(benchDf, benchDf, 1000L, exactIdx)
    graft.CacheScope.drain()

    // PROOF the exact route is blind to this shape: the frozen-index
    // shuffle path keeps the rephrasing (zero shared shingles)
    val exactOnly = graft.ops.Dedup.exactDecontaminateFrozen(
      Seq((201L, rephrase)).toDF("doc_id", "text"), exactIdx, None)
      .select($"doc_id").as[Long].collect().toSet
    graft.CacheScope.drain()
    assert(exactOnly == Set(201L),
      "exact route unexpectedly caught the rephrasing — test premise broken")

    // belt-and-suspenders pipeline: BOTH routes on the shard load
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"lexdec-stream","name":"landing-lexically-decontaminated","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"shards","order":2,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck",
         |            "exactDecontaminateIndex":"benchidx",
         |            "bm25DecontaminateIndex":"benchdocs"}}
         |]}""".stripMargin))

    def clean(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 6).map(j => s"c${i}w$j").mkString(" ")))
    // tick 1: clean docs + an EXACT bench copy (the exact route's case)
    (clean(100 until 120) :+ (200L, benchText))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-05T09:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-05T09:15:05Z")
    assert(sched.tick() == Seq("lexdec-stream"))
    waitRuns(repo, "lexdec-stream", 2)
    // tick 2: clean docs + the rephrasing only BM25 can catch
    (clean(120 until 140) :+ (201L, rephrase))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-05T09:30:05Z")
    assert(sched.tick() == Seq("lexdec-stream"))
    waitRuns(repo, "lexdec-stream", 4)
    sched.stop()

    // both planted leaks dropped at their tick; every clean doc landed
    // (clean vocab shares no query term, so BM25 never scores it)
    val written = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSet
    assert(written == (100L until 140L).toSet,
      s"unexpected shard contents: missing=${(100L until 140L).toSet -- written} " +
        s"extra=${written -- (100L until 140L).toSet}")
  }

  test("streaming semantic decontamination: semanticDecontaminateIndex drops embedding-space leaks before the index append") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.concat_ws
    val dataDir = tmpDir("graft-stream-semdec").toString
    val repo = new Repository(tmpDir("graft-stream-semdec-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    // frozen benchmark embeddings: two held-out eval vectors. The
    // planted leaks are an EXACT copy (tick 1) and a paraphrase-shaped
    // near-copy (tick 2: the bench vector nudged by a small delta,
    // cosine ≈ 0.9999) — the representation-space shape no text route
    // can see. Clean rows are independent 16-dim Gaussians: near-
    // orthogonal to everything (cos ≈ 0), far under τ = 0.95.
    val rnd = new scala.util.Random(31)
    def gauss() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bench = Seq((9001L, gauss()), (9002L, gauss()))
    bench.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dataDir/benchemb")
    val nearCopy = bench(1)._2.map(x => x + 0.01f)
    val tick1 = (100L until 110L).map(id => (id, gauss())) :+ (200L, bench.head._2)
    val tick2 = (110L until 120L).map(id => (id, gauss())) :+ (201L, nearCopy)
    val kept = (tick1 ++ tick2).filterNot { case (id, _) => id >= 200L }

    // the basis is frozen offline on what a deployment has: the
    // DECONTAMINATED corpus (leaks never reach training artifacts)
    val pcaPath = s"$dataDir/pcam"
    Similarity.savePcaModel(spark,
      Similarity.trainPcaModel(spark, kept.toDF("vec_id", "embedding"), k = 2), pcaPath)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"semdec-stream","name":"landing-semantically-decontaminated","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"annidx","mode":"append",
         | "options":{"annIndex":"prefix","pcaModel":"$pcaPath","checkpointLocation":"ck",
         |            "semanticDecontaminateIndex":"benchemb"}}
         |]}""".stripMargin))

    tick1.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-06T09:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-06T09:15:05Z")
    assert(sched.tick() == Seq("semdec-stream"))
    waitRuns(repo, "semdec-stream", 2)
    tick2.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-06T09:30:05Z")
    assert(sched.tick() == Seq("semdec-stream"))
    waitRuns(repo, "semdec-stream", 4)
    sched.stop()

    // both planted leaks dropped at their tick, every clean row
    // indexed — and because the drop is a per-row predicate against a
    // FROZEN set, the streamed index ≡ offline decontaminate-then-
    // build, row for row, whatever the tick boundaries
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", concat_ws(",", $"pq".cast("array<string>")), $"pn2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$dataDir/annidx"))
    assert(streamed.map(_._1) == kept.map(_._1).toSet,
      s"index ids diverged: extra=${streamed.map(_._1) -- kept.map(_._1)}")
    val model = Similarity.loadPcaModel(spark, pcaPath)
    val offline = rows(Similarity.buildRotatedPrefixIndex(spark,
      Similarity.semanticDecontaminate(spark,
        (tick1 ++ tick2).toDF("vec_id", "embedding"),
        bench.toDF("vec_id", "embedding"), tauMilli = 950L),
      model, dims = 2))
    graft.CacheScope.drain()
    assert(streamed == offline)
  }

  test("streaming semantic dedup admission: semanticDedupIndex rejects in-tick and cross-tick near-dups before the index append") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.concat_ws
    val dataDir = tmpDir("graft-stream-semadm").toString
    val repo = new Repository(tmpDir("graft-stream-semadm-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    // clean rows are independent Gaussians (near-orthogonal); the
    // planted dups are tiny perturbations (cos ≈ 0.9999): 150 is an
    // in-tick near-dup of 100 (lower id wins), 170 a CROSS-tick
    // near-dup of 101 (already admitted ⇒ rejected at its tick)
    val rnd = new scala.util.Random(37)
    def gauss() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val clean1 = (100L until 105L).map(id => (id, gauss()))
    val clean2 = (160L until 165L).map(id => (id, gauss()))
    val tick1 = clean1 :+ (150L, clean1.head._2.map(x => x + 0.01f))
    val tick2 = clean2 :+ (170L, clean1(1)._2.map(x => x + 0.01f))
    val admitted = clean1 ++ clean2

    // codebook reference: the expected stream content, re-keyed from 0
    // so the deterministic k-means has its seeds (ids never interact
    // with admission ids — only the centroids are kept)
    val semIdx = s"$dataDir/semidx"
    Similarity.createSemanticDedupIndex(spark, semIdx,
      admitted.zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
        .toDF("vec_id", "embedding"),
      tauMilli = 950L, k = 2, iters = 2)
    val pcaPath = s"$dataDir/pcam"
    Similarity.savePcaModel(spark,
      Similarity.trainPcaModel(spark, admitted.toDF("vec_id", "embedding"), k = 2), pcaPath)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"semadm-stream","name":"landing-semantically-deduped","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"annidx","mode":"append",
         | "options":{"annIndex":"prefix","pcaModel":"$pcaPath","checkpointLocation":"ck",
         |            "semanticDedupIndex":"semidx"}}
         |]}""".stripMargin))

    tick1.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    var now = Instant.parse("2026-03-07T09:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    now = Instant.parse("2026-03-07T09:15:05Z")
    assert(sched.tick() == Seq("semadm-stream"))
    waitRuns(repo, "semadm-stream", 2)
    tick2.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
    now = Instant.parse("2026-03-07T09:30:05Z")
    assert(sched.tick() == Seq("semadm-stream"))
    waitRuns(repo, "semadm-stream", 4)
    sched.stop()

    // the ANN index holds exactly the admitted rows — and equals an
    // offline build over that subset (the pipeline wiring proof)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", concat_ws(",", $"pq".cast("array<string>")), $"pn2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$dataDir/annidx"))
    assert(streamed.map(_._1) == admitted.map(_._1).toSet,
      s"ann index ids diverged: got ${streamed.map(_._1)}")
    val model = Similarity.loadPcaModel(spark, pcaPath)
    val offline = rows(Similarity.buildRotatedPrefixIndex(spark,
      admitted.toDF("vec_id", "embedding"), model, dims = 2))
    graft.CacheScope.drain()
    assert(streamed == offline)
    // the admission index itself carries the per-tick generations
    val gens = spark.read.option("basePath", s"$semIdx/vecs")
      .parquet(s"$semIdx/vecs")
      .select($"vec_id", $"batch".cast("long")).as[(Long, Long)]
      .collect().toSet
    assert(gens == (clean1.map(c => (c._1, 0L)) ++
      clean2.map(c => (c._1, 1L))).toSet, s"index generations: $gens")
  }

  test("admission-index lifecycle end-to-end: scheduled ticks + scheduled compactions + mid-stream replay == brute-force arrival-order dedup") {
    val dataDir = tmpDir("graft-adm-e2e").toString
    val repo = new Repository(tmpDir("graft-adm-e2e-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    def words(prefix: String, n: Int) = (0 until n).map(j => s"$prefix$j").mkString(" ")
    val idx = s"$dataDir/dedupidx"
    graft.ops.Dedup.createExactDedupIndex(spark, idx,
      Seq((0L, words("r", 10))).toDF("doc_id", "text"), 800L)
    graft.CacheScope.drain()

    // the full arrival schedule: in-batch exact dup (tick 1), cross-
    // tick near-dups against earlier ticks (2: of 101; 3: of 103;
    // 4: of 202), an in-batch FAMILY whose representative survives
    // (tick 3), and fresh docs throughout
    val ticks: Seq[Seq[(Long, String)]] = Seq(
      Seq((101L, words("a", 12)), (102L, words("a", 12)), (103L, words("b", 12))),
      Seq((201L, words("a", 12) + " extra"), (202L, words("c", 12))),
      Seq((301L, words("b", 12) + " extra"), (302L, words("d", 12)),
        (303L, words("d", 12) + " extra")),
      Seq((401L, words("e", 12)), (402L, words("c", 12) + " extra")))

    // stream fires at :15/:45, compaction at :30 — the scheduler
    // interleaves data ticks with maintenance, never concurrently
    // (waitRuns barriers between firings)
    Seq((0L, "seed")).toDF("id", "tag").write.mode("overwrite")
      .parquet(s"$dataDir/src")
    val registry = new TransformRegistry
    CurationTransforms.registerDedupIndexCompaction(registry, spark, idx)
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"adm-stream","name":"landing-admitted-shards","recurrence":"15,45 * * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"shards","order":2,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck",
         |            "exactDedupIndex":"dedupidx"}}
         |]}""".stripMargin))
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"adm-maint","name":"dedup-index compaction","recurrence":"30 * * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_dedup_index"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out","mode":"replace"}
         |]}""".stripMargin))

    var now = Instant.parse("2026-03-06T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty) // first-seen skip for both
    def land(t: Seq[(Long, String)]): Unit =
      t.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$dataDir/landing")
    var streamRuns = 0
    var maintRuns = 0
    def fireStream(at: String, tick: Seq[(Long, String)]): Unit = {
      land(tick)
      now = Instant.parse(at)
      assert(sched.tick() == Seq("adm-stream"))
      streamRuns += 1; waitRuns(repo, "adm-stream", 2 * streamRuns)
    }
    def fireMaint(at: String): Unit = {
      now = Instant.parse(at)
      assert(sched.tick() == Seq("adm-maint"))
      maintRuns += 1; waitRuns(repo, "adm-maint", 2 * maintRuns)
    }
    fireStream("2026-03-06T08:15:05Z", ticks(0)) // batch 0
    fireMaint("2026-03-06T08:30:05Z")            // 1 batch dir: no-op
    fireStream("2026-03-06T08:45:05Z", ticks(1)) // batch 1
    fireStream("2026-03-06T09:15:05Z", ticks(2)) // batch 2
    fireMaint("2026-03-06T09:30:05Z")            // folds batches 0+1
    fireStream("2026-03-06T09:45:05Z", ticks(3)) // batch 3
    sched.stop()

    val fs = graft.connect.Hfs.fs(spark, idx)
    def docDirs() = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idx, "docs")).map(_.getName).sorted
    assert(docDirs() == Seq("batch=-1", "batch=2", "batch=3"),
      s"compaction interleave produced ${docDirs()}")

    // MID-STREAM CRASH: batch 3's index write + shard append landed but
    // the offsets commit did not — delete the newest commit marker, as
    // a crash between foreachBatch and commit leaves it, and restart
    val commits = new java.io.File(s"$dataDir/ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    // drop the checksum sidecar too — the local ChecksumFileSystem
    // would otherwise refuse the replayed commit's rename (a real HDFS
    // crash leaves neither file)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    val sched2 = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched2.tick().isEmpty) // first-seen skip (fresh process)
    now = Instant.parse("2026-03-06T10:15:05Z")
    assert(sched2.tick() == Seq("adm-stream"))
    waitRuns(repo, "adm-stream", 2 * streamRuns + 2)
    sched2.stop()

    // brute-force oracle: arrival-order admission over 3-gram shingle
    // sets in plain Scala — per tick, families by pairwise J >= 0.8
    // (transitive closure), min-id representative tested against
    // everything admitted so far; representative duplicates reject the
    // whole family (the admitExactDedup contract)
    def shingles(text: String): Set[String] =
      text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty || b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size.toDouble
    var admitted = Map.empty[Long, Set[String]]
    ticks.foreach { tick =>
      val sh = tick.map { case (id, t) => id -> shingles(t) }.toMap
      // transitive families within the tick
      var fam = tick.map { case (id, _) => id -> id }.toMap
      def root(x: Long): Long = if (fam(x) == x) x else root(fam(x))
      for ((i, _) <- tick; (j, _) <- tick if i < j)
        if (jac(sh(i), sh(j)) >= 0.8) fam += (root(j) -> root(i))
      tick.map { case (id, _) => root(id) }.distinct.foreach { rep =>
        val members = tick.collect { case (id, _) if root(id) == rep => id }
        val repId = members.min
        if (!admitted.values.exists(s => jac(sh(repId), s) >= 0.8))
          admitted += (repId -> sh(repId))
      }
    }
    val expected = admitted.keySet
    assert(expected == Set(101L, 103L, 202L, 302L, 401L)) // sanity: hand-checked
    val idxIds = spark.read.parquet(s"$idx/docs")
      .select($"doc_id").as[Long].collect().toSeq
    assert(idxIds.toSet == expected,
      s"index diverged from brute force: got ${idxIds.toSet}")
    // the replay neither self-rejected (losing batch 3's docs) nor
    // double-admitted (duplicate index rows for batch 3)
    assert(idxIds.size == idxIds.distinct.size,
      "replay left duplicate index rows")
    // shard sink is at-least-once by contract: set-level it holds
    // exactly the admitted docs
    val written = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSet
    assert(written == expected, s"shards diverged: $written vs $expected")
  }

  test("semantic-admission lifecycle end-to-end: scheduled ticks + scheduled compactions + mid-stream replay == brute-force arrival-order dedup") {
    import graft.ops.Similarity
    val dataDir = tmpDir("graft-semadm-e2e").toString
    val repo = new Repository(tmpDir("graft-semadm-e2e-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    def v(x: Double*): Array[Float] = x.map(_.toFloat).toArray
    // the full arrival schedule: in-tick near-dup (ticks 0 and 2),
    // cross-tick near-dups against earlier ticks (1: of 101; 2: of
    // 200; 3: of 100), fresh directions throughout
    val ticks: Seq[Seq[(Long, Array[Float])]] = Seq(
      Seq((100L, v(10, 0, 0, 0)), (101L, v(0, 10, 0, 0)),
        (102L, v(10, 0.1, 0, 0))),
      Seq((200L, v(0, 0, 10, 0)), (201L, v(0, 9.9, 0.2, 0))),
      Seq((300L, v(0, 0, 0, 10)), (301L, v(0, 0, 0.1, 10)),
        (302L, v(0, 0.2, 9.9, 0))),
      Seq((400L, v(10, 10, 0, 0)), (401L, v(10, 0, 0.2, 0))))

    // k = 1 codebook (one cluster — the admission ORDER is under test;
    // trained-codebook clustering is pinned by the gate row)
    val idx = s"$dataDir/semidx"
    Similarity.createSemanticDedupIndex(spark, idx,
      ticks.flatten.zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
        .toDF("vec_id", "embedding"),
      tauMilli = 950L, k = 1, iters = 1)
    graft.CacheScope.drain()

    Seq((0L, "seed")).toDF("id", "tag").write.mode("overwrite")
      .parquet(s"$dataDir/src")
    val registry = new TransformRegistry
    CurationTransforms.registerSemanticDedupIndexCompaction(registry, spark, idx)
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"semadm-e2e","name":"landing-admitted-annidx","recurrence":"15,45 * * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"annidx","mode":"append",
         | "options":{"annIndex":"prefix","checkpointLocation":"ck",
         |            "semanticDedupIndex":"semidx"}}
         |]}""".stripMargin))
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"semadm-maint","name":"semantic-index compaction","recurrence":"30 * * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"compact","order":2,"kind":"named","transformName":"compact_semantic_dedup_index"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out","mode":"replace"}
         |]}""".stripMargin))

    var now = Instant.parse("2026-03-08T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    def land(t: Seq[(Long, Array[Float])]): Unit =
      t.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(s"$dataDir/landing")
    var streamRuns = 0
    var maintRuns = 0
    def fireStream(at: String, tick: Seq[(Long, Array[Float])]): Unit = {
      land(tick)
      now = Instant.parse(at)
      assert(sched.tick() == Seq("semadm-e2e"))
      streamRuns += 1; waitRuns(repo, "semadm-e2e", 2 * streamRuns)
    }
    def fireMaint(at: String): Unit = {
      now = Instant.parse(at)
      assert(sched.tick() == Seq("semadm-maint"))
      maintRuns += 1; waitRuns(repo, "semadm-maint", 2 * maintRuns)
    }
    fireStream("2026-03-08T08:15:05Z", ticks(0)) // batch 0
    fireMaint("2026-03-08T08:30:05Z")            // 1 generation: no-op
    fireStream("2026-03-08T08:45:05Z", ticks(1)) // batch 1
    fireStream("2026-03-08T09:15:05Z", ticks(2)) // batch 2
    fireMaint("2026-03-08T09:30:05Z")            // folds batches 0+1
    fireStream("2026-03-08T09:45:05Z", ticks(3)) // batch 3
    sched.stop()

    val fs = graft.connect.Hfs.fs(spark, idx)
    def gens() = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idx, "vecs")).map(_.getName).sorted
    assert(gens() == Seq("batch=-1", "batch=2", "batch=3"),
      s"compaction interleave produced ${gens()}")

    // MID-STREAM CRASH: batch 3's admission + ann append landed but the
    // offsets commit did not — delete the newest commit marker (and its
    // local-FS checksum sidecar) and restart
    val commits = new java.io.File(s"$dataDir/ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    val sched2 = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched2.tick().isEmpty)
    now = Instant.parse("2026-03-08T10:15:05Z")
    assert(sched2.tick() == Seq("semadm-e2e"))
    waitRuns(repo, "semadm-e2e", 2 * streamRuns + 2)
    sched2.stop()

    // brute-force oracle in plain Scala over the SAME quantized-cosine
    // bridge: per tick, drop any vector within τ of a LOWER-id tick
    // vector (admitted or not — the SemDeDup greedy rule), then reject
    // survivors within τ of anything already admitted
    def xq(e: Array[Float]): Array[Long] = e.map(x => math.round(x.toDouble * 1e4))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val n2a = a.map(x => x * x).sum; val n2b = b.map(x => x * x).sum
      (dot / 1e8) / (math.sqrt(n2a / 1e8) * math.sqrt(n2b / 1e8))
    }
    var admitted = Map.empty[Long, Array[Long]]
    ticks.foreach { tick =>
      val q = tick.map { case (id, e) => id -> xq(e) }
      val inKept = q.filter { case (id, x) =>
        !q.exists { case (id2, x2) => id2 < id && cos(x2, x) >= 0.95 } }
      inKept.foreach { case (id, x) =>
        if (!admitted.values.exists(ax => cos(ax, x) >= 0.95))
          admitted += (id -> x)
      }
    }
    val expected = admitted.keySet
    assert(expected == Set(100L, 101L, 200L, 300L, 400L)) // sanity: hand-checked
    val idxIds = spark.read.parquet(s"$idx/vecs")
      .select($"vec_id").as[Long].collect().toSeq
    assert(idxIds.toSet == expected,
      s"index diverged from brute force: got ${idxIds.toSet}")
    // the replay neither self-rejected nor double-admitted
    assert(idxIds.size == idxIds.distinct.size,
      "replay left duplicate index rows")
    // the ann sink is at-least-once by contract: set-level it holds
    // exactly the admitted vectors
    val annIds = spark.read.parquet(s"$dataDir/annidx")
      .select($"vec_id").as[Long].collect().toSet
    assert(annIds == expected, s"ann index diverged: $annIds vs $expected")
  }

  test("scheduled rebucket between drains: admission decisions continue exactly through the migration, replay-safe") {
    import graft.ops.Similarity
    val dataDir = tmpDir("graft-rebucket-e2e").toString
    val repo = new Repository(tmpDir("graft-rebucket-e2e-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    def v(x: Double*): Array[Float] = x.map(_.toFloat).toArray
    // tick 0 admits 100+101; tick 1 admits 200 (201 is a dup of 100);
    // THEN the scheduled rebucket migrates k 1 -> 2 (folds batch 0,
    // reassigns live batch 1 in place); tick 2 must reject 300 (dup of
    // 101, now in the FOLDED generation) and 301 (dup of 200, in the
    // reassigned LIVE generation) and admit 302 — decisions spanning
    // the migration boundary on both generation kinds
    val t0 = Seq((100L, v(10, 0, 0, 0)), (101L, v(0, 10, 0, 0)))
    val t1 = Seq((200L, v(0, 0, 10, 0)), (201L, v(10, 0.1, 0, 0)))
    val t2 = Seq((300L, v(0, 9.9, 0.1, 0)), (301L, v(0, 0.1, 9.9, 0)),
      (302L, v(0, 0, 0, 10)))
    val idx = s"$dataDir/semidx"
    Similarity.createSemanticDedupIndex(spark, idx,
      (t0 ++ t1 ++ t2).zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
        .toDF("vec_id", "embedding"),
      tauMilli = 950L, k = 1, iters = 1)
    graft.CacheScope.drain()
    Seq((0L, "seed")).toDF("id", "tag").write.mode("overwrite")
      .parquet(s"$dataDir/src")
    val registry = new TransformRegistry
    CurationTransforms.registerSemanticDedupIndexRebucket(
      registry, spark, idx, newK = 2)
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"rb-e2e","name":"landing-admitted-annidx","recurrence":"15,45 * * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"index","order":2,"connectionId":"local",
         | "path":"annidx","mode":"append",
         | "options":{"annIndex":"prefix","checkpointLocation":"ck",
         |            "semanticDedupIndex":"semidx"}}
         |]}""".stripMargin))
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"rb-maint","name":"codebook migration","recurrence":"0 9 * * *","enabled":true,"steps":[
         |{"stepType":"extract","name":"src","order":1,"connectionId":"local","path":"src"},
         |{"stepType":"transform","name":"rebucket","order":2,"kind":"named","transformName":"rebucket_semantic_dedup_index"},
         |{"stepType":"load","name":"sink","order":3,"connectionId":"local","path":"maint_out","mode":"replace"}
         |]}""".stripMargin))
    var now = Instant.parse("2026-03-09T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    var streamRuns = 0
    def fireStream(at: String, tick: Seq[(Long, Array[Float])]): Unit = {
      tick.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(s"$dataDir/landing")
      now = Instant.parse(at)
      assert(sched.tick() == Seq("rb-e2e"))
      streamRuns += 1; waitRuns(repo, "rb-e2e", 2 * streamRuns)
    }
    fireStream("2026-03-09T08:15:05Z", t0) // batch 0: admit 100, 101
    fireStream("2026-03-09T08:45:05Z", t1) // batch 1: admit 200
    now = Instant.parse("2026-03-09T09:00:05Z") // the migration fires
    assert(sched.tick() == Seq("rb-maint"))
    waitRuns(repo, "rb-maint", 2)
    val fs = graft.connect.Hfs.fs(spark, idx)
    def gens() = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idx, "vecs")).map(_.getName).sorted
    assert(gens() == Seq("batch=-1", "batch=1"), s"migration produced ${gens()}")
    assert(spark.read.parquet(s"$idx/centroids").count() == 2L)
    fireStream("2026-03-09T09:15:05Z", t2) // batch 2 across the boundary
    sched.stop()
    def idxIds() = spark.read.parquet(s"$idx/vecs")
      .select($"vec_id").as[Long].collect().toSeq
    assert(idxIds().toSet == Set(100L, 101L, 200L, 302L),
      s"post-migration decisions diverged: ${idxIds().toSet}")
    // MID-STREAM CRASH after the migration: batch 2's admission landed
    // but the offsets commit did not — the replay must recompute the
    // same set against the MIGRATED layout (its own generation cleared,
    // no self-rejection, no stale-modulus reads)
    val commits = new java.io.File(s"$dataDir/ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    val sched2 = new PipelineScheduler(
      new PipelineRunner(spark, repo, registry), repo, () => now, 1)
    assert(sched2.tick().isEmpty)
    now = Instant.parse("2026-03-09T09:45:05Z")
    assert(sched2.tick() == Seq("rb-e2e"))
    waitRuns(repo, "rb-e2e", 2 * streamRuns + 2)
    sched2.stop()
    val ids = idxIds()
    assert(ids.toSet == Set(100L, 101L, 200L, 302L) &&
      ids.size == ids.distinct.size,
      s"replay through the migrated layout diverged: $ids")
  }

  test("composed curation tick: lexical decontam + semantic decontam + semantic admission in one drained load, replay-safe == offline composition") {
    // r16 verdict ask #7: every route is proven alone and two
    // admission lifecycles are proven composed, but no single case ran
    // lexical decontam + semantic decontam + semantic admission in the
    // documented decontaminate→admit→append order across a restart.
    // The load-bearing assertion is ORDERING: doc 300 is a semantic
    // near-dup of the LEXICAL leak 101 — if the order were
    // admit-then-decontaminate, 101's vector would be the admitted
    // representative that rejects 300; decontaminate-first means 101
    // never enters the index and 300 admits.
    import graft.ops.Similarity
    val dataDir = tmpDir("graft-composed-tick").toString
    val repo = new Repository(tmpDir("graft-composed-tick-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))

    def v(x: Double*): Array[Float] = x.map(_.toFloat).toArray
    def words(prefix: String, n: Int) = (0 until n).map(j => s"$prefix$j").mkString(" ")
    // every clean doc's vocabulary is disjoint from the bench's, so
    // only the planted leak can ever match a bench query term
    val ticks: Seq[Seq[(Long, String, Array[Float])]] = Seq(
      Seq((100L, words("a", 10), v(10, 0, 0, 0)),     // clean → admit
        (101L, words("bench", 9) + " odd1", v(7, 7, 0, 0)), // LEXICAL leak
        (102L, words("c", 10), v(0, 9.9, 0.1, 0)),    // SEMANTIC leak
        (103L, words("d", 10), v(10, 0.1, 0, 0))),    // in-tick dup of 100
      Seq((200L, words("e", 10), v(10, 0.2, 0, 0)),   // cross-tick dup of 100
        (201L, words("f", 10), v(0, 0, 10, 0))),      // clean → admit
      Seq((300L, words("g", 10), v(7, 7.1, 0, 0)),    // near-dup of the
        // DECONTAMINATED 101 → must ADMIT (ordering proof)
        (301L, words("h", 10), v(0, 0, 0, 10))))      // clean → admit
    def df3(rows: Seq[(Long, String, Array[Float])]) =
      rows.map { case (id, t, e) => (id, id, t, e) }
        .toDF("doc_id", "vec_id", "text", "embedding")

    // frozen artifacts: lexical bench targets, semantic bench vectors,
    // and the admission index (k = 1 — order rules under test)
    Seq((1L, words("bench", 10))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dataDir/bm25bench")
    Seq((1L, v(0, 10, 0, 0))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dataDir/sembench")
    val refCorpus = ticks.flatten.zipWithIndex
      .map { case ((_, _, e), i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    Similarity.createSemanticDedupIndex(spark, s"$dataDir/semidx",
      refCorpus, tauMilli = 950L, k = 1, iters = 1)
    graft.CacheScope.drain()

    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"composed-tick","name":"landing-curated-shards","recurrence":"*/15","enabled":true,"steps":[
         |{"stepType":"extract","name":"landing","order":1,"connectionId":"local",
         | "path":"landing","options":{"streaming":"true"}},
         |{"stepType":"load","name":"shards","order":2,"connectionId":"local",
         | "path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"4","checkpointLocation":"ck",
         |            "bm25DecontaminateIndex":"bm25bench",
         |            "semanticDecontaminateIndex":"sembench",
         |            "semanticDedupIndex":"semidx"}}
         |]}""".stripMargin))

    var now = Instant.parse("2026-03-09T08:00:10Z")
    val sched = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched.tick().isEmpty)
    var runs = 0
    def fire(at: String, tick: Seq[(Long, String, Array[Float])]): Unit = {
      df3(tick).coalesce(1).write.mode("append").parquet(s"$dataDir/landing")
      now = Instant.parse(at)
      assert(sched.tick() == Seq("composed-tick"))
      runs += 1; waitRuns(repo, "composed-tick", 2 * runs)
    }
    fire("2026-03-09T08:15:05Z", ticks(0)) // batch 0
    fire("2026-03-09T08:30:05Z", ticks(1)) // batch 1
    fire("2026-03-09T08:45:05Z", ticks(2)) // batch 2
    sched.stop()

    // MID-STREAM CRASH: batch 2's decontam + admission + shard append
    // landed but the offsets commit did not — delete the newest commit
    // marker and restart; the replay must recompute the SAME admitted
    // set (idempotent per batch id), not self-reject against batch 2's
    // own index rows
    val commits = new java.io.File(s"$dataDir/ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    val sched2 = new PipelineScheduler(
      new PipelineRunner(spark, repo), repo, () => now, 1)
    assert(sched2.tick().isEmpty)
    now = Instant.parse("2026-03-09T09:00:05Z")
    assert(sched2.tick() == Seq("composed-tick"))
    waitRuns(repo, "composed-tick", 2 * runs + 2)
    sched2.stop()

    // OFFLINE COMPOSITION: the same ticks through the same engine ops
    // called directly, batch by batch, against a fresh index — the
    // streaming plumbing (checkpoint, cloned sessions, replay) must
    // not have changed the semantics
    Similarity.createSemanticDedupIndex(spark, s"$dataDir/offidx",
      refCorpus, tauMilli = 950L, k = 1, iters = 1)
    var offline = Set.empty[Long]
    ticks.zipWithIndex.foreach { case (tick, i) =>
      val b = df3(tick)
      val lexHits = graft.ops.TextAnalysis
        .bm25TopKOn(b, spark.read.parquet(s"$dataDir/bm25bench"), 20, 8)
        .select($"doc_id").distinct()
      val lex = b.join(lexHits, Seq("doc_id"), "left_anti")
      val sem = Similarity.semanticDecontaminate(spark, lex,
        spark.read.parquet(s"$dataDir/sembench"), 950L)
      val adm = Similarity.admitSemanticDedup(sem, s"$dataDir/offidx", i.toLong)
      offline ++= adm.select($"doc_id").as[Long].collect().toSet
      graft.CacheScope.drain()
    }
    assert(offline == Set(100L, 201L, 300L, 301L)) // sanity: hand-checked

    val shardIds = spark.read.parquet(s"$dataDir/shards")
      .select($"doc_id").as[Long].collect().toSeq
    assert(shardIds.toSet == offline,
      s"streaming composition diverged from offline: ${shardIds.toSet}")
    val idxIds = spark.read.parquet(s"$dataDir/semidx/vecs")
      .select($"vec_id").as[Long].collect().toSeq
    assert(idxIds.toSet == offline, s"admission index diverged: ${idxIds.toSet}")
    // the replay neither self-rejected nor double-admitted
    assert(idxIds.size == idxIds.distinct.size, "replay left duplicate index rows")
  }

  test("streaming shard load with orderCol writes each shard in the batch append's order") {
    val dataDir = tmpDir("graft-stream-order").toString
    val repo = new Repository(tmpDir("graft-stream-order-repo"))
    val conn = ConnectionSpec("local", "local files", "parquet", Map("basePath" -> dataDir))
    repo.saveConnection(conn)
    // rank runs against doc_id, so the placement-key default order differs
    val docs = (0L until 60L).map(i => (i, s"doc $i", 60L - i)).toDF("doc_id", "text", "rank")
    docs.coalesce(1).write.parquet(s"$dataDir/landing")
    val shardOpts = Map("shardBy" -> "doc_id", "shards" -> "4", "orderCol" -> "rank")
    val p = PipelineSpec("order-stream", "landing-to-ordered-shards", None, enabled = true,
      steps = List(
        ExtractStep("e", 1, "local", path = Some("landing"), options = Map("streaming" -> "true")),
        LoadStep("l", 2, "local", path = Some("streamed"), mode = "append",
          options = shardOpts + ("checkpointLocation" -> "ck"))))
    repo.savePipeline(p)
    assert(new PipelineRunner(spark, repo).run(p).status == "success")
    graft.connect.Sources.write(docs, conn,
      LoadStep("b", 1, "local", path = Some("batch"), mode = "append", options = shardOpts))
    // doc ids per shard, in file order
    def shardOrder(dir: String): Map[String, Seq[Long]] =
      new java.io.File(s"$dataDir/$dir").listFiles().filter(_.getName.startsWith("shard="))
        .map { d =>
          val files = d.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
          d.getName -> files.toSeq.flatMap(f =>
            spark.read.parquet(f).select($"doc_id").as[Long].collect().toSeq)
        }.toMap
    val streamed = shardOrder("streamed")
    assert(streamed.values.map(_.size).sum == 60)
    assert(streamed == shardOrder("batch"))
    assert(streamed.values.forall(ids => ids == ids.sorted.reverse), streamed)
  }

  test("streaming ANN and shard loads refuse what the batch sink refuses") {
    import graft.ops.Similarity
    val dataDir = tmpDir("graft-stream-refuse").toString
    val repo = new Repository(tmpDir("graft-stream-refuse-repo"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 120L).map(id => (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val modelPath = s"$dataDir/ivfm"
    Similarity.saveIvfPqModel(Similarity.trainIvfPq(spark, vecs), modelPath)
    graft.CacheScope.drain()
    vecs.coalesce(1).write.parquet(s"$dataDir/vecs")
    (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dataDir/docs")
    def failedRun(id: String, landing: String, opts: Map[String, String]): String = {
      val p = PipelineSpec(id, id, None, enabled = true, steps = List(
        ExtractStep("e", 1, "local", path = Some(landing), options = Map("streaming" -> "true")),
        LoadStep("l", 2, "local", path = Some(s"$id-out"), mode = "append",
          options = opts + ("checkpointLocation" -> s"ck-$id"))))
      repo.savePipeline(p)
      intercept[Exception](new PipelineRunner(spark, repo).run(p))
      // the history row carries the batch sink's own message
      assert(repo.history(id).map(_.status) == Seq("running", "error"))
      repo.history(id).last.message
    }
    val ivf = failedRun("ivf-bogus", "vecs",
      Map("annIndex" -> "ivfpq", "ivfpqModel" -> modelPath, "indexLayout" -> "bogus"))
    assert(ivf.contains("unknown indexLayout 'bogus'"), ivf)
    val split = failedRun("split-append", "docs",
      Map("shardBy" -> "doc_id", "shards" -> "4", "splitBy" -> "split"))
    assert(split.contains("append addresses one split's directory"), split)
  }

  test("streaming load without checkpointLocation fails fast") {
    val dataDir = tmpDir("graft-stream-nockpt").toString
    val repo = new Repository(tmpDir("graft-stream-repo2"))
    repo.saveConnection(ConnectionSpec("local", "local files", "parquet",
      Map("basePath" -> dataDir)))
    Seq((1L, 1L)).toDF("id", "ver").write.parquet(s"$dataDir/landing")
    val p = PipelineSpec("bad", "no-ckpt", None, enabled = true, steps = List(
      ExtractStep("e", 1, "local", path = Some("landing"),
        options = Map("streaming" -> "true")),
      LoadStep("l", 2, "local", path = Some("out"), mode = "upsert",
        options = Map("keyCol" -> "id", "versionCol" -> "ver"))))
    repo.savePipeline(p)
    val ex = intercept[IllegalArgumentException] {
      new PipelineRunner(spark, repo).run(p)
    }
    assert(ex.getMessage.contains("checkpointLocation"))
    // the failed run still wrote its history (running -> error)
    assert(repo.history("bad").map(_.status) == Seq("running", "error"))
  }
}
