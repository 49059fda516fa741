package graft

import graft.exec.{PipelineRunner, TransformRegistry}
import graft.model._
import graft.sched.PipelineScheduler
import graft.store.Repository

/** End-to-end library demo: register a connection, define an
  * extract → SQL-transform → load pipeline over the fixture parquet,
  * run it, show history, and take one scheduler tick.
  *
  * Run: sbt "runMain graft.Demo [sfDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4, Map("spark.app.name" -> "graft-demo"))

    val work = java.nio.file.Files.createTempDirectory("graft-demo")
    val repo = new Repository(work.resolve("meta"))
    repo.saveConnection(ConnectionSpec("fixtures", "fixture parquet", "parquet",
      Map("basePath" -> sfDir)))
    repo.saveConnection(ConnectionSpec("out", "demo output", "parquet",
      Map("basePath" -> work.resolve("out").toString)))

    val spec = PipelineJson.parsePipeline(
      """{"id":"demo","name":"revenue by priority","recurrence":"*/5","steps":[
        |{"stepType":"extract","name":"lineitem","order":1,"connectionId":"fixtures","path":"lineitem.parquet"},
        |{"stepType":"transform","name":"revenue","order":2,"kind":"sql",
        | "sql":"SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n FROM input GROUP BY l_returnflag ORDER BY l_returnflag"},
        |{"stepType":"load","name":"sink","order":3,"connectionId":"out","path":"revenue","mode":"replace"}
        |]}""".stripMargin)
    repo.savePipeline(spec)

    val registry = new TransformRegistry
    val runner = new PipelineRunner(spark, repo, registry)
    val result = runner.runById("demo")
    println(s"[demo] run result: $result")
    spark.read.parquet(s"${work.resolve("out")}/revenue").show()
    repo.history("demo").foreach(h => println(s"[demo] history: $h"))

    val sched = new PipelineScheduler(runner, repo)
    sched.tick() // first sight: schedules only
    println(s"[demo] next scheduled run: ${sched.scheduledFor("demo")}")
    sched.stop()

    // the training-data curation surface on the same session: exact
    // dedup clusters → quality gate → fixed-budget sequence packing
    println("[demo] curation: exact-dup groups")
    ops.Dedup.exact(spark, sfDir).show(3)
    println("[demo] curation: quality keep/drop")
    ops.TextAnalysis.quality(spark, sfDir)
      .groupBy("keep").count().show()
    println("[demo] curation: packed chunks (512-token budget)")
    ops.TextAnalysis.packChunks(spark, sfDir).show(3)

    // round-7 surface: sketches, ANN compression, corpus monitoring
    println("[demo] sketches: per-language heavy hitters (freq_topk)")
    ops.Aggregates.heavyHittersAuto(spark, sfDir).show(3, truncate = false)
    println("[demo] ANN: product-quantized top-3 (bucket + ADC)")
    ops.Similarity.pqAdc(spark, sfDir).show(3)
    println("[demo] monitoring: per-source distribution drift (L1 permille)")
    ops.TextAnalysis.sourceDrift(spark, sfDir).show(3)
    println("[demo] graph: 2-core of the near-dup candidate graph")
    ops.Graph.kcore(spark, sfDir).show(3)

    // round-11 surface: trained models as frozen artifacts
    println("[demo] classifier: train on the corpus, freeze, score statelessly")
    val docs = Tables.t(spark, sfDir, "documents")
    val modelPath = work.resolve("qmodel").toString
    ops.TextAnalysis.saveQualityModel(spark,
      ops.TextAnalysis.trainQualityModel(spark, docs,
        Seq("src0", "src1", "src2", "src3")), modelPath)
    ops.TextAnalysis.scoreDocs(docs,
        ops.TextAnalysis.loadQualityModel(spark, modelPath))
      .select("doc_id", "source", "margin").show(3)
    println("[demo] ANN lifecycle: train IVF-PQ offline, index, list-pruned probe")
    val emb = Tables.t(spark, sfDir, "embeddings")
    val annModel = ops.Similarity.trainIvfPq(spark, emb)
    val indexPath = work.resolve("ann-index").toString
    ops.Similarity.saveIvfPqIndex(
      ops.Similarity.indexIvfPq(spark, emb, annModel), indexPath)
    ops.Similarity.probeIvfPq(spark, emb,
      emb.filter("vec_id % 50 = 0"), annModel,
      spark.read.parquet(indexPath)).show(3)
    // round-12 surface: the PCA basis and prefix indexes join the
    // frozen-artifact family; BPE serves from its frozen merge list
    println("[demo] PCA: freeze the basis, project statelessly, rotated-prefix ANN")
    val pcaPath = work.resolve("pca-model").toString
    ops.Similarity.savePcaModel(spark,
      ops.Similarity.trainPcaModel(spark, emb, k = 4), pcaPath)
    val pcaModel = ops.Similarity.loadPcaModel(spark, pcaPath)
    ops.Similarity.pcaServeOn(emb, pcaModel)
      .select("vec_id", "pca_proj1", "pca_proj2").show(3)
    val rotIdxPath = work.resolve("rot-index").toString
    ops.Similarity.savePrefixIndex(
      ops.Similarity.buildRotatedPrefixIndex(spark, emb, pcaModel, dims = 4),
      rotIdxPath)
    ops.Similarity.probeRotatedPrefixIndex(spark, emb,
      emb.filter("vec_id % 50 = 0"), pcaModel,
      spark.read.parquet(rotIdxPath), dims = 4).show(3)
    println("[demo] tokenizer: freeze BPE merges, stateless token accounting")
    val bpePath = work.resolve("bpe-model").toString
    ops.TextAnalysis.saveBpeModel(spark,
      ops.TextAnalysis.trainBpeModel(spark, docs), bpePath)
    ops.TextAnalysis.bpeServeDocs(docs,
        ops.TextAnalysis.loadBpeModel(spark, bpePath))
      .select("doc_id", "bpe_words", "bpe_tokens", "bpe_chars").show(3)

    println("[demo] shards: deterministic layout + targeted deletion")
    val shardPath = work.resolve("shards").toString
    ops.Sharding.writeTrainingShards(docs, "doc_id", shardPath, 16).show(3)
    import spark.implicits._
    ops.Sharding.deleteFromShards(
      Seq(1L, 2L).toDF("doc_id"), "doc_id", shardPath, 16).show(3)

    // round-12 curation surface: the corpus report a mix decision
    // reads, then the whole FineWeb-style chain as ONE audited
    // declarative pipeline — quality gate → near-dup filter →
    // epoch-weighted replication → spread shards
    println("[demo] report: per-source volume/diversity/quality/redundancy")
    ops.TextAnalysis.corpusReport(spark, sfDir).show(3)
    println("[demo] declarative FineWeb chain with retention audit")
    val registry2 = new TransformRegistry
    exec.CurationTransforms.registerQualityFilter(registry2, minTtrPermille = 500L)
    exec.CurationTransforms.registerDedupFilter(registry2, keepBest = true)
    exec.CurationTransforms.registerReplicateEpochs(registry2,
      targetTokens = 2000L, withMixKey = true)
    exec.CurationTransforms.registerCurriculumOrder(registry2,
      annealPermille = 100L, keyCol = "mix_key")
    repo.savePipeline(PipelineJson.parsePipeline(
      s"""{"id":"chain","name":"fineweb chain","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"fixtures","path":"documents.parquet"},
         |{"stepType":"transform","name":"quality","order":2,"kind":"named","transformName":"quality_filter","audit":true},
         |{"stepType":"transform","name":"dedup","order":3,"kind":"named","transformName":"dedup_filter","audit":true},
         |{"stepType":"transform","name":"mix","order":4,"kind":"named","transformName":"replicate_epochs","audit":true},
         |{"stepType":"transform","name":"order","order":5,"kind":"named","transformName":"curriculum_order"},
         |{"stepType":"load","name":"shards","order":6,"connectionId":"out","path":"mix_shards","mode":"replace",
         | "options":{"shardBy":"mix_key","shards":"8","orderCol":"curriculum_key"}}
         |]}""".stripMargin))
    println(s"[demo] chain: ${new PipelineRunner(spark, repo, registry2).runById("chain")}")
    repo.history("chain").filter(_.status == "audit")
      .foreach(h => println(s"[demo] retention: ${h.message}"))
    println("[demo] chain layout: anneal tail per shard (phase 1 reads last)")
    spark.read.parquet(s"${work.resolve("out")}/mix_shards")
      .groupBy("shard", "phase").count().orderBy($"shard", $"phase").show(6)
    println("[demo] chunking: overlapping token windows for an embedding pass")
    ops.TextAnalysis.windowChunkText(docs, win = 64, stride = 48).show(3)

    // round-13 surface: exact near-dup join + real media codecs +
    // large-k index layout
    println("[demo] exact dedup: every pair with Jaccard >= 0.8, prefix-filtered")
    ops.Dedup.prefixJoinOn(docs, tauMilli = 800L).show(3)
    println("[demo] multimodal: real RIFF/WAVE decode over binary payloads")
    multimodal.Multimodal.extractFeatures(spark,
      multimodal.Multimodal.wavFromDocs(spark, sfDir)).toDF()
      .select("media_id", "n_bytes", "decode_ok").show(3)
    println("[demo] ANN at large k: grouped index layout, self-describing")
    val grpIdx = work.resolve("ann-index-grouped").toString
    ops.Similarity.saveIvfPqIndexGrouped(
      ops.Similarity.indexIvfPq(spark, emb, annModel), grpIdx, listsPerDir = 8)
    val (gIdx, gW) = ops.Similarity.loadIvfPqIndexLayout(spark, grpIdx)
    ops.Similarity.probeIvfPq(spark, emb, emb.filter("vec_id % 50 = 0"),
      annModel, gIdx, listsPerDir = gW).show(3)

    // round-15 surface: the retrieval family — frozen inverted index,
    // point-lookup serving, and retrieval-guided selection
    println("[demo] retrieval: grow a BM25 inverted index incrementally, fold, serve")
    val bm25Idx = work.resolve("bm25-index").toString
    // the round-16 lifecycle: three disjoint appends + a compaction —
    // append ≡ rebuild exactly (additive stats), so the serve below is
    // bit-identical to a one-shot saveBm25Index of the full corpus
    (0 to 2).foreach { r =>
      ops.TextAnalysis.maintainBm25Index(
        docs.filter($"doc_id" % 3 === r).select($"doc_id", $"text"), bm25Idx, r.toLong)
    }
    println(s"[demo] compacted ${ops.TextAnalysis.compactBm25Index(spark, bm25Idx)} generations")
    // the fixed-batch discipline: the % filter alone would grow the
    // "serving batch" with the corpus — the id cap keeps it bounded
    ops.TextAnalysis.bm25Serve(spark,
      docs.filter($"doc_id" % 97 === 3 && $"doc_id" < 100000)
        .selectExpr("doc_id AS query_id",
          "explode(slice(split(text, ' '), 1, 8)) AS term").distinct(),
      bm25Idx).show(5)
    // round-16 surface: arrival-order semantic dedup — the embedding
    // admission index ("dedup embeddings as they arrive")
    println("[demo] semantic admission: freeze a codebook, admit batches in order, fold")
    val semIdx = work.resolve("sem-admit-index").toString
    ops.Similarity.createSemanticDedupIndex(spark, semIdx, emb,
      (ops.Similarity.semanticTau * 1000).toLong)
    (0 to 2).foreach { r =>
      val n = ops.Similarity.admitSemanticDedup(
        emb.filter($"vec_id" % 3 === r), semIdx, r.toLong).count()
      println(s"[demo]   batch $r admitted $n vectors")
    }
    println(s"[demo] compacted ${ops.Similarity.compactSemanticDedupIndex(spark, semIdx)} generations")

    println("[demo] retrieval-guided selection: keep the corpus docs a target set retrieves")
    val benchPath = work.resolve("targets").toString
    docs.filter($"doc_id" % 100 === 0).select($"doc_id", $"text")
      .write.mode("overwrite").parquet(benchPath)
    val registry3 = new TransformRegistry
    exec.CurationTransforms.registerBm25Select(registry3, spark, benchPath, k = 5)
    println(s"[demo] bm25_select kept ${registry3("bm25_select")(docs).count()} " +
      s"of ${docs.count()} docs")

    spark.stop()
  }
}
