package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end curation flow over the library API — the composition a
  * real training-data pipeline runs: benchmark bloom → corpus
  * decontamination → deterministic shard layout, with the counts
  * consistent at every step.
  */
class CurationFlowSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("decontaminate then shard: counts consistent, no contaminated doc survives") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, dir, "documents")
    val bench = docs.filter($"doc_id" % 100 === 0)
    val corpus = docs.filter($"doc_id" % 100 =!= 0)

    val bloom = Dedup.benchmarkBloom(bench)
    assert(bloom.length > 0)
    val clean = Dedup.bloomClean(corpus, bloom).persist()

    // exact contaminated set (shingle equi-join) must be fully removed —
    // the bloom has no false negatives
    val sh = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"doc_id", $"lang", split($"text", " ").as("__ws"))
        .select($"doc_id", $"lang", explode(Dedup.shinglesFromWords($"__ws")).as("wd"))
    val exact = sh(corpus).as("c")
      .join(sh(bench).as("b"),
        col("c.wd") === col("b.wd") && col("c.lang") === col("b.lang"), "left_semi")
      .select(col("doc_id")).distinct()
    val nExact = exact.count()
    val survivors = clean.join(exact, Seq("doc_id"), "left_semi").count()
    assert(survivors == 0, s"$survivors contaminated docs survived cleaning")

    // false positives bounded: at most 0.5% of the corpus + 1 extra drops
    val nCorpus = corpus.count()
    val nClean = clean.count()
    assert(nClean >= nCorpus - nExact - (nCorpus / 200 + 1))

    // shard the cleaned corpus; manifest must account for every row
    val out = tmpDir("curation").toString + "/shards"
    val manifest = Sharding.writeTrainingShards(clean, "doc_id", out, 16)
    assert(manifest.agg(sum($"n_rows")).head().getLong(0) == nClean)
    clean.unpersist()
  }

  test("declarative curation pipeline: JSON spec -> decontaminate -> quality gate -> shard load, running->success history") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository

    val root = tmpDir("curation-pipe")
    val repo = new Repository(root)
    val docs = graft.Tables.t(spark, dir, "documents")
    // the benchmark is its own table, as in a real eval-suite layout
    val benchPath = s"$root/bench"
    docs.filter($"doc_id" % 100 === 0).write.mode("overwrite").parquet(benchPath)

    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> dir)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))

    val registry = new TransformRegistry
    CurationTransforms.registerBloomDecontaminate(registry, spark, benchPath)
    CurationTransforms.registerQualityFilter(registry, minTtrPermille = 500L)

    val spec = PipelineJson.parsePipeline(
      s"""{"id":"curate","name":"curation chain","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"corpus","order":2,"kind":"sql",
         | "sql":"SELECT * FROM input WHERE doc_id % 100 <> 0"},
         |{"stepType":"transform","name":"decontaminate","order":3,"kind":"named","transformName":"bloom_decontaminate"},
         |{"stepType":"transform","name":"quality","order":4,"kind":"named","transformName":"quality_filter"},
         |{"stepType":"load","name":"shards","order":5,"connectionId":"out","path":"shards","mode":"replace",
         | "options":{"shardBy":"doc_id","shards":"16"}}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    val res = new PipelineRunner(spark, repo, registry).run(spec)
    assert(res.status == "success")
    assert(repo.history("curate").map(_.status) == Seq("running", "success"))

    // the declarative run must agree with the library-API chain exactly
    val corpus = docs.filter($"doc_id" % 100 =!= 0)
    val expected = Dedup.bloomClean(corpus, Dedup.benchmarkBloom(spark.read.parquet(benchPath)))
      .filter(expr(TextAnalysis.ttrPermilleSql("text")) >= 500L)
    val written = spark.read.parquet(s"$root/shards")
    assert(written.count() == expected.count())
    assert(written.select($"doc_id").except(expected.select($"doc_id")).count() == 0)

    // manifest accounts for every row; append mode extends it additively
    // (read directly — Spark's file index skips _-prefixed metadata files)
    def manifestTotal(): Long = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/shards/_shards.json")))
      """"n_rows":\s*(\d+)""".r.findAllMatchIn(text).map(_.group(1).toLong).sum
    }
    assert(manifestTotal() == expected.count())

    val appendSpec = PipelineJson.parsePipeline(
      s"""{"id":"curate2","name":"daily increment","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"slice","order":2,"kind":"sql",
         | "sql":"SELECT * FROM input WHERE doc_id % 100 = 50"},
         |{"stepType":"load","name":"shards","order":3,"connectionId":"out","path":"shards","mode":"append",
         | "options":{"shardBy":"doc_id","shards":"16"}}
         |]}""".stripMargin)
    repo.savePipeline(appendSpec)
    assert(new PipelineRunner(spark, repo, registry).run(appendSpec).status == "success")
    val incr = docs.filter($"doc_id" % 100 === 50).count()
    assert(manifestTotal() == expected.count() + incr)
    assert(spark.read.parquet(s"$root/shards").count() == expected.count() + incr)
  }

  test("shard load step honors mode semantics: errorIfExists refuses, bad modes throw") {
    import graft.exec.PipelineRunner
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository
    val root = tmpDir("shard-modes")
    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> dir)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    def spec(id: String, mode: String) = PipelineJson.parsePipeline(
      s"""{"id":"$id","name":"m","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"load","name":"sh","order":2,"connectionId":"out","path":"sh","mode":"$mode",
         | "options":{"shardBy":"doc_id","shards":"16"}}
         |]}""".stripMargin)
    val runner = new PipelineRunner(spark, repo)
    assert(runner.run(spec("m1", "errorIfExists")).status == "success") // fresh: fine
    val e = intercept[IllegalStateException] { runner.run(spec("m2", "errorIfExists")) }
    assert(e.getMessage.contains("already exists"))
    intercept[IllegalArgumentException] { runner.run(spec("m3", "apend")) } // typo ≠ overwrite
    assert(runner.run(spec("m4", "replace")).status == "success") // explicit replace ok
  }

  test("classifier_filter transform keeps exactly the positively-scored docs") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val docs = graft.Tables.t(spark, dir, "documents")
    val registry = new TransformRegistry
    val pos = Seq("src0", "src1", "src2", "src3")
    CurationTransforms.registerClassifierFilter(registry, spark, pos)
    val kept = registry("classifier_filter")(docs)
    graft.CacheScope.drain()
    val (_, margins) = TextAnalysis.perceptronMarginsOn(spark, docs, pos, 3)
    val expected = margins.filter($"m" > 0L).select($"doc_id")
    assert(kept.count() == expected.count())
    assert(kept.select($"doc_id").except(expected).count() == 0)
    // the filter must keep the full document schema
    assert(kept.columns.toSeq == docs.columns.toSeq)
    graft.CacheScope.drain()
  }

  test("signal-bearing corpus: declarative classifier_filter keeps a NONZERO subset and the model generalizes held-out") {
    // the driver soup carries no source signal, so the test above can
    // pass with an EMPTY kept set — this corpus plants the
    // graft.tools.SignalFixture distribution gap (shared noise in
    // every doc, ~30% of positions drawn from a per-class vocabulary)
    // so the filter's EFFECT is exercised: a nonzero, proper subset
    // survives the declarative path, and the decision generalizes to
    // documents the training never saw
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository

    // mirror the fixture layout (20 sources, src0-3 curated — a 1:4
    // class imbalance like the real bench) with a per-doc seeded RNG:
    // half the positions draw from the class vocabulary, half from a
    // 120-word shared soup (a structured multiplicative hash here
    // skews the vocab slice for the held-out sources — RNG avoids it)
    val pos = Seq("src0", "src1", "src2", "src3")
    val rows = (0 until 240).map { i =>
      val rng = new scala.util.Random(i)
      val src = s"src${i % 20}"
      val curated = (i % 20) < 4
      val words = (0 until 40).map { _ =>
        if (rng.nextInt(100) < 50) (if (curated) "cw" else "kw") + rng.nextInt(40)
        else "n" + rng.nextInt(120)
      }
      (i.toLong, words.mkString(" "), "en", src, 200L)
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")

    val root = tmpDir("signal-pipe")
    docs.write.mode("overwrite").parquet(s"$root/documents.parquet")
    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> root.toString)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    val registry = new TransformRegistry
    CurationTransforms.registerClassifierFilter(registry, spark, pos)
    val spec = PipelineJson.parsePipeline(
      s"""{"id":"sig","name":"signal classifier gate","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"classify","order":2,"kind":"named","transformName":"classifier_filter"},
         |{"stepType":"load","name":"kept","order":3,"connectionId":"out","path":"kept","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
    assert(repo.history("sig").map(_.status) == Seq("running", "success"))
    graft.CacheScope.drain()

    // the declarative kept set IS the margin>0 predicate — and it bites
    // in BOTH directions (nonzero, proper subset)
    val written = spark.read.parquet(s"$root/kept")
    val (_, margins) = TextAnalysis.perceptronMarginsOn(spark, docs, pos, 3)
    val expected = margins.filter($"m" > 0L).select($"doc_id")
    val nExpected = expected.count()
    graft.CacheScope.drain()
    assert(nExpected > 0L, "signal corpus must keep a nonzero set")
    assert(nExpected < docs.count(), "the filter must also drop something")
    assert(written.count() == nExpected)
    assert(written.select($"doc_id").except(expected).count() == 0)
    // a curated-majority kept set: the filter tracks the planted signal
    val keptPos = written.filter($"source".isin(pos: _*)).count()
    assert(keptPos * 10L >= written.count() * 9L,
      s"kept set should be >=90% curated, got $keptPos/${written.count()}")

    // held-out generalization: train WITHOUT the doc_id%5==0 slice,
    // then the frozen model must classify that unseen slice correctly
    val model = TextAnalysis.trainQualityModel(
      spark, docs.filter($"doc_id" % 5 =!= 0), pos)
    graft.CacheScope.drain()
    val held = TextAnalysis.scoreDocs(docs.filter($"doc_id" % 5 === 0), model)
      .select(($"margin" > 0L).as("pred"), $"source".isin(pos: _*).as("label"))
    val (nHeld, nOk) = {
      val r = held.agg(count(lit(1)), count(when($"pred" === $"label", 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(nHeld > 0L)
    assert(nOk * 10L >= nHeld * 9L,
      s"held-out accuracy must be >=90%, got $nOk/$nHeld")
  }

  test("quantile-cut chain: model_quantile_filter -> score_quantile_filter -> shards, stage 2 adapts to stage 1") {
    // the distribution-relative chain end-to-end in the declarative
    // surface: a frozen-model margin cut, then a TTR quantile cut
    // whose threshold is computed on the SURVIVORS (the point of a
    // relative cut — it re-anchors to whatever frame reaches it)
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository

    val pos = Seq("src0", "src1", "src2", "src3")
    val rows = (0 until 200).map { i =>
      val rng = new scala.util.Random(1000 + i)
      val src = s"src${i % 20}"
      val curated = (i % 20) < 4
      val words = (0 until 40).map { _ =>
        if (rng.nextInt(100) < 50) (if (curated) "cw" else "kw") + rng.nextInt(40)
        else "n" + rng.nextInt(120)
      }
      (i.toLong, words.mkString(" "), "en", src, 200L)
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")

    val root = tmpDir("quantile-chain")
    docs.write.mode("overwrite").parquet(s"$root/documents.parquet")
    val modelPath = s"$root/qmodel"
    TextAnalysis.saveQualityModel(spark,
      TextAnalysis.trainQualityModel(spark, docs, pos), modelPath)
    graft.CacheScope.drain()

    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> root.toString)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    val registry = new TransformRegistry
    CurationTransforms.registerModelQuantileFilter(
      registry, spark, modelPath, keepPermille = 300L)
    CurationTransforms.registerScoreQuantileFilter(registry, keepPermille = 500L)
    val spec = PipelineJson.parsePipeline(
      s"""{"id":"qchain","name":"quantile chain","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"margin_cut","order":2,"kind":"named","transformName":"model_quantile_filter"},
         |{"stepType":"transform","name":"ttr_cut","order":3,"kind":"named","transformName":"score_quantile_filter"},
         |{"stepType":"load","name":"shards","order":4,"connectionId":"out","path":"shards","mode":"replace",
         | "options":{"shardBy":"doc_id","shards":"8"}}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
    assert(repo.history("qchain").map(_.status) == Seq("running", "success"))
    graft.CacheScope.drain()

    // library-chain equivalence, stage by stage
    val model = TextAnalysis.loadQualityModel(spark, modelPath)
    val stage1 = {
      val s = TextAnalysis.scoreDocs(docs, model)
      TextAnalysis.quantileFilterOn(s, "margin", 300L).drop("margin")
    }
    val stage2 = {
      val s = stage1.withColumn("__q", expr(TextAnalysis.ttrPermilleSql("text")))
      TextAnalysis.quantileFilterOn(s, "__q", 500L).drop("__q")
    }
    val written = spark.read.parquet(s"$root/shards")
    val n1 = stage1.count(); val n2 = stage2.count()
    graft.CacheScope.drain()
    assert(n1 > 0 && n2 > 0 && n2 < n1 && n1 < docs.count(),
      s"both cuts must bite: ${docs.count()} -> $n1 -> $n2")
    assert(written.count() == n2)
    assert(written.select($"doc_id").except(stage2.select($"doc_id")).count() == 0)

    // the relative cut re-anchors to the in-flight frame: stage 2
    // keeps ≥ ⌈n1/2⌉ OF THE SURVIVORS (ties-inclusive guarantee
    // against stage-1's count, which only holds if the threshold was
    // computed on stage-1's output — against the full corpus the
    // lower bound would be ⌈N/2⌉, which stage 2 is far under)
    assert(n2 * 1000L >= n1 * 500L, s"ties-inclusive floor: $n2 of $n1")
    assert(n2 * 1000L < docs.count() * 500L,
      s"a corpus-anchored cut would keep >= ${docs.count() / 2}, got $n2")
    graft.CacheScope.drain()
  }

  test("FineWeb-style declarative chain: quality gate -> near-dup filter -> epoch mix -> spread shards") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository
    val root = tmpDir("fineweb-chain")
    // 8 near-dup families of 3 (20-word shared base, growing tails;
    // keep-best must pick the LONGEST member), 16 unique docs, 6
    // low-TTR junk docs the quality gate must drop first
    val fams = (0 until 8).flatMap { f =>
      val base = (0 until 20).map(j => s"f${f}w$j").mkString(" ")
      Seq(
        (f * 10L, s"$base tail", "en", s"src${f % 4}", 60L),
        (f * 10L + 1, s"$base tail extra", "en", s"src${f % 4}", 66L),
        (f * 10L + 2, s"$base tail extra more", "en", s"src${f % 4}", 72L))
    }
    // even uniques: 12 distinct words (TTR 1000); odd uniques: 6 words
    // doubled (TTR exactly 500 — past the quality gate, below the
    // curriculum anneal cut), so the kept corpus has a real score split
    val uniques = (0 until 16).map { i =>
      val words =
        if (i % 2 == 0) (0 until 12).map(j => s"u${i}x$j")
        else (0 until 6).flatMap(j => Seq(s"u${i}x$j", s"u${i}x$j"))
      (1000L + i, words.mkString(" "), "en", s"src${i % 4}", 70L)
    }
    val junk = (0 until 6).map { i =>
      (2000L + i, Seq.fill(12)("junk").mkString(" "), "en", s"src${i % 4}", 59L)
    }
    val docs = (fams ++ uniques ++ junk)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$root/documents.parquet")

    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> root.toString)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    val registry = new TransformRegistry
    CurationTransforms.registerQualityFilter(registry, minTtrPermille = 500L)
    CurationTransforms.registerDedupFilter(registry, keepBest = true)
    CurationTransforms.registerReplicateEpochs(registry,
      targetTokens = 400L, withMixKey = true)
    // the chain's last transform: annealing order keyed on mix_key so
    // every COPY gets its own within-phase position
    CurationTransforms.registerCurriculumOrder(registry,
      annealPermille = 300L, keyCol = "mix_key")
    val spec = PipelineJson.parsePipeline(
      s"""{"id":"fineweb","name":"full curation chain","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"quality","order":2,"kind":"named","transformName":"quality_filter","audit":true},
         |{"stepType":"transform","name":"dedup","order":3,"kind":"named","transformName":"dedup_filter","audit":true},
         |{"stepType":"transform","name":"mix","order":4,"kind":"named","transformName":"replicate_epochs","audit":true},
         |{"stepType":"transform","name":"order","order":5,"kind":"named","transformName":"curriculum_order"},
         |{"stepType":"load","name":"shards","order":6,"connectionId":"out","path":"mix_shards","mode":"replace",
         | "options":{"shardBy":"mix_key","shards":"8","orderCol":"curriculum_key"}}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
    val hist = repo.history("fineweb")
    assert(hist.map(_.status) ==
      Seq("running", "audit", "audit", "audit", "success"))
    graft.CacheScope.drain()

    // library replay, stage by stage
    val s1 = docs.filter(expr(s"${TextAnalysis.ttrPermilleSql("text")} >= 500"))
    val s2 = Dedup.nearDupFilterOn(s1, keepBestByChars = true)
    // no drain until s3 has run: s2's plan reads the CC loop's final
    // cut, which a drain releases
    val keptIds = s2.select($"doc_id").as[Long].collect().toSet
    // junk dropped by TTR; each family collapsed to its LONGEST member
    assert(keptIds.forall(_ < 2000L))
    (0 until 8).foreach { f =>
      assert(keptIds.contains(f * 10L + 2), s"family $f lost its best member")
      assert(!keptIds.contains(f * 10L) && !keptIds.contains(f * 10L + 1),
        s"family $f kept a non-canonical copy")
    }
    assert((1000L until 1016L).forall(keptIds.contains))
    val withToks = s2.withColumn("toks",
      size(split($"text", " ")).cast("long"))
    val s3 = TextAnalysis.replicateByEpochs(withToks,
      TextAnalysis.epochWeightsForTokenTarget(withToks, 400L))
      .select($"doc_id", $"rep").as[(Long, Long)].collect().sorted.toSeq
    graft.CacheScope.drain()
    val written = spark.read.parquet(s"$root/mix_shards")
    val got = written.select($"doc_id", $"rep").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == s3 && got.nonEmpty, "declarative chain must equal the library replay")
    // the audited retention series matches the library replay's counts
    assert(hist(1).message == s"step 'quality': rows=${docs.count() - junk.size}")
    assert(hist(2).message == s"step 'dedup': rows=${keptIds.size}")
    assert(hist(3).message == s"step 'mix': rows=${got.length}")
    // the mix_key placement spreads a doc's copies across shards
    val spread = written.groupBy($"doc_id")
      .agg(countDistinct($"shard").as("ns"), count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"ns").as[Long].collect()
    assert(spread.nonEmpty && spread.exists(_ >= 2L),
      "epoch copies should spread across shards under mix_key placement")

    // curriculum composition: copies of a doc share their PHASE (it's
    // a pure function of the score) but not their order position
    // (keyed on mix_key), and every part-file reads phase-0 first
    val phases = written.select($"doc_id", $"phase").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(phases.values.forall(_.size == 1), "copies must share their phase")
    assert(phases.values.exists(_ == Set(1L)) && phases.values.exists(_ == Set(0L)),
      "a 300-permille anneal cut should split this corpus")
    val keys = written.select($"doc_id", $"curriculum_key").as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2))
    assert(keys.values.filter(_.length >= 2)
      .forall(ks => ks.toSet.size == ks.length),
      "copies must get distinct within-phase positions")
    new java.io.File(s"$root/mix_shards").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val ps = spark.read.parquet(f.getPath).select($"phase").as[Long].collect()
        val firstP1 = ps.indexOf(1L)
        assert(firstP1 == -1 || ps.lastIndexWhere(_ == 0L) < firstP1,
          s"phase interleaving in ${f.getName}")
      }
    graft.CacheScope.drain()
  }

  test("FineWeb chain with the EXACT dedup stage: audit counts match prefix-join cluster math at two scales") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository
    // the no-false-negatives variant of the FineWeb chain: swap
    // dedup_filter (MinHash screen) for exact_dedup_filter (PPJoin);
    // the retention audit must match cluster math derived INDEPENDENTLY
    // from the prefix join's own pairs (JVM union-find), at two scales
    for (scale <- Seq(1, 4)) {
      val root = tmpDir(s"fineweb-exact-x$scale")
      val fams = (0 until 8 * scale).flatMap { f =>
        val base = (0 until 20).map(j => s"f${f}w$j").mkString(" ")
        Seq(
          (f * 10L, s"$base tail", "en", 60L),
          (f * 10L + 1, s"$base tail extra", "en", 66L),
          (f * 10L + 2, s"$base tail extra more", "en", 72L))
      }
      val uniques = (0 until 16 * scale).map { i =>
        (10000L + i, (0 until 12).map(j => s"u${i}x$j").mkString(" "), "en", 70L)
      }
      val junk = (0 until 6).map { i =>
        (20000L + i, Seq.fill(12)("junk").mkString(" "), "en", 59L)
      }
      val docs = (fams ++ uniques ++ junk).toDF("doc_id", "text", "lang", "n_chars")
      docs.write.mode("overwrite").parquet(s"$root/documents.parquet")

      val repo = new Repository(root)
      repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
        Map("basePath" -> root.toString)))
      val registry = new TransformRegistry
      CurationTransforms.registerQualityFilter(registry, minTtrPermille = 500L)
      CurationTransforms.registerExactDedupFilter(registry,
        tauMilli = 700L, keepBest = true)
      val spec = PipelineJson.parsePipeline(
        s"""{"id":"fineweb-exact","name":"exact-dedup chain","steps":[
           |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
           |{"stepType":"transform","name":"quality","order":2,"kind":"named","transformName":"quality_filter","audit":true},
           |{"stepType":"transform","name":"dedup","order":3,"kind":"named","transformName":"exact_dedup_filter","audit":true},
           |{"stepType":"load","name":"shards","order":4,"connectionId":"docs","path":"kept_shards","mode":"replace",
           | "options":{"shardBy":"doc_id","shards":"4"}}
           |]}""".stripMargin)
      repo.savePipeline(spec)
      assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")
      val hist = repo.history("fineweb-exact")
      assert(hist.map(_.status) == Seq("running", "audit", "audit", "success"))
      graft.CacheScope.drain()

      // independent cluster math: prefix-join pairs on the
      // quality-gated frame -> JVM union-find -> expected survivors
      val s1 = docs.filter(expr(
        s"${TextAnalysis.ttrPermilleSql("text")} >= 500"))
      val nGated = s1.count()
      val pairs = Dedup.prefixJoinOn(s1.select($"doc_id", $"text"), 700L)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      graft.CacheScope.drain()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val nClusters = nodes.map(find).distinct.length
      val expectedKept = nGated - (nodes.length - nClusters)
      assert(hist(1).message == s"step 'quality': rows=$nGated")
      assert(hist(2).message == s"step 'dedup': rows=$expectedKept",
        s"scale=$scale: audit=${hist(2).message} expected rows=$expectedKept")

      // the written corpus kept every unique and exactly each family's
      // LONGEST member (keep-best under the exact pair set)
      val written = spark.read.parquet(s"$root/kept_shards")
        .select($"doc_id").as[Long].collect().toSet
      graft.CacheScope.drain()
      assert(written.size.toLong == expectedKept)
      (0 until 8 * scale).foreach { f =>
        assert(written.contains(f * 10L + 2), s"family $f lost its best member")
        assert(!written.contains(f * 10L) && !written.contains(f * 10L + 1),
          s"family $f kept a non-canonical copy")
      }
      assert((0 until 16 * scale).forall(i => written.contains(10000L + i)))
      assert(written.forall(_ < 20000L), "junk must not survive the quality gate")
    }
  }

  test("bpe_token_stats transform annotates docs from a frozen tokenizer model") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val docs = graft.Tables.t(spark, dir, "documents")
    val modelPath = tmpDir("bpe-pipe-model").toString
    TextAnalysis.saveBpeModel(spark,
      TextAnalysis.trainBpeModel(spark, docs), modelPath)
    graft.CacheScope.drain()
    val registry = new TransformRegistry
    CurationTransforms.registerBpeTokenStats(registry, spark, modelPath)
    val out = registry("bpe_token_stats")(docs)
    assert(out.columns.toSeq == docs.columns.toSeq ++ Seq("bpe_words", "bpe_tokens", "bpe_chars"))
    val expected = TextAnalysis.bpeServeDocs(docs,
      TextAnalysis.loadBpeModel(spark, modelPath))
    assert(out.select($"doc_id", $"bpe_tokens").except(
      expected.select($"doc_id", $"bpe_tokens")).count() == 0)
    assert(out.agg(org.apache.spark.sql.functions.sum($"bpe_tokens")).head().getLong(0) > 0)
  }

  test("pca_project transform annotates embeddings from a frozen PCA model") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val modelPath = tmpDir("pca-pipe-model").toString
    Similarity.savePcaModel(spark,
      Similarity.trainPcaModel(spark, emb, k = 2), modelPath)
    graft.CacheScope.drain()
    val registry = new TransformRegistry
    CurationTransforms.registerPcaProject(registry, spark, modelPath)
    val out = registry("pca_project")(emb)
    assert(out.columns.toSeq == emb.columns.toSeq ++ Seq("pca_proj1", "pca_proj2"))
    val expected = Similarity.pcaServeOn(emb,
      Similarity.loadPcaModel(spark, modelPath))
    assert(out.select($"vec_id", $"pca_proj1", $"pca_proj2").except(
      expected.select($"vec_id", $"pca_proj1", $"pca_proj2")).count() == 0)
    // projections carry signal, not a degenerate all-zero column
    assert(out.filter($"pca_proj1" =!= 0L).count() > 0)
  }

  test("ann_neighbors transform annotates queries from a frozen prefix index") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val idxPath = tmpDir("ann-pipe-index").resolve("idx").toString
    Similarity.savePrefixIndex(Similarity.buildPrefixIndex(spark, emb), idxPath)
    graft.CacheScope.drain()
    val registry = new TransformRegistry
    CurationTransforms.registerAnnNeighbors(registry, spark,
      s"$dir/embeddings.parquet", idxPath, k = 3)
    val queries = emb.filter($"vec_id" % 50 === 0)
    val out = registry("ann_neighbors")(queries)
    assert(out.columns.toSeq == queries.columns.toSeq :+ "ann_neighbors")
    val got = out.select($"vec_id", $"ann_neighbors")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the frame is its own id space against the same corpus, so each
    // query's nearest neighbor is itself (cos=1, excludeSelf=false)
    assert(got.nonEmpty)
    got.foreach { case (id, s) =>
      assert(s.nonEmpty && s.split(",").head.toLong == id,
        s"query $id: expected self as rank-1 neighbor, got '$s'")
    }
    // rank order matches a direct probe
    val expected = Similarity.probePrefixIndex(spark, emb, queries,
        Similarity.buildPrefixIndex(spark, emb), excludeSelf = false)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getLong(3)).map(_.getLong(1)).mkString(",")
      }
    graft.CacheScope.drain()
    assert(got == expected)
  }

  test("replicate_epochs transform expands the in-flight frame by the hashed epoch weights") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val docs = graft.Tables.t(spark, dir, "documents")
    val registry = new TransformRegistry
    CurationTransforms.registerReplicateEpochs(registry, targetTokens = 2000L)
    val out = registry("replicate_epochs")(docs)
    // schema = source schema + rep; library path agrees exactly
    assert(out.columns.toSeq == docs.columns.toSeq :+ "rep")
    val withToks = docs.withColumn("toks",
      size(split($"text", " ")).cast("long"))
    val expected = TextAnalysis.replicateByEpochs(withToks,
      TextAnalysis.epochWeightsForTokenTarget(withToks, 2000L))
      .select($"doc_id", $"rep").as[(Long, Long)].collect().sorted.toSeq
    val got = out.select($"doc_id", $"rep").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == expected && got.nonEmpty)
    // the mix is an EXPANSION here (scarce fixture sources upsample)
    assert(got.length > docs.count())
  }

  test("entropy_filter keeps exactly the docs above the nat threshold") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val docs = graft.Tables.t(spark, dir, "documents")
    val registry = new TransformRegistry
    CurationTransforms.registerEntropyFilter(registry, minNats10 = 28L)
    val kept = registry("entropy_filter")(docs)
    val expected = TextAnalysis.docEntropy(docs)
      .filter($"nh" * 10L >= lit(28000000L) * $"n").select($"doc_id")
    assert(kept.count() == expected.count() && kept.count() > 0)
    assert(kept.count() < docs.count()) // the threshold actually bites
    assert(kept.select($"doc_id").except(expected).count() == 0)
    assert(kept.columns.toSeq == docs.columns.toSeq)
  }

  test("empty benchmark fails loudly instead of silently cleaning nothing") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, dir, "documents")
    val empty = docs.filter($"doc_id" < 0)
    val e = intercept[IllegalArgumentException] {
      Dedup.benchmarkBloom(empty)
    }
    assert(e.getMessage.contains("no shingles"))
    intercept[IllegalArgumentException] {
      Dedup.bloomClean(docs, null)
    }
  }

  test("benchmarkBloom sizing is caller-controllable (deployment-scale filters)") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, dir, "documents")
    val bench = docs.filter($"doc_id" % 100 === 0)
    // a bigger filter must still have no false negatives; size scales with bits
    val small = Dedup.benchmarkBloom(bench, estItems = 10000L, numBits = 400000L)
    val big = Dedup.benchmarkBloom(bench, estItems = 1000000L, numBits = 40000000L)
    assert(big.length > small.length)
    val corpus = docs.filter($"doc_id" % 100 =!= 0)
    val cleanBig = Dedup.bloomClean(corpus, big)
    val cleanSmall = Dedup.bloomClean(corpus, small)
    // bigger filter ⇒ fewer false positives ⇒ at least as many survivors
    assert(cleanBig.count() >= cleanSmall.count())
  }

  test("window_chunk transform == library chunker; granularity change flows through a pipeline") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository

    val root = tmpDir("chunk-pipe")
    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> dir)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    val registry = new TransformRegistry
    CurationTransforms.registerWindowChunk(registry, win = 64, stride = 48)

    val spec = PipelineJson.parsePipeline(
      s"""{"id":"chunk","name":"chunk for embedding","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"chunks","order":2,"kind":"named","transformName":"window_chunk"},
         |{"stepType":"load","name":"out","order":3,"connectionId":"out","path":"chunks","mode":"replace"}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")

    val expected = TextAnalysis.windowChunkText(
      graft.Tables.t(spark, dir, "documents"), 64, 48)
    val written = spark.read.parquet(s"$root/chunks")
    assert(written.count() == expected.count())
    assert(written.select($"doc_id", $"chunk_idx", $"chunk_text")
      .except(expected.select($"doc_id", $"chunk_idx", $"chunk_text")).count() == 0)
  }

  test("curriculum_order transform + orderCol load: annealing-ordered shards from a JSON pipeline") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
    import graft.model.{ConnectionSpec, PipelineJson}
    import graft.store.Repository

    val root = tmpDir("curriculum-pipe")
    val repo = new Repository(root)
    repo.saveConnection(ConnectionSpec("docs", "fixtures", "parquet",
      Map("basePath" -> dir)))
    repo.saveConnection(ConnectionSpec("out", "outputs", "parquet",
      Map("basePath" -> root.toString)))
    val registry = new TransformRegistry
    CurationTransforms.registerCurriculumOrder(registry, annealPermille = 200L)

    val spec = PipelineJson.parsePipeline(
      s"""{"id":"cur","name":"anneal-ordered layout","steps":[
         |{"stepType":"extract","name":"docs","order":1,"connectionId":"docs","path":"documents.parquet"},
         |{"stepType":"transform","name":"order","order":2,"kind":"named","transformName":"curriculum_order"},
         |{"stepType":"load","name":"shards","order":3,"connectionId":"out","path":"shards","mode":"replace",
         | "options":{"shardBy":"doc_id","shards":"8","orderCol":"curriculum_key"}}
         |]}""".stripMargin)
    repo.savePipeline(spec)
    assert(new PipelineRunner(spark, repo, registry).run(spec).status == "success")

    // anneal set matches the library's ties-inclusive top-200‰ on the
    // shared TTR grid, and every part-file reads phase-0 before phase-1
    val docs = graft.Tables.t(spark, dir, "documents")
    val scored = docs.withColumn("__q",
      expr(TextAnalysis.ttrPermilleSql("text")))
    val expPhases = Sharding
      .withCurriculumOrder(scored, "doc_id", "__q", 200L)
      .select($"doc_id", $"phase").as[(Long, Long)].collect().toMap
    val written = spark.read.parquet(s"$root/shards")
      .select($"doc_id", $"phase").as[(Long, Long)].collect()
    assert(written.length == expPhases.size)
    assert(written.toMap == expPhases)
    assert(written.count(_._2 == 1L) > 0, "anneal phase must be non-empty")
    val files = new java.io.File(s"$root/shards").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 8)
    files.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
        .select($"phase").as[Long].collect()
      val lastP0 = rows.lastIndexWhere(_ == 0L)
      val firstP1 = rows.indexOf(1L)
      assert(firstP1 == -1 || lastP0 < firstP1,
        s"phase interleaving in ${f.getName}")
    }
  }

  test("bm25_select keeps exactly the target-matching docs, full schema, zero-overlap drops") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    val corpus = Seq(
      (1L, "quantum flux capacitor tuning guide", "en", "s", 35L),
      (2L, "banana bread recipe with walnuts steps", "en", "s", 39L),
      (3L, "flux measurements in quantum systems data", "en", "s", 42L),
      (4L, "gardening tips for tomato plants soil", "en", "s", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val benchDir = tmpDir("bm25-select-bench").toString
    Seq((100L, "quantum flux theory overview intro primer"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(benchDir)
    val registry = new TransformRegistry
    CurationTransforms.registerBm25Select(registry, spark, benchDir, k = 2)
    val kept = registry("bm25_select")(corpus)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    // only docs 1 and 3 share any query term; 2 and 4 never enter the
    // candidate set (no posting matches), so top-2 is exactly {1, 3}
    assert(kept.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
    graft.CacheScope.drain()
    // k = 1 keeps only the best match
    val registry1 = new TransformRegistry
    CurationTransforms.registerBm25Select(registry1, spark, benchDir, k = 1)
    val kept1 = registry1("bm25_select")(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept1.size == 1 && kept1.subsetOf(Set(1L, 3L)))
    graft.CacheScope.drain()
    // the inverse verb: bm25_decontaminate drops exactly what select keeps
    val registryD = new TransformRegistry
    CurationTransforms.registerBm25Decontaminate(registryD, spark, benchDir, k = 2)
    val cleaned = registryD("bm25_decontaminate")(corpus)
    assert(cleaned.columns.toSeq == corpus.columns.toSeq)
    assert(cleaned.select($"doc_id").as[Long].collect().toSet == Set(2L, 4L))
    graft.CacheScope.drain()
  }

  test("bm25_decontaminate minScore6 threshold: drops ALL matches above the score, ignoring the top-k cap") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    // four near-copies of the benchmark doc + two clean docs: a top-k
    // cut at k=1 keeps three of the copies (the documented blind
    // spot); the score-threshold form drops every one of them
    val benchText = "quantum flux theory overview intro primer"
    val corpus = Seq(
      (1L, s"$benchText copy one", "en", "s", 10L),
      (2L, s"$benchText copy two", "en", "s", 10L),
      (3L, s"$benchText copy three", "en", "s", 10L),
      (4L, s"$benchText copy four", "en", "s", 10L),
      (5L, "banana bread recipe with walnuts steps", "en", "s", 39L),
      (6L, "gardening tips for tomato plants soil", "en", "s", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val benchDir = tmpDir("bm25-minscore-bench").toString
    Seq((100L, benchText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(benchDir)
    // top-k form at k=1: exactly one copy dropped, three survive —
    // the recall limit the docstring documents
    val regK = new TransformRegistry
    CurationTransforms.registerBm25Decontaminate(regK, spark, benchDir, k = 1)
    val keptK = regK("bm25_decontaminate")(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptK.size == 5 && Set(5L, 6L).subsetOf(keptK),
      s"k=1 should keep 3 of 4 copies plus the clean docs: $keptK")
    graft.CacheScope.drain()
    // threshold form: any positive score means a shared term here, so
    // minScore6 = 1 drops all four copies and keeps the clean docs
    val regT = new TransformRegistry
    CurationTransforms.registerBm25Decontaminate(regT, spark, benchDir,
      k = 1, minScore6 = Some(1L))
    val keptT = regT("bm25_decontaminate")(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptT == Set(5L, 6L), s"threshold form left copies behind: $keptT")
    graft.CacheScope.drain()
  }

  test("hybrid_select: fused keep == standalone hybridTopKOn hits; catches what each single tower misses") {
    import spark.implicits._
    import graft.exec.{CurationTransforms, TransformRegistry}
    // corpus rows carry text AND embedding. Doc 1 is a LEXICAL match
    // (shares target tokens, far embedding); doc 3 is a SEMANTIC match
    // (near embedding, disjoint text); docs 2/4 match neither.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val corpus = Seq(
      (1L, "quantum flux capacitor tuning guide", v(0.0, 1.0)),
      (2L, "banana bread recipe with walnuts steps", v(-1.0, 0.2)),
      (3L, "unrelated words entirely different topic", v(1.0, 0.02)),
      (4L, "gardening tips for tomato plants soil", v(-0.5, -1.0)))
      .toDF("doc_id", "text", "embedding")
    val benchDir = tmpDir("hybrid-select-bench").toString
    Seq((100L, "quantum flux theory overview intro primer", v(1.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
      .write.mode("overwrite").parquet(benchDir)
    val registry = new TransformRegistry
    CurationTransforms.registerHybridSelect(registry, benchDir, k = 2)
    val kept = registry("hybrid_select")(corpus)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    // fused top-2 = the lexical hit + the semantic hit: each tower
    // contributes the doc the other is blind to
    assert(kept.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
    graft.CacheScope.drain()
    // keep/drop parity with the standalone library row: the transform
    // keeps EXACTLY the doc_ids hybridTopKOn emits at the same k
    val hits = graft.ops.TextAnalysis
      .hybridTopKOn(corpus, spark.read.parquet(benchDir), k = 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.select($"doc_id").as[Long].collect().toSet == hits)
    graft.CacheScope.drain()
    // the fused frame carries both per-system ranks and the exact RRF
    // fixed-point score (the gate-row invariant, on arbitrary frames)
    val fused = graft.ops.TextAnalysis
      .hybridTopKOn(corpus, spark.read.parquet(benchDir), k = 4)
      .select($"rank", $"rrf", $"lex_rank", $"vec_rank")
      .as[(Long, Double, Long, Long)].collect()
    fused.foreach { case (_, rrf, lr, vr) =>
      val expect = (if (lr > 0) math.round(1e6 / (60 + lr)) else 0L) +
        (if (vr > 0) math.round(1e6 / (60 + vr)) else 0L)
      assert(math.round(rrf * 1e6) == expect)
      assert(lr > 0 || vr > 0)
    }
    graft.CacheScope.drain()
  }
}
