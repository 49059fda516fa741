package graft.tools

import graft.{GraftSession, Tables}
import graft.ops.{Dedup, Sharding, TextAnalysis}
import org.apache.spark.sql.functions._

/** End-to-end curation-chain bench — the LLM-training-data pipeline
  * the library exists for, timed stage by stage at one scale factor
  * so per-stage scaling is attributable across fixtures:
  *
  *   bloom build → bloom clean → DSIR weighting → token-budget
  *   (binned) → shard plan → shard write
  *
  * Each stage is forced independently (count/collect/write) and
  * caches are dropped between stages, so a stage's time is its own
  * plan, not a prefix's. Bloom sizing uses the MEASURED benchmark
  * shingle count via the r11 sizing knobs (estItems/numBits) — the
  * deployment contract, not the gate constants, because at 30× the
  * benchmark's distinct-shingle count exceeds the gate ceiling and a
  * fixed 4 Mbit filter would silently degrade FPP.
  *
  * Prints ONE JSON line: per-stage seconds + corpus/clean/shard row
  * counts. Compare across sf0.1 / sf1 (10×) / sf3 (30×) runs for the
  * sublinearity table (PLANS.md r11).
  *
  * Usage: CurationBench  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object CurationBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def drop(): Unit = {
      spark.sharedState.cacheManager.clearCache(); graft.CacheScope.drain()
    }

    val docs = Tables.t(spark, sfDir, "documents")
    val bench = docs.filter($"doc_id" % 100 === 0)
    val corpus = docs.filter($"doc_id" % 100 =!= 0)
    val nCorpus = corpus.count()

    // deployment-contract sizing: measure the benchmark's distinct
    // shingle count (one cheap pass over the SMALL side), then size
    // bits ≈ 40·n for per-probe fpp < 1e-9
    val (nShingles, tSize) = timed {
      Dedup.withShingles(bench.select($"doc_id", $"lang", $"text"), "words")
        .select(explode($"words").as("wd"), $"lang")
        .agg(count_distinct(concat($"lang", lit("|"), $"wd"))).head().getLong(0)
    }
    val estItems = math.max(1000L, nShingles)
    val numBits = 40L * estItems
    drop()

    val (bloom, tBloom) = timed(Dedup.benchmarkBloom(bench, estItems, numBits))
    drop()
    val (clean0, tClean) = timed {
      val c = Dedup.bloomClean(corpus, bloom)
      (c, c.count())
    }
    val (clean, nClean) = clean0
    drop()
    // trained-classifier gate (r11, held-out split added r12): train
    // on 90% of the corpus (doc_id % 10 != 7), measure accuracy on the
    // UNSEEN 10%, then score the full corpus with the frozen model and
    // count the kept (margin > 0) set — nonzero on a signal-bearing
    // fixture (graft.tools.SignalFixture), zero on the signal-free
    // driver soup (both honest numbers; record which fixture ran)
    // split by doc_id HASH, not doc_id % 10: the fixture assigns
    // source = doc_id % 20, so a modulo split holds out entire sources
    // (all-negative held set = a vacuous accuracy). rounds=6, not the
    // gate's pinned 3: the batch update converges in more epochs as N
    // grows (measured: round 3 is still at the majority rate on the
    // 5k-doc fixture, round 6 at 99% — each extra round costs one
    // broadcast join + rollup, linear and model-sized)
    val posSources = TextAnalysis.perceptronPosSources
    val trainSplit = corpus.filter(pmod(xxhash64($"doc_id"), lit(10)) =!= 7)
    val heldout = corpus.filter(pmod(xxhash64($"doc_id"), lit(10)) === 7)
    val (model, tTrain) = timed(
      TextAnalysis.trainQualityModel(spark, trainSplit, posSources, rounds = 6))
    drop()
    def accuracy(split: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val scored = TextAnalysis.scoreDocs(split, model)
        .select(($"margin" > 0L).as("pred"), $"source".isin(posSources: _*).as("label"))
      val r = scored.agg(count(lit(1)), count(when($"pred" === $"label", 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nTrain, nTrainOk) = accuracy(trainSplit)
    val (nHeld, nHeldOk) = accuracy(heldout)
    drop()
    val (nClassKept, tClassify) = timed(
      TextAnalysis.scoreDocs(corpus, model).filter($"margin" > 0L).count())
    drop()
    // entropy gate (r11): per-source low-entropy report
    val (_, tEntropy) = timed(TextAnalysis.wordEntropy(spark, sfDir).collect())
    drop()
    val (_, tDsir) = timed(TextAnalysis.dsirSelect(spark, sfDir).collect())
    drop()
    val (_, tBudget) = timed(TextAnalysis.tokenBudgetSelectBinned(spark, sfDir).collect())
    drop()
    val (_, tPlan) = timed(Sharding.shardPlan(spark, sfDir).collect())
    drop()
    val out = java.nio.file.Files.createTempDirectory("curation_bench").toString + "/shards"
    val (manifest, tWrite) = timed(
      Sharding.writeTrainingShards(clean, "doc_id", out, 16))
    val nSharded = manifest.agg(sum($"n_rows")).head().getLong(0)

    println(
      f"""{"tool":"curation_bench","sf":"$sfDir","n_corpus":$nCorpus,"n_bench_shingles":$nShingles,"bloom_bits":$numBits,"n_clean":$nClean,"n_class_kept":$nClassKept,"n_train":$nTrain,"train_acc":${nTrainOk.toDouble / math.max(nTrain, 1)}%.4f,"n_heldout":$nHeld,"heldout_acc":${nHeldOk.toDouble / math.max(nHeld, 1)}%.4f,"n_sharded":$nSharded,"sec":{"size":$tSize%.2f,"bloom":$tBloom%.2f,"clean":$tClean%.2f,"classifier_train":$tTrain%.2f,"classifier_score":$tClassify%.2f,"entropy":$tEntropy%.2f,"dsir":$tDsir%.2f,"token_budget_binned":$tBudget%.2f,"shard_plan":$tPlan%.2f,"shard_write":$tWrite%.2f}}""")
    spark.stop()
  }
}
