package graft.tools

import graft.{GraftSession, Tables}
import graft.ops.{Dedup, Sharding, TextAnalysis}
import org.apache.spark.sql.functions._

/** Stage-timed bench for the round-12 curation chain — the FineWeb
  * shape CurationFlowSpec runs declaratively:
  *
  *   TTR quality gate → near-dup filter (LSH families, keep-best) →
  *   epoch-weighted replication → curriculum annealing order →
  *   mix_key shard write (orderCol = curriculum_key)
  *
  * Since the curriculum stage landed, the mix is localCheckpoint'd
  * before the write so `t_cur`/`t_shard` time THEIR plans, not a
  * replay of the replication.
  *
  * Same discipline as the curation chain timings in PLANS.md
  * (`tools/curation_bench_r11b.jsonl`): every stage forced
  * independently, caches dropped between stages, ONE JSON line out
  * (per-stage seconds + retention counts). The epoch target is fixed
  * (20k tokens/source), so the replication REGIME shifts with scale —
  * up-sampling at sf0.1, fractional subsampling at 10×/30× — which is
  * the operator's real behavior under a fixed mix spec, not a bench
  * artifact; n_mix reflects it.
  *
  * Usage: MixChainBench  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_OUT for the shard dir, default /tmp/mixchain)
  */
object MixChainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/mixchain") + "/shards"
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
    val nDocs = docs.count()

    val (nQual, tQual) = timed {
      docs.filter(expr(s"${TextAnalysis.ttrPermilleSql("text")} >= 500")).count()
    }
    drop()
    val qual = docs.filter(expr(s"${TextAnalysis.ttrPermilleSql("text")} >= 500"))

    val (nDedup, tDedup) = timed {
      Dedup.nearDupFilterOn(qual, keepBestByChars = true).count()
    }
    drop()
    // materialize the kept set once so the mix stage times ITS plan,
    // not a second component resolution
    val kept = Dedup.nearDupFilterOn(qual, keepBestByChars = true)
      .select($"doc_id", $"source", $"text")
      .localCheckpoint()
    drop()

    val withToks = kept.withColumn("toks",
      size(split($"text", " ")).cast("long"))
    val (nMix, tMix) = timed {
      TextAnalysis.replicateByEpochs(withToks,
        TextAnalysis.epochWeightsForTokenTarget(withToks, 20000L)).count()
    }
    drop()

    val mix = TextAnalysis.replicateByEpochs(withToks,
        TextAnalysis.epochWeightsForTokenTarget(withToks, 20000L))
      .withColumn("mix_key", Sharding.mixKey($"doc_id", $"rep"))
      .localCheckpoint()
    drop()

    // curriculum stage (r12): the annealing sort key — quantile
    // threshold on the bounded TTR grid + per-copy order hash; the
    // extra cost over the plain write is the histogram rollup plus a
    // wider sort key in the writer's existing within-task sort
    val (nAnneal, tCur) = timed {
      val scored = mix.withColumn("__q",
        expr(TextAnalysis.ttrPermilleSql("text")))
      Sharding.withCurriculumOrder(scored, "mix_key", "__q", 100L)
        .filter($"phase" === 1L).count()
    }
    drop()
    val ordered = Sharding.withCurriculumOrder(
        mix.withColumn("__q", expr(TextAnalysis.ttrPermilleSql("text"))),
        "mix_key", "__q", 100L)
      .drop("__q")
    val (_, tShard) = timed {
      Sharding.writeTrainingShards(
        ordered.select($"mix_key", $"doc_id", $"rep", $"source", $"text",
          $"phase", $"curriculum_key"),
        "mix_key", out, 16, orderCol = Some("curriculum_key"))
    }
    drop()
    val nShard = spark.read.parquet(out).count()

    println(s"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_qual":$nQual,""" +
      s""""n_dedup":$nDedup,"n_mix":$nMix,"n_anneal":$nAnneal,"n_shard":$nShard,""" +
      s""""t_qual":${f"$tQual%.2f"},"t_dedup":${f"$tDedup%.2f"},""" +
      s""""t_mix":${f"$tMix%.2f"},"t_cur":${f"$tCur%.2f"},"t_shard":${f"$tShard%.2f"}}""")
    spark.stop()
  }
}
