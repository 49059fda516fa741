package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index-growth sweep for the SEMANTIC dedup admission index
  * (`graft.ops.Similarity.admitSemanticDedup`): admit `ticks`
  * fixed-size batches of synthetic embeddings into one index and print
  * per-tick wall seconds as JSON lines.
  *
  * The cost model under test is DIFFERENT from the exact index's. The
  * exact path's prefix filter bounds candidates by the batch's token
  * footprint, so its healthy sweep is FLAT. Semantic admission is an
  * exact within-cluster cosine test with no sub-cluster filter — no
  * false negatives inside a cluster, the SemDeDup contract — so
  * per-tick cost necessarily tracks CLUSTER OCCUPANCY: |batch| ×
  * admitted/k cosines per tick, i.e. per-tick wall grows linearly in
  * the admitted count at FIXED k, and the deployment knob is the
  * codebook width (k ≈ √N keeps occupancy, and therefore per-tick
  * cost, at √N). What this sweep demonstrates is exactly that knob:
  * the growth SLOPE scales as 1/k (run it at k and 4k and compare),
  * while compaction bounds the file/listing rent the same way it does
  * for every generational layout here.
  *
  * Vectors are deterministic hash-derived uniforms in [-1,1]^dims
  * (near-orthogonal at 64 dims — admitted in the hundreds per 2k
  * batch at τ=950 only when planted); ~4% of each tick is an exact
  * copy of the PREVIOUS tick's rows so the reject path runs every
  * tick.
  *
  * Usage: SemAdmitSweep [ticks=20] [batchVecs=2000] [dims=64] [k=16] [compactEvery=0] [rebucketAfter=0] [rebucketTo=0]
  *   (env: SPARK_GRAFT_CPUS). compactEvery=N runs
  *   compactSemanticDedupIndex after every Nth tick (untimed — a
  *   scheduled maintenance step, not admission cost).
  *
  * The REBUCKET leg (r17 verdict ask #3): rebucketAfter=T rebucketTo=K
  * runs `rebucketSemanticDedupIndex(idx, K)` after tick T — the sweep
  * then shows the undersized-codebook degradation up to T and the
  * return to the layout floor after the migration, which is the
  * deployment story for a corpus that outgrew its create-time k
  * (`tools/semadmit_rebucket_r18.json`).
  */
object SemAdmitSweep {

  def main(args: Array[String]): Unit = {
    val ticks = if (args.length > 0) args(0).toInt else 20
    val batchVecs = if (args.length > 1) args(1).toInt else 2000
    val dims = if (args.length > 2) args(2).toInt else 64
    val k = if (args.length > 3) args(3).toInt else 16
    val compactEvery = if (args.length > 4) args(4).toInt else 0
    val rebucketAfter = if (args.length > 5) args(5).toInt else 0
    val rebucketTo = if (args.length > 6) args(6).toInt else 0
    val spark = GraftSession.local()

    val base = java.nio.file.Files.createTempDirectory("graft-semadmit-sweep")
    val idx = s"$base/idx"

    // deterministic embedding: dim d of vec v = hash(v, d) mapped to
    // [-1, 1] — no Random, every tick schema- and size-identical. ~4%
    // of rows ≥ tick 1 are exact copies of the previous tick's vector
    // (cos = 1), so the cross-generation reject path runs every tick.
    // The copy SOURCE is offset by +1: id ≡ 0 (mod 25) copies the
    // vector of id − batch + 1 (≡ 1 mod 25), which carried its own
    // hash content and was ADMITTED last tick. Copying id − batch
    // exactly — the first formulation here, and the committed r15
    // AdmitSweep's — silently breaks the chain at tick 2: that source
    // id was itself a copy and was REJECTED, so its hash vector never
    // entered the index and the "dup" matches nothing (caught because
    // this sweep prints admitted counts: 2000, not 1920, from tick 2).
    def vecCol(id: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(dims - 1)),
        d => ((pmod(xxhash64(id * 7919L + d.cast("long")), lit(2001L))
          - lit(1000L)).cast("double") / 1000.0).cast("float"))
    def batchDf(tick: Int): DataFrame = {
      val lo = tick.toLong * batchVecs
      spark.range(lo, lo + batchVecs).toDF("vec_id")
        .withColumn("embedding",
          when(col("vec_id") % 25 === 0 && col("vec_id") >= batchVecs,
            vecCol(col("vec_id") - batchVecs + 1))
            .otherwise(vecCol(col("vec_id"))))
    }

    graft.ops.Similarity.createSemanticDedupIndex(
      spark, idx, batchDf(0), tauMilli = 950L, k = k)
    val out = new StringBuilder
    var indexed = 0L
    var curK = k
    (0 until ticks).foreach { t =>
      val b = batchDf(t)
      val t0 = System.nanoTime()
      val admitted = graft.ops.Similarity.admitSemanticDedup(b, idx, t.toLong).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.drain()
      spark.sharedState.cacheManager.clearCache()
      // the cost-model column: expected within-cluster cosines this
      // tick ≈ batch × indexed/k (uniform assignment). When `sec`
      // tracks this number, occupancy dominates (the regime ask r16#3
      // wants measured); when it doesn't, layout/plan rent dominates.
      val cosines = batchVecs.toLong * indexed / math.max(curK, 1)
      indexed += admitted
      val line = f"""{"tick":$t,"sec":$dt%.3f,"admitted":$admitted,"indexed_before":${indexed - admitted},"est_cosines":$cosines,"batch":$batchVecs,"k":$curK}"""
      println(line)
      out.append(line).append('\n')
      if (compactEvery > 0 && t % compactEvery == compactEvery - 1) {
        val folded = graft.ops.Similarity.compactSemanticDedupIndex(spark, idx)
        println(s"""{"compacted_after_tick":$t,"folded":$folded}""")
      }
      if (rebucketAfter > 0 && rebucketTo > 0 && t == rebucketAfter - 1) {
        val r0 = System.nanoTime()
        val moved = graft.ops.Similarity.rebucketSemanticDedupIndex(
          spark, idx, rebucketTo)
        val rdt = (System.nanoTime() - r0) / 1e9
        graft.CacheScope.drain()
        spark.sharedState.cacheManager.clearCache()
        curK = rebucketTo
        println(f"""{"rebucketed_after_tick":$t,"new_k":$rebucketTo,"vectors_moved":$moved,"sec":$rdt%.3f}""")
      }
    }
    // slope verdict the PLANS entry can cite: mean of last 5 ticks vs
    // mean of ticks 2-6 (skip tick 0-1 JIT). Expected GROWTH > 1 at
    // fixed k — the number that matters is how it scales with k. On a
    // rebucket run the summary splits at the migration instead: the
    // last-5-ticks-before vs first-and-last-5-after means ARE the
    // cliff-and-recovery story, and a blended growth number would
    // mislabel it.
    val secs = out.toString.linesIterator.toSeq.map { l =>
      """"sec":([0-9.]+)""".r.findFirstMatchIn(l).get.group(1).toDouble
    }
    if (rebucketAfter > 0 && rebucketTo > 0 && ticks > rebucketAfter + 5) {
      // divide by the ACTUAL window sizes — a short pre-rebucket run
      // clips the slice and a hard-coded 5 would understate the mean
      val preW = secs.slice(math.max(rebucketAfter - 5, 0), rebucketAfter)
      val postW = secs.takeRight(5)
      val preLate = preW.sum / preW.size
      val post = postW.sum / postW.size
      println(f"""{"pre_rebucket_late_mean":$preLate%.3f,"post_rebucket_mean":$post%.3f,"recovery":${preLate / post}%.3f,"k_before":$k,"k_after":$rebucketTo}""")
    } else if (ticks >= 10) {
      val early = secs.slice(2, 7).sum / 5
      val late = secs.takeRight(5).sum / 5
      println(f"""{"early_mean":$early%.3f,"late_mean":$late%.3f,"growth":${late / early}%.3f,"k":$k}""")
    }
    spark.stop()
  }
}
