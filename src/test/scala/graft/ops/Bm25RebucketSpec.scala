package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 bucket-modulus migration (TextAnalysis.rebucketBm25Index —
  * the retrieval sibling of the semantic-admission rebucket). The
  * contract under test: served rows are BIT-IDENTICAL across the
  * migration (bucketing is pure layout), the layout is consistently
  * re-hashed under the new modulus, later appends compose (append ≡
  * rebuild still holds at the new bucket count), the live generation
  * survives as a replay unit, and a crash after the intent replays to
  * the uninterrupted end state from the serve entry point — a reader
  * can never prune with the old modulus over the new layout.
  */
class Bm25RebucketSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select($"doc_id", $"text")
  private def queries = spark.read.parquet(s"$dir/documents.parquet")
    .filter("doc_id % 97 = 3 AND doc_id < 100000")
    .selectExpr("doc_id AS query_id",
      "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
  private def served(idx: String) = {
    val out = TextAnalysis.bm25Serve(spark, queries, idx).collect().toSeq
    graft.CacheScope.drain()
    out
  }
  /** Three-generation incremental index at `buckets`. */
  private def populated(name: String, buckets: Int): String = {
    val idx = tmpDir(name).toString
    (0 to 2).foreach { r =>
      TextAnalysis.maintainBm25Index(
        docs.filter(s"doc_id % 3 = $r"), idx, r.toLong, Some(buckets))
    }
    graft.CacheScope.drain()
    idx
  }
  private def bucketsOf(idx: String): Int =
    graft.connect.Hfs.readSmall(graft.connect.Hfs.fs(spark, idx),
      new org.apache.hadoop.fs.Path(idx, "_bm25_buckets")).trim.toInt

  test("rebucket serves bit-identical rows, re-hashes the whole layout, folds old generations") {
    val idx = populated("bm25-rebucket-basic", buckets = 5)
    val ref = served(idx)
    assert(ref.nonEmpty)
    assert(TextAnalysis.rebucketBm25Index(spark, idx, 16) == 3) // 2 folded + 1 live
    graft.CacheScope.drain()
    assert(bucketsOf(idx) == 16)
    assert(served(idx) == ref, "scores are layout-independent — they must not move")
    // every postings row sits in pmod(hash(term), 16)
    for (sub <- Seq("postings")) {
      val bad = spark.read.option("basePath", s"$idx/$sub").parquet(s"$idx/$sub")
        .filter(col("bucket") =!= pmod(hash($"term"), lit(16))).count()
      assert(bad == 0L, s"$sub holds $bad rows outside their new-modulus bucket")
      val gens = graft.connect.Hfs.listDirs(graft.connect.Hfs.fs(spark, idx),
        new org.apache.hadoop.fs.Path(idx, sub)).map(_.getName).sorted
      assert(gens == Seq("batch=-1", "batch=2"),
        s"$sub generations after rebucket: $gens")
    }
    assert(!graft.connect.Hfs.fs(spark, idx).exists(
      new org.apache.hadoop.fs.Path(idx, "dfreq")), "the layout has no dfreq/ sub")
    graft.CacheScope.drain()
  }

  test("appends after a rebucket compose: append == rebuild at the new modulus, bit for bit") {
    val idx = populated("bm25-rebucket-append", buckets = 5)
    TextAnalysis.rebucketBm25Index(spark, idx, 16)
    graft.CacheScope.drain()
    // live batch id 2 replays idempotently against the migrated layout
    TextAnalysis.maintainBm25Index(docs.filter("doc_id % 3 = 2"), idx, 2L)
    graft.CacheScope.drain()
    // a fresh one-shot 16-bucket index over the same corpus is the
    // reference the migrated-and-replayed index must match exactly
    val oneShot = tmpDir("bm25-rebucket-oneshot").toString
    TextAnalysis.saveBm25Index(docs, oneShot, buckets = 16)
    graft.CacheScope.drain()
    assert(served(idx) == served(oneShot),
      "migrated + replayed != one-shot rebuild at the new modulus")
  }

  test("a crash after the intent replays to the uninterrupted end state from the serve entry") {
    // twin A: uninterrupted migration = the reference state
    val a = populated("bm25-rebucket-crash-a", buckets = 5)
    TextAnalysis.rebucketBm25Index(spark, a, 16)
    graft.CacheScope.drain()
    // twin B: stage exactly what its own rebucket would stage (the
    // re-hash is deterministic, so A's committed output is the staged
    // content), write the intent, STOP — then serve must replay it
    val b = populated("bm25-rebucket-crash-b", buckets = 5)
    val bfs = graft.connect.Hfs.fs(spark, b)
    for (sub <- Seq("postings")) {
      spark.read.option("basePath", s"$a/$sub").parquet(s"$a/$sub/batch=-1")
        .drop("batch").repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$b/$sub/.compact-tmp")
      spark.read.option("basePath", s"$a/$sub").parquet(s"$a/$sub/batch=2")
        .drop("batch").repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$b/$sub/.rebucket-live-tmp")
    }
    assert(!bfs.exists(new org.apache.hadoop.fs.Path(b, "dfreq")))
    graft.connect.Hfs.writeSmall(bfs,
      new org.apache.hadoop.fs.Path(b, "stats/.compact-tmp"),
      graft.connect.Hfs.readSmall(graft.connect.Hfs.fs(spark, a),
        new org.apache.hadoop.fs.Path(a, "stats/batch=-1")),
      overwrite = true)
    graft.connect.Hfs.writeSmall(bfs,
      new org.apache.hadoop.fs.Path(b, "_bm25_rebucket_intent"),
      "-1 2 0,1 16", overwrite = true)
    graft.CacheScope.drain()
    // the serve entry recovers first — same rows as the clean migration,
    // marker gone, modulus swapped
    assert(served(b) == served(a))
    assert(!bfs.exists(new org.apache.hadoop.fs.Path(b, "_bm25_rebucket_intent")))
    assert(bucketsOf(b) == 16)
  }

  test("rebucket_bm25_index transform + loud failure modes") {
    val idx = populated("bm25-rebucket-transform", buckets = 5)
    val registry = new graft.exec.TransformRegistry
    graft.exec.CurationTransforms.registerBm25IndexRebucket(
      registry, spark, idx, newBuckets = 8)
    val frame = docs.limit(1)
    assert(registry("rebucket_bm25_index")(frame) eq frame)
    graft.CacheScope.drain()
    assert(bucketsOf(idx) == 8)
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.rebucketBm25Index(spark,
        tmpDir("bm25-rebucket-noidx").toString, 8)
    }
    assert(e1.getMessage.contains("not a BM25 index"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.rebucketBm25Index(spark, idx, 0)
    }
    assert(e2.getMessage.contains("positive"))
  }
}
