package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures whether `saveBm25Index`'s term-clustered row groups
  * (`sortWithinPartitions($"term")`, TextAnalysis) actually buy
  * row-group pruning at a REAL vocabulary — the r15 fixture's ~31-word
  * vocabulary produced one tiny term run per bucket, so the sort's
  * claimed benefit ("the pushed term INSET only prunes if rows are
  * sorted") was never tested at a scale where parquet min/max stats
  * can discriminate.
  *
  * Method: build a synthetic corpus with a >=100k-term vocabulary,
  * freeze TWO indexes — the shipped sorted layout, and the identical
  * layout with the within-bucket sort REMOVED (rows land in shuffle
  * arrival order, so every row group's term min/max spans the whole
  * bucket) — then run the serving-shaped postings scan (bucket INSET
  * partition filter + term INSET pushed) for a fixed ~30-doc query
  * batch against both, under `exec.SparkMetrics`. Parquet block size
  * is forced small so each bucket file holds MANY row groups — the
  * shape a 100 TB index has natively, where files are large and row
  * groups per file number in the hundreds.
  *
  * The probe sweeps `spark.sql.parquet.pushdown.inFilterThreshold`
  * because it is load-bearing: at the DEFAULT (10), a serving batch's
  * few-hundred-term IN list is pushed as one min/max RANGE over the
  * whole list — random query terms span the vocabulary, so the range
  * excludes nothing and the sort buys NOTHING (first measured run:
  * records ratio 1.00). Above the threshold the native IN predicate
  * reaches parquet's row-group stats and dictionary filters, where
  * term-clustered row groups can actually be skipped.
  *
  * The verdict is the input_records ratio unsorted / sorted at the
  * raised threshold: >> 1 means the clustering is real but ONLY
  * together with the threshold conf (which serving sessions must then
  * set); ~1 everywhere would mean the sort should go.
  *
  * SCALING THE SHAPE, not the bytes: skip effectiveness is governed by
  * R/t — row groups per bucket file over query terms per bucket. At
  * 100 TB a 64-bucket index holds ~1.5 TB (thousands of row groups)
  * per bucket against ~4 query terms, so R/t is in the hundreds; a
  * probe that writes 200 KB bucket files (R = 1) measures nothing.
  * The bucket count and parquet block size are therefore probe
  * parameters, sized so R/t lands in a deployment-shaped regime.
  *
  * Usage: Bm25PruneProbe [docs=400000] [docTokens=20] [vocab=150000] [queries=30] [buckets=4] [blockKb=64]
  *   (env: SPARK_GRAFT_CPUS)
  */
object Bm25PruneProbe {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 400000
    val docTokens = if (args.length > 1) args(1).toInt else 20
    val vocab = if (args.length > 2) args(2).toInt else 150000
    val nQueries = if (args.length > 3) args(3).toInt else 30
    val nBuckets = if (args.length > 4) args(4).toInt else 4
    val blockKb = if (args.length > 5) args(5).toInt else 64
    val spark = GraftSession.local()
    import spark.implicits._
    // many row groups per bucket file — the 100 TB file shape, scaled
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", blockKb * 1024)
    spark.sparkContext.hadoopConfiguration.setInt("parquet.page.size",
      math.max(blockKb * 1024 / 4, 8 * 1024))

    // deterministic corpus over a `vocab`-term pool (AdmitSweep's
    // hash-text convention); zipf-free uniform draw is the HARD case
    // for clustering (every term equally likely per row group)
    val docs = spark.range(0L, nDocs.toLong).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 until docTokens).map(p =>
          concat(lit("t"), pmod(xxhash64(col("doc_id") * 7919L + p),
            lit(vocab.toLong)))): _*))
      .persist()
    val queries = docs.filter(pmod(col("doc_id"), lit(6659L)) === 3L)
      .limit(nQueries)
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
      .persist()
    val qTerms = queries.select($"term").distinct().as[String].collect().toSeq
    println(s"""{"docs":$nDocs,"vocab":$vocab,"query_terms":${qTerms.size},"buckets":$nBuckets,"block_kb":$blockKb}""")

    val base = java.nio.file.Files.createTempDirectory("graft-bm25-prune")
    val sorted = s"$base/sorted"
    val unsorted = s"$base/unsorted"
    graft.ops.TextAnalysis.saveBm25Index(docs.select($"doc_id", $"text"), sorted, nBuckets)
    graft.ops.TextAnalysis.saveBm25Index(docs.select($"doc_id", $"text"), unsorted, nBuckets)
    graft.CacheScope.drain()
    // strip the clustering from the unsorted variant: rewrite its
    // batch-0 postings ordered by doc_id within each bucket — the
    // identical rows with term-RANDOM row groups (a bucket shuffle
    // with no sort is NOT enough: one mapper per bucket file feeds
    // one reducer in file order, silently preserving the term sort —
    // the first probe cut measured that accident as "no difference")
    val fs = graft.connect.Hfs.fs(spark, unsorted)
    spark.read.option("basePath", s"$unsorted/postings")
      .parquet(s"$unsorted/postings/batch=0")
      .drop("batch")
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$unsorted/postings/.resort-tmp")
    graft.connect.Hfs.deleteIfExists(fs,
      new org.apache.hadoop.fs.Path(unsorted, "postings/batch=0"))
    graft.connect.Hfs.renameChecked(fs,
      new org.apache.hadoop.fs.Path(unsorted, "postings/.resort-tmp"),
      new org.apache.hadoop.fs.Path(unsorted, "postings/batch=0"),
      "prune-probe unsorted rewrite")

    val buckets = nBuckets
    val bucketIds = qTerms.map(t =>
      spark.range(1).select(pmod(hash(lit(t)), lit(buckets)).as("b"))
        .as[Int].head()).distinct

    // the serving-shaped postings scan, isolated (no dfreq, no score
    // join): bucket INSET partition filter + term INSET pushed — what
    // bm25Serve pays per batch against the postings layout
    def scan(path: String): (Long, graft.exec.SparkMetrics.Metrics, Double) = {
      val t0 = System.nanoTime()
      val (rows, m) = graft.exec.SparkMetrics.measure(spark) {
        spark.read.parquet(s"$path/postings")
          .filter(col("bucket").isin(bucketIds: _*) &&
            col("term").isin(qTerms: _*))
          .count()
      }
      (rows, m, (System.nanoTime() - t0) / 1e9)
    }
    def serve(path: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextAnalysis.bm25Serve(spark, queries, path).collect()
      graft.CacheScope.drain()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both (JIT + footer cache), then measure each layout under
    // the default IN threshold (range fallback) and a raised one
    // (native IN predicate -> row-group stats + dictionary filtering)
    Seq(sorted, unsorted).foreach(scan)
    val thresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    Seq(10, 1024).foreach { thresh =>
      spark.conf.set(thresholdKey, thresh)
      val results = Seq("sorted" -> sorted, "unsorted" -> unsorted).map {
        case (name, path) =>
          val (rows, m, sec) = scan(path)
          val serveSec = serve(path)
          println(f"""{"in_threshold":$thresh,"variant":"$name","candidate_rows":$rows,"input_records":${m.inputRecords},"input_bytes":${m.inputBytes},"scan_sec":$sec%.3f,"serve_sec":$serveSec%.3f}""")
          (rows, m)
      }
      val Seq((rowsS, mS), (rowsU, mU)) = results
      require(rowsS == rowsU, s"variants disagree on candidates: $rowsS vs $rowsU")
      println(f"""{"in_threshold":$thresh,"records_ratio_unsorted_over_sorted":${mU.inputRecords.toDouble / mS.inputRecords}%.2f,"bytes_ratio":${mU.inputBytes.toDouble / mS.inputBytes}%.2f}""")
    }
    spark.stop()
  }
}
