package graft.streaming

import graft.connect.Sources
import graft.model.{ConnectionSpec, LoadStep}
import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Streaming LoadStep dispatch — the sink half of declarative streaming
  * pipelines (the extract half is `Sources.read` with
  * `streaming=true`). A scheduled pipeline whose frame is streaming
  * runs as an INCREMENTAL BATCH: `Trigger.AvailableNow` drains
  * everything the source has accumulated since the checkpoint's last
  * offsets, then the query stops — so each scheduler tick processes
  * only new files, the run is bounded (the reference's run_task
  * contract: start, finish, history row — core/engine.py:35-96), and a
  * crash mid-run resumes from the checkpoint on the next tick with
  * exactly-once file-source semantics.
  *
  * Modes:
  *  - `append`: plain file-format streaming sink (parquet/csv/json/orc)
  *    with Spark's exactly-once `_spark_metadata` log.
  *  - `append` with `annIndex` or `shardBy`/`shards`: one `foreachBatch`
  *    applies the per-tick passes ([[tickPasses]]) and hands each
  *    micro-batch to the batch sink, [[Sources.write]], with the
  *    connection's options merged under the step's — so a stream
  *    writes the ANN-index and shard layouts with exactly the batch
  *    load's code and refusals. `bm25Index` is the one streaming-only
  *    sink in that `foreachBatch`: each batch id becomes its own index
  *    generation (TextAnalysis.maintainBm25Index), idempotent on
  *    replay. The index and shard appends are AT-LEAST-ONCE across a
  *    crash-and-retry (a replayed batch appends its rows again); use
  *    the manifest-committed upsert when exactly-once matters.
  *  - `upsert`: CDC merge by key/version into a bucketed parquet
  *    snapshot — [[StreamOps.upsertToParquetBucketed]] (rename-swap;
  *    HDFS/local) or, with option `commit=manifest`,
  *    [[StreamOps.upsertToParquetManifest]] (write-once manifests;
  *    object stores). Options: `keyCol`, `versionCol`, `numBuckets`.
  *
  * `checkpointLocation` is required and resolves against the
  * connection's basePath unless absolute — the checkpoint must live
  * with the target's storage so a restart anywhere in the cluster
  * finds the same offsets. A STEP-level checkpointLocation is used
  * as-is; a CONNECTION-level one is a shared base and is NAMESPACED
  * by the step name — otherwise every streaming load on that
  * connection would silently reuse the first load's committed offsets
  * and drain nothing (no error, just missing data).
  *
  * Upgrade path: deployments from before the namespacing committed
  * offsets at the connection-level path ITSELF. Renaming those out
  * from under a running deployment would abandon the offsets — the
  * stream reprocesses every source file from scratch and an append
  * sink gets every historical row a second time. So when the step is
  * the connection's ONLY checkpoint-less streaming load AND the
  * legacy un-namespaced path already holds a committed checkpoint
  * (an `offsets/` dir or `metadata` file), the legacy path is kept.
  * With two or more loads sharing the connection the namespaced path
  * always wins: the legacy layout was silently wrong for them anyway.
  */
object StreamingLoad {

  /** Checkpoint resolution (see class doc; unit-tested directly):
    * step-level value wins verbatim, connection-level value gets
    * `/<step.name>` appended so distinct steps never collide —
    * except the sole-load legacy adoption described in the class doc,
    * probed via `legacyHasCheckpoint` (injected so tests need no FS). */
  private[streaming] def resolveCheckpoint(
      conn: ConnectionSpec, step: LoadStep,
      soleConnectionLoad: Boolean = false,
      legacyHasCheckpoint: String => Boolean = _ => false): String = {
    step.options.get("checkpointLocation") match {
      case Some(p) => Sources.resolve(conn, p)
      case None =>
        val shared = conn.options.getOrElse("checkpointLocation",
          throw new IllegalArgumentException(
            s"load '${step.name}': streaming load needs option checkpointLocation"))
        val legacy = Sources.resolve(conn, shared)
        if (soleConnectionLoad && legacyHasCheckpoint(legacy)) legacy
        else s"$legacy/${step.name}"
    }
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksdbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** State-store provider for a streaming load's run.
    *
    * HDFS-backed state lives in executor heap — at deployment scale
    * (dedup keys, join buffers over days of traffic) that caps state at
    * memory and OOMs first; RocksDB spills to local disk and is the
    * provider a 100 TB pipeline runs. But the provider is part of a
    * checkpoint's on-disk state format, so it must never flip across a
    * restart — Spark itself records providerClass in the offsets-log
    * metadata and replays it when resuming. Resolution: an explicit
    * `stateStore` option (`rocksdb` | `hdfs`) always wins; otherwise a
    * FRESH checkpoint (no committed offsets yet) defaults to RocksDB,
    * and an existing one sets nothing — the checkpoint's own recorded
    * conf governs the restart.
    */
  private[streaming] def resolveStateStore(
      merged: Map[String, String], checkpointExists: Boolean): Option[String] =
    merged.get("stateStore") match {
      case Some("rocksdb") => Some(rocksdbProvider)
      case Some("hdfs") => Some(hdfsProvider)
      case Some(other) => throw new IllegalArgumentException(
        s"stateStore must be rocksdb | hdfs, got '$other'")
      case None => if (checkpointExists) None else Some(rocksdbProvider)
    }

  /** True when `path` holds a Structured Streaming checkpoint (its
    * committed-offsets dir or metadata marker exists). */
  private def hasCommittedCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val fs = graft.connect.Hfs.fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    graft.connect.Hfs.isDir(fs, new org.apache.hadoop.fs.Path(p, "offsets")) ||
      graft.connect.Hfs.isFile(fs, new org.apache.hadoop.fs.Path(p, "metadata"))
  }

  /** The per-tick passes of the foreachBatch sinks, each enabled by
    * its path option (resolved like the target) and applied in this
    * order: the decontamination lenses first — lexical BM25
    * (`bm25DecontaminateIndex`, top-k per TICK, so a near-copy that
    * ranks below k within one tick survives), exact n-gram
    * (`exactDecontaminateIndex`, the frozen-index shuffle path) and
    * semantic cosine (`semanticDecontaminateIndex`, default τ 950‰) —
    * then admission, exact (`exactDedupIndex`) before semantic
    * (`semanticDedupIndex`). A leaked row must never become the
    * admitted representative that rejects clean arrivals. Each pass is
    * a pure function of the tick and frozen or batch-id-keyed state,
    * so the accumulated result equals the offline composition whatever
    * the tick boundaries, and a replayed batch id replaces its own
    * admission generation instead of self-rejecting against it. Bench
    * sets are read against the micro-batch's session: streaming runs
    * batches on a cloned session. */
  private def tickPasses(b: DataFrame, bid: Long, conn: ConnectionSpec,
      opts: Map[String, String]): DataFrame = {
    val s = b.sparkSession
    val passes: Seq[(String, (DataFrame, String) => DataFrame)] = Seq(
      "bm25DecontaminateIndex" -> { (d, p) =>
        val hits = TextAnalysis.bm25TopKOn(d, s.read.parquet(p),
          opts.get("bm25DecontaminateK").map(_.toInt).getOrElse(20),
          opts.get("bm25DecontaminateTokens").map(_.toInt).getOrElse(8))
          .select(col("doc_id")).distinct()
        d.join(hits, Seq("doc_id"), "left_anti")
      },
      "exactDecontaminateIndex" -> ((d, p) => Dedup.exactDecontaminateFrozen(
        d, p, opts.get("exactDecontaminateTau").map(_.toLong))),
      "semanticDecontaminateIndex" -> ((d, p) => Similarity.semanticDecontaminate(
        s, d, s.read.parquet(p),
        opts.get("semanticDecontaminateTau").map(_.toLong).getOrElse(950L))),
      "exactDedupIndex" -> ((d, p) => Dedup.admitExactDedup(d, p, bid)),
      "semanticDedupIndex" -> ((d, p) => Similarity.admitSemanticDedup(d, p, bid)))
    passes.foldLeft(b) { case (d, (k, pass)) =>
      opts.get(k).fold(d)(p => pass(d, Sources.resolve(conn, p)))
    }
  }

  def write(df: DataFrame, conn: ConnectionSpec, step: LoadStep,
      soleConnectionLoad: Boolean = true): Unit = {
    require(df.isStreaming, s"load '${step.name}': StreamingLoad needs a streaming frame")
    val merged = conn.options ++ step.options
    val full = Sources.resolve(conn, step.path.orElse(step.table).getOrElse(
      throw new IllegalArgumentException(s"load '${step.name}': path required")))
    val checkpoint = resolveCheckpoint(conn, step, soleConnectionLoad,
      legacy => hasCommittedCheckpoint(df.sparkSession, legacy))
    val provider = resolveStateStore(merged,
      hasCommittedCheckpoint(df.sparkSession, checkpoint))
    def req(k: String): String = merged.getOrElse(k,
      throw new IllegalArgumentException(s"load '${step.name}': upsert needs option $k"))
    val writer = step.mode match {
      case "upsert" =>
        val nb = merged.getOrElse("numBuckets", "16").toInt
        if (merged.get("commit").contains("manifest"))
          StreamOps.upsertToParquetManifest(df, req("keyCol"), req("versionCol"), full, nb)
        else
          StreamOps.upsertToParquetBucketed(df, req("keyCol"), req("versionCol"), full, nb)
      case "append" if Seq("annIndex", "bm25Index", "shardBy", "shards").exists(merged.contains) =>
        // an annIndex wins over bm25Index, which wins over a shard layout
        val bm25 = merged.contains("bm25Index") && !merged.contains("annIndex")
        require(!bm25 || conn.format == "parquet",
          s"load '${step.name}': bm25Index layout requires parquet, got '${conn.format}'")
        // the streaming route reads the connection's options too
        val batchStep = step.copy(options = merged)
        StreamOps.toForeachBatch(df, "append") { (b, bid) =>
          val admitted = tickPasses(b, bid, conn, merged)
          if (bm25) TextAnalysis.maintainBm25Index(admitted, full, bid,
            merged.get("bm25Buckets").map(_.toInt))
          else Sources.write(admitted, conn, batchStep)
        }
      case "append" =>
        df.writeStream.format(conn.format).option("path", full).outputMode("append")
      case other => throw new IllegalArgumentException(
        s"load '${step.name}': streaming load supports append | upsert, got '$other'")
    }
    // the provider conf is captured at query start; scope the override
    // to this run and restore the session's setting afterwards
    val session = df.sparkSession
    val prevProvider = session.conf.getOption(providerKey)
    provider.foreach(session.conf.set(providerKey, _))
    try {
      val q = writer
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    } finally if (provider.isDefined) prevProvider match {
      case Some(v) => session.conf.set(providerKey, v)
      case None => session.conf.unset(providerKey)
    }
  }
}
