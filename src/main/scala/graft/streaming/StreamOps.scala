package graft.streaming

import graft.CacheScope
import graft.CacheScope.Scoped
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row

/** Structured Streaming surface (SURVEY.md §2.B "Streaming"). The
  * reference has no streaming — its closest analog is the 30 s polling
  * scheduler (scheduler/scheduler.py:49-56). These transformations are
  * the streaming twins of ops.EventOps (same logic, verified against
  * the DuckDB oracle there in batch); specs drive them with
  * MemoryStream. At scale: state is keyed by (window/user) — watermarks
  * bound state size, which is what makes the 100 TB/day version viable.
  */
object StreamOps {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class UserSession(
      user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** flatMapGroupsWithState accumulator for [[statefulSessions]]. */
  final case class Agg(start: Long, end: Long, n: Long, sum: Double)

  /** State for [[statefulEwma]]: the last smoothed value. */
  final case class EwmaState(s: Long)

  /** Output row of [[statefulEwma]]. */
  final case class EwmaOut(user_id: Long, event_id: Long, v: Long, ewma: Long)

  /** Tumbling 10-minute counts with a 10-minute watermark: late rows
    * beyond the watermark are dropped, per-window state is evicted once
    * the watermark passes the window end.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows (5-minute gap) per user — streaming twin of
    * ops.EventOps.sessionize.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"))

  /** Streaming dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  /** Stream-static join: enrich the stream with a static dimension. */
  def enrich(events: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey))

  /** Stream-stream inner join with watermarks on BOTH sides and an
    * event-time interval condition — the attribution shape: each
    * purchase joins the same user's clicks from the preceding
    * `windowMinutes`. The interval bound + both watermarks are what let
    * Spark evict buffered join state (without them a stream-stream join
    * holds both streams forever); state is keyed by user and bounded by
    * watermark + range, the 100 TB/day-viable shape. Batch twin with
    * the DuckDB oracle: ops.EventOps.attribution (q_evt_attribution);
    * StreamOpsSpec drives this one with MemoryStream and asserts parity
    * with the batch twin.
    */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame, windowMinutes: Int): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Custom stateful sessionization via flatMapGroupsWithState with
    * event-time timeout — the escape hatch when session_window's
    * semantics aren't enough (emits a session only when it closes).
    */
  def statefulSessions(spark: SparkSession, events: DataFrame, gapMs: Long): DataFrame = {
    import spark.implicits._
    events.as[Event]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Agg, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Agg]) =>
          if (state.hasTimedOut) {
            val a = state.get
            state.remove()
            Iterator.single(UserSession(userId,
              new java.sql.Timestamp(a.start), new java.sql.Timestamp(a.end + gapMs),
              a.n, a.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var acc = state.getOption
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { e =>
              val t = e.ts.getTime
              acc match {
                case Some(a) if t - a.end < gapMs =>
                  acc = Some(Agg(a.start, t max a.end, a.n + 1, a.sum + e.value))
                case Some(a) =>
                  closed += UserSession(userId, new java.sql.Timestamp(a.start),
                    new java.sql.Timestamp(a.end + gapMs), a.n, a.sum)
                  acc = Some(Agg(t, t, 1, e.value))
                case None =>
                  acc = Some(Agg(t, t, 1, e.value))
              }
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(a.end + gapMs)
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** Streaming twin of [[graft.ops.EventOps.ewma]] — the UNBOUNDED-
    * entity form the batch scaladoc points at: state per user is ONE
    * smoothed long (not the history — the recurrence only needs
    * s_{t−1}), so state size is |entities|, never |events|, and the
    * RocksDB default carries it past the heap like the dedup state
    * measurements. Rows are folded in (ts, event_id) order within each
    * micro-batch; across batches the recurrence consumes arrival
    * order, so exact batch parity holds when per-entity event time is
    * monotone across batches (the landing-dir and CDC shapes) — same
    * integer arithmetic as the batch fold (value cents, `(7s+v) div
    * 8`), proven row-identical on a two-batch MemoryStream
    * (StreamOpsSpec).
    */
  def statefulEwma(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[EwmaOut]
          sorted.foreach { e =>
            val v = math.floor(e.value * 100).toLong
            val s2 = st match {
              case Some(a) => (7 * a.s + v) / 8
              case None => v
            }
            out += EwmaOut(userId, e.event_id, v, s2)
            st = Some(EwmaState(s2))
          }
          st.foreach(state.update)
          out.result().iterator
      }.toDF()
  }

  /** The one foreachBatch sink, reusing the batch load path (SURVEY.md
    * §2.B "Output modes/sinks": reuse batch loaders A7-A9 inside). Each
    * micro-batch is a [[CacheScope]] scope: what it persisted or cut is
    * released when it ends, also when it fails. */
  def toForeachBatch(df: DataFrame, outputMode: String)(
      loadBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(outputMode)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        CacheScope.scoped(loadBatch(batch.toDF(), id)))

  /** Streaming CDC-style upsert into a parquet target — each
    * micro-batch MERGEs into the current snapshot on `keyCol` (last
    * write per key wins; within one batch the row with the highest
    * `versionCol` wins, so out-of-order CDC events inside a batch
    * still resolve deterministically) and atomically swaps the
    * snapshot directory. Plain parquet has no transactional row
    * rewrite, so the honest shape is rewrite-merge-swap: read current
    * ∪ dedup batch → anti-join old keys → write NEW dir → rename. On
    * a 100 TB target you'd bucket the snapshot by the merge key so
    * the per-batch merge touches only colliding buckets; here the
    * whole-snapshot rewrite is explicit and documented, not hidden.
    */
  def upsertToParquet(df: DataFrame, keyCol: String, versionCol: String,
      targetDir: String): DataStreamWriter[Row] =
    toForeachBatch(df, "append")((batch, _) =>
      mergeIntoSnapshot(batch, keyCol, versionCol, targetDir))

  /** The per-batch merge of [[upsertToParquet]], callable directly
    * (bench harnesses, backfills replaying batches without a stream).
    */
  private[graft] def mergeIntoSnapshot(batch: DataFrame, keyCol: String,
      versionCol: String, targetDir: String): Unit = {
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      import graft.connect.Hfs
      import org.apache.hadoop.fs.Path
      val latest = batch
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)))
        .filter(col("__rn") === 1).drop("__rn")
      // all paths through the Hadoop FileSystem bound to targetDir's
      // scheme — file:/hdfs:/s3a: alike (rename-swap needs atomic
      // rename, i.e. a real filesystem; see Hfs scaladoc and the
      // manifest sink for object stores)
      val fs = Hfs.fs(spark, targetDir)
      val root = new Path(targetDir)
      val cur = new Path(root, "current")
      val prev = new Path(root, "prev")
      // crash recovery: a previous batch that died between its two
      // renames left no "current" but a complete "prev" — restore it
      // before merging, or the accumulated table would be silently
      // dropped (foreachBatch may replay the batch after a failure,
      // which is exactly when this state occurs)
      if (!Hfs.isDir(fs, cur) && Hfs.isDir(fs, prev))
        Hfs.renameChecked(fs, prev, cur, "upsert recovery")
      val merged =
        if (Hfs.isDir(fs, cur)) {
          val old = spark.read.parquet(cur.toString)
          old.join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
            .unionByName(latest)
        } else latest
      val next = new Path(root, "next")
      merged.write.mode("overwrite").parquet(next.toString)
      // swap, every step checked: a silently-failed rename here would
      // let streaming commit the batch offsets while readers keep the
      // stale snapshot — the batch would be lost with no error
      Hfs.deleteIfExists(fs, prev)
      if (Hfs.isDir(fs, cur))
        Hfs.renameChecked(fs, cur, prev, "upsert swap (current->prev)")
      try Hfs.renameChecked(fs, next, cur, "upsert swap (next->current)")
      catch { case e: Throwable =>
        // roll the old snapshot back so readers/next batch still see it
        if (Hfs.isDir(fs, prev) && !fs.exists(cur)) { val _ = fs.rename(prev, cur) }
        throw e
      }
  }

  /** Bucketed streaming CDC upsert — the partition-pruned upgrade path
    * of [[upsertToParquet]], whose merge-rewrite-swap rewrites the FULL
    * snapshot every micro-batch (O(snapshot) per batch, its documented
    * cost). Here the snapshot is laid out as `bucket=<b>/current`
    * directories with b = pmod(hash(key), numBuckets); each batch
    *
    *  1. restores any bucket a crash left mid-swap (prev/ without
    *     current/ — same recovery invariant as the unbucketed sink,
    *     now per bucket; an O(numBuckets) directory sweep),
    *  2. resolves in-batch versions (highest `versionCol` per key),
    *  3. reads ONLY the buckets the batch's keys hash into — the
    *     partition pruning: untouched buckets are never read, never
    *     rewritten, their files never move,
    *  4. anti-joins replaced keys out, unions the batch in, writes the
    *     merged touched buckets to a staging dir in ONE job
    *     (`partitionBy(__bucket)`), and
    *  5. swaps each touched bucket with the same checked
    *     current→prev→next rename dance, so readers see per-bucket
    *     atomicity and a crash anywhere replays idempotently
    *     (re-merging the same batch is a no-op by key).
    *
    * Per-batch cost drops from O(snapshot) to O(batch + touched-bucket
    * bytes) ≈ snapshot·min(1, |batch keys| / numBuckets): at 100 TB
    * with 100k buckets a 10k-key CDC batch rewrites ≤ 0.01 % of the
    * table. The driver-side bucket list is bounded by numBuckets — a
    * constant, not data volume. The remaining gap to a real table
    * format (Iceberg/Delta) is multi-bucket transactionality: a reader
    * listing during the swap loop can see bucket A new and bucket B
    * old; per-key consistency still holds because a key lives in
    * exactly one bucket.
    */
  def upsertToParquetBucketed(df: DataFrame, keyCol: String, versionCol: String,
      targetDir: String, numBuckets: Int): DataStreamWriter[Row] =
    toForeachBatch(df, "append")((batch, _) =>
      mergeIntoBucketedSnapshot(batch, keyCol, versionCol, targetDir, numBuckets))

  /** Both bucketed sinks' merge: the touched buckets (bounded by
    * numBuckets, never by data) and their merged rows — the batch's
    * highest-`versionCol` row per key over each bucket's `existing` dir.
    * The bucket is RECOMPUTED from the key on read (partition dirs don't
    * store it), keeping bucket routing a pure function of the key. */
  private def mergeTouchedBuckets(batch: DataFrame, keyCol: String, versionCol: String,
      numBuckets: Int)(existing: Int => Option[String]): (Array[Int], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val bucket = pmod(hash(col(keyCol)), lit(numBuckets))
    val latest = batch
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("__bucket", bucket)
      .persistScoped()
    val touched = latest.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val dirs = touched.flatMap(existing)
    val merged =
      if (dirs.isEmpty) latest
      else batch.sparkSession.read.parquet(dirs.toIndexedSeq: _*)
        .withColumn("__bucket", bucket)
        .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(latest)
    (touched, merged.select(latest.columns.map(col).toIndexedSeq: _*))
  }

  /** The per-batch merge of [[upsertToParquetBucketed]], callable
    * directly. */
  private[graft] def mergeIntoBucketedSnapshot(batch: DataFrame, keyCol: String,
      versionCol: String, targetDir: String, numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, targetDir)
    val root = new Path(targetDir)
    fs.mkdirs(root)
    // 0. bucket-count contract: routing is pure hash(key) mod N, so a
    // DIFFERENT N against an existing snapshot silently re-routes rows
    // read from touched buckets into staged buckets the swap loop never
    // installs — permanent row loss. Persist N on first write and fail
    // fast on any mismatch instead.
    val marker = new Path(root, "_num_buckets")
    if (Hfs.isFile(fs, marker)) {
      val stored = Hfs.readSmall(fs, marker).trim.toInt
      require(stored == numBuckets,
        s"bucketed snapshot at $targetDir was written with numBuckets=$stored; " +
          s"got $numBuckets — changing the bucket count requires a full rewrite")
    } else {
      Hfs.writeSmall(fs, marker, numBuckets.toString)
    }
    // 1. crash-recovery sweep over bucket dirs
    Hfs.listDirs(fs, root)
      .filter(_.getName.startsWith("bucket=")).foreach { bd =>
        val cur = new Path(bd, "current")
        val prev = new Path(bd, "prev")
        if (!Hfs.isDir(fs, cur) && Hfs.isDir(fs, prev))
          Hfs.renameChecked(fs, prev, cur, s"bucketed upsert recovery ($bd)")
      }
    // 2-4. in-batch version resolution, touched buckets, merge + one
    // staged write of the touched buckets
    val (touched, merged) = mergeTouchedBuckets(batch, keyCol, versionCol, numBuckets) { b =>
      Some(new Path(root, s"bucket=$b/current")).filter(Hfs.isDir(fs, _)).map(_.toString)
    }
    val staging = new Path(root, "staging")
    Hfs.deleteIfExists(fs, staging)
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(staging.toString)
    // 5. per-bucket checked swap
    touched.foreach { b =>
      val next = new Path(staging, s"__bucket=$b")
      require(Hfs.isDir(fs, next), s"staged bucket $b missing under $staging")
      val bd = new Path(root, s"bucket=$b")
      fs.mkdirs(bd)
      val cur = new Path(bd, "current")
      val prev = new Path(bd, "prev")
      Hfs.deleteIfExists(fs, prev)
      if (Hfs.isDir(fs, cur))
        Hfs.renameChecked(fs, cur, prev, s"bucketed upsert swap current->prev ($bd)")
      try Hfs.renameChecked(fs, next, cur, s"bucketed upsert swap next->current ($bd)")
      catch { case e: Throwable =>
        if (Hfs.isDir(fs, prev) && !fs.exists(cur)) { val _ = fs.rename(prev, cur) }
        throw e
      }
    }
    Hfs.deleteIfExists(fs, staging)
  }

  // ---------------------------------------------------------------------
  // Manifest-committed bucketed upsert — the OBJECT-STORE-SAFE variant.
  //
  // The rename-swap sinks above are atomic exactly where rename is an
  // atomic namespace edit: local filesystems and HDFS. Object stores
  // (s3a:, gs:, abfs:) implement "rename" as per-object copy+delete — a
  // crash mid-swap strands a directory HALF-moved, which breaks the
  // prev/current recovery invariant those sinks rely on. The fix every
  // public table format (Iceberg, Delta) converged on: never move data
  // at all. Data directories are write-once; commits are small
  // write-once manifest files; the LATEST COMPLETE manifest is the
  // snapshot. This sink is that protocol in its smallest honest form:
  //
  //   targetDir/data/v<N>/__bucket=<b>/part-*.parquet  write-once gens
  //   targetDir/manifests/m<N>                         write-once, maps
  //                                                    bucket -> data dir,
  //                                                    terminated by END
  //
  // Commit point = the manifest's final "END" line being durable: a
  // manifest without END (writer crashed mid-PUT; object stores make
  // this impossible, filesystems possible) is ignored and readers fall
  // back to the previous version, so a crash ANYWHERE leaves the old
  // snapshot intact and the replayed batch re-merges idempotently (the
  // gen dir name is the deterministic v<N+1>, so a retry overwrites the
  // orphan instead of leaking it). Untouched buckets keep pointing at
  // their old gen dirs — the same O(touched-bucket) I/O bound as the
  // rename sink — and the whole table version flips atomically (the
  // rename sink only promised PER-BUCKET atomicity; the manifest commit
  // is strictly stronger). Old gens stay readable for time travel until
  // [[vacuumManifestSnapshot]] reclaims them.
  // ---------------------------------------------------------------------

  private val ManifestEnd = "END"

  /** Parse a manifest if complete, else None. Returns (numBuckets,
    * bucket -> data-dir-relative-path). */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(Int, Map[Int, String])] = {
    import graft.connect.Hfs
    val lines = Hfs.readSmall(fs, p).split("\n", -1).toSeq
    if (lines.isEmpty || lines.takeWhile(_.nonEmpty).lastOption.forall(_ != ManifestEnd)) None
    else {
      val entries = lines.takeWhile(_ != ManifestEnd)
      val nb = entries.collectFirst {
        case l if l.startsWith("numBuckets\t") => l.split("\t")(1).toInt
      }
      nb.map { n =>
        n -> entries.collect {
          case l if l.nonEmpty && !l.startsWith("numBuckets\t") =>
            val Array(b, dir) = l.split("\t", 2)
            b.toInt -> dir
        }.toMap
      }
    }
  }

  /** Highest complete manifest under `targetDir/manifests`, with its
    * version; (-1, empty) for a fresh target. */
  private def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Long, Int, Map[Int, String]) = {
    val mdir = new org.apache.hadoop.fs.Path(root, "manifests")
    if (!fs.exists(mdir)) return (-1L, 0, Map.empty)
    val versions = fs.listStatus(mdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("m"))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong).toOption)
      .sorted(Ordering[Long].reverse)
    versions.iterator
      // Try: a manifest listed a moment ago may be deleted by a
      // concurrent vacuum before we open it — treat a vanished file
      // exactly like an incomplete one and fall through to the next
      // older version instead of failing the read path
      .map(v => v -> scala.util.Try(
        readManifest(fs, new org.apache.hadoop.fs.Path(mdir, s"m$v"))).toOption.flatten)
      .collectFirst { case (v, Some((nb, m))) => (v, nb, m) }
      .getOrElse((-1L, 0, Map.empty))
  }

  /** Streaming CDC upsert committed via manifests — drop-in for
    * [[upsertToParquetBucketed]] on object stores (and equally correct
    * on HDFS/local; it just never needs rename at all). */
  def upsertToParquetManifest(df: DataFrame, keyCol: String, versionCol: String,
      targetDir: String, numBuckets: Int): DataStreamWriter[Row] =
    toForeachBatch(df, "append")((batch, _) =>
      mergeIntoManifestSnapshot(batch, keyCol, versionCol, targetDir, numBuckets))

  /** The per-batch merge of [[upsertToParquetManifest]], callable
    * directly. Same merge semantics as the bucketed rename sink
    * (in-batch highest `versionCol` per key wins, last batch wins
    * across batches); only the commit mechanism differs.
    *
    * SINGLE WRITER ASSUMPTION: version allocation is read-then-write
    * (`nextVer = latest + 1`) with no lock — two concurrent committers
    * would both claim m<N+1> and the second PUT wins, silently
    * dropping the first's rows. Inside `foreachBatch` batches
    * serialize per query, which is every supported deployment; a
    * multi-driver setup needs an external lease (object stores offer
    * no rename-if-absent to build one from). Because the race cannot
    * be prevented here, it is DETECTED instead: after the commit PUT
    * the manifest is read back and must match what was written —
    * a conflicting writer's clobber (or interleaved later commit that
    * dropped our buckets) raises instead of losing data silently. */
  private[graft] def mergeIntoManifestSnapshot(batch: DataFrame, keyCol: String,
      versionCol: String, targetDir: String, numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, targetDir)
    val root = new Path(targetDir)
    val (ver, storedNb, current) = latestManifest(fs, root)
    if (ver >= 0) require(storedNb == numBuckets,
      s"manifest snapshot at $targetDir was written with numBuckets=$storedNb; " +
        s"got $numBuckets — changing the bucket count requires a full rewrite")
    val (touched, merged) = mergeTouchedBuckets(batch, keyCol, versionCol, numBuckets)(
      b => current.get(b).map(rel => new Path(root, rel).toString))
    // deterministic gen dir: a replayed batch overwrites its own orphan
    val nextVer = ver + 1
    val genRel = s"data/v$nextVer"
    merged.write.mode("overwrite").partitionBy("__bucket")
      .parquet(new Path(root, genRel).toString)
    // commit: write-once manifest, END last. Untouched buckets carry
    // their previous data dirs forward — their files never move.
    val entries = (current ++ touched.map(b => b -> s"$genRel/__bucket=$b")).toSeq
      .sortBy(_._1).map { case (b, d) => s"$b\t$d" }
    val body = (s"numBuckets\t$numBuckets" +: entries :+ ManifestEnd).mkString("\n")
    fs.mkdirs(new Path(root, "manifests"))
    // overwrite=true: a crash may have left a PARTIAL m<nextVer> (no
    // END, ignored by readers) that this retry must replace
    Hfs.writeSmall(fs, new Path(root, s"manifests/m$nextVer"), body, overwrite = true)
    verifyCommit(fs, root, nextVer, body)
  }

  /** Post-commit clobber detection (see the single-writer note on
    * [[mergeIntoManifestSnapshot]]): re-reads the just-committed
    * manifest and requires byte-identical content. A concurrent
    * committer that also claimed this version (last-PUT-wins) or a
    * vacuum that raced the commit shows up as a mismatch/missing file
    * here — turning silent last-writer-wins data loss into a loud
    * failure the caller can retry from the new latest snapshot. */
  private[graft] def verifyCommit(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, ver: Long, expectedBody: String): Unit = {
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val p = new Path(root, s"manifests/m$ver")
    val got = scala.util.Try(Hfs.readSmall(fs, p)).toOption
    require(got.contains(expectedBody),
      s"manifest commit m$ver at $root was clobbered by a concurrent writer " +
        s"(committed content does not match what this writer put) — the sink is " +
        s"single-writer per target; re-run the batch against the current snapshot")
  }

  /** Current state of a [[upsertToParquetManifest]] target: the union
    * of the latest complete manifest's bucket data dirs. */
  def readManifestSnapshot(spark: SparkSession, targetDir: String): DataFrame = {
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, targetDir)
    val root = new Path(targetDir)
    val (ver, _, current) = latestManifest(fs, root)
    require(ver >= 0, s"no committed manifest under $targetDir")
    spark.read.parquet(current.values.toSeq.distinct.sorted
      .map(rel => new Path(root, rel).toString): _*)
  }

  /** Reclaim generations no manifest in the kept window references:
    * keeps the latest `keep` complete manifests (time travel window)
    * and deletes every `data/v*` dir none of them cites, plus every
    * manifest file — complete OR partial — below the kept window.
    * Never touches the latest version.
    *
    * IN-FLIGHT COMMIT SAFETY: a writer creates its gen dir
    * `data/v<N+1>` BEFORE committing manifest m<N+1>, so a gen whose
    * version is above the newest complete manifest belongs to an
    * uncommitted (possibly in-progress) commit and is never deleted —
    * otherwise a vacuum racing the writer would delete the gen
    * mid-write and the writer would go on to commit a manifest
    * pointing at missing files. (Orphans from a writer that crashed
    * before committing are reclaimed by the writer's own retry, which
    * reuses the deterministic gen name; they are never reclaimed here.)
    * Partial manifests at or above the kept window are likewise left
    * for the writer's retry to overwrite. Returns the deleted
    * data-dir count. */
  def vacuumManifestSnapshot(spark: SparkSession, targetDir: String,
      keep: Int = 2): Int = {
    require(keep >= 1, s"keep must be >= 1: $keep")
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, targetDir)
    val root = new Path(targetDir)
    val mdir = new Path(root, "manifests")
    if (!fs.exists(mdir)) return 0
    val all = fs.listStatus(mdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("m"))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong).toOption)
      .sorted(Ordering[Long].reverse)
    val complete = all.filter(v => readManifest(fs, new Path(mdir, s"m$v")).isDefined)
    val latestComplete = complete.headOption.getOrElse(-1L)
    val kept = complete.take(keep).toSet
    val referenced = kept.toSeq
      .flatMap(v => readManifest(fs, new Path(mdir, s"m$v")).toSeq)
      .flatMap(_._2.values)
      // entries point at __bucket= subdirs; the reclaim unit is the gen
      .map(rel => rel.split("/").take(2).mkString("/")).toSet
    val dataDir = new Path(root, "data")
    var deleted = 0
    Hfs.listDirs(fs, dataDir).foreach { gen =>
      val genVer = scala.util.Try(gen.getName.drop(1).toLong).toOption
      // skip gens above the newest complete manifest: in-flight commit
      val inFlight = genVer.forall(_ > latestComplete)
      if (!inFlight && !referenced.contains(s"data/${gen.getName}")) {
        Hfs.deleteIfExists(fs, gen); deleted += 1
      }
    }
    // reclaim manifests below the kept window whether or not they parse
    // complete — a crash-orphaned partial below the window would
    // otherwise accumulate forever. keptFloor ≤ latestComplete, so a
    // partial ABOVE the newest complete manifest (an in-flight commit's
    // half-written PUT) is never touched; with no complete manifest at
    // all nothing is reclaimed.
    val keptFloor = if (kept.isEmpty) -1L else kept.min
    all.filter(v => !kept.contains(v) && v < keptFloor)
      .foreach(v => Hfs.deleteIfExists(fs, new Path(mdir, s"m$v")))
    deleted
  }

  /** Read the current state of a [[upsertToParquetBucketed]] target:
    * the union of every bucket's `current` snapshot. */
  def readBucketedSnapshot(spark: SparkSession, targetDir: String): DataFrame = {
    import graft.connect.Hfs
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, targetDir)
    val dirs = Hfs.listDirs(fs, new Path(targetDir))
      .filter(_.getName.startsWith("bucket="))
      .map(bd => new Path(bd, "current"))
      .filter(Hfs.isDir(fs, _)).map(_.toString)
    require(dirs.nonEmpty, s"no bucket snapshots under $targetDir")
    spark.read.parquet(dirs: _*)
  }
}
