package graft.connect

import graft.model.{ConnectionSpec, ExtractStep, LoadStep}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Source/sink registry (SURVEY.md §7 module 2). One generic JDBC impl
  * covers the reference's declared sqlserver/postgres/mysql/oracle
  * matrix (reference: core/engine.py:110-135 dispatch, only sqlserver
  * implemented); file formats cover its declared csv stubs.
  *
  * Scale: JDBC extracts accept partitionColumn/lowerBound/upperBound/
  * numPartitions options so reads parallelize across executors instead
  * of the reference's single-cursor full materialization
  * (core/extractors/sqlserver.py:53); JDBC loads batch via batchsize
  * instead of its row-per-round-trip loop (core/loaders/sqlserver.py:282-286).
  */
object Sources {
  val fileFormats: Set[String] = Set("parquet", "csv", "json", "orc")

  /** The one path rule for every load, extract and path option: an
    * absolute path or a URI is used as given; any other path lives
    * under the connection's `basePath` (or `baseDir`) when it has one. */
  def resolve(conn: ConnectionSpec, path: String): String =
    if (path.startsWith("/") || path.contains("://")) path
    else conn.options.get("basePath").orElse(conn.options.get("baseDir"))
      .fold(path)(b => s"$b/$path")

  def read(spark: SparkSession, conn: ConnectionSpec, step: ExtractStep): DataFrame =
    conn.format match {
      case f if fileFormats(f) =>
        val full = resolve(conn, step.path.orElse(step.table).getOrElse(
          throw new IllegalArgumentException(s"extract '${step.name}': path required")))
        // the base is this engine's path rule, not Spark's partition
        // base: an absolute path outside it must still read
        val merged = conn.options ++ step.options - "basePath" - "baseDir"
        if (merged.get("streaming").contains("true")) {
          // Streaming file extract: the landing-zone shape — each
          // scheduled run drains the files that arrived since the last
          // one (source offsets live in the LOAD step's checkpoint, so
          // a run is an incremental batch, not a rescan). File streams
          // need an explicit schema: pass DDL via option "schema", or
          // we infer once from the files already present.
          val opts = admissionDefaults(merged - "streaming" - "schema")
          val schema = merged.get("schema")
            .map(org.apache.spark.sql.types.StructType.fromDDL)
            .getOrElse {
              // the session caches file listings per path — a prior
              // run's listing may cite files since compacted/deleted
              spark.catalog.refreshByPath(full)
              read(spark, conn.copy(options = conn.options - "streaming"),
                step.copy(options = step.options - "streaming")).schema
            }
          val r = spark.readStream.options(opts).schema(schema).format(f)
          (if (f == "csv") r.option("header", "true") else r).load(full)
        } else {
          val r = spark.read.options(merged).format(f)
          (if (f == "csv") r.option("header", "true").option("inferSchema", "true") else r)
            .load(full)
        }
      case "jdbc" =>
        // ≅ A1: the reference requires a non-empty query
        // (core/extractors/sqlserver.py:49-50); we also allow dbtable.
        val r = spark.read.format("jdbc").options(conn.options ++ step.options)
        (step.query, step.table) match {
          case (Some(q), _) => r.option("query", q).load()
          case (None, Some(t)) => r.option("dbtable", t).load()
          case _ => throw new IllegalArgumentException(
            s"extract '${step.name}': jdbc needs query or table")
        }
      case other =>
        // Mongo etc. declared by the reference but jar-less here — error
        // clearly (SURVEY.md §2.A declared-but-empty connectors).
        throw new IllegalArgumentException(s"unsupported source format '$other'")
    }

  /** Default micro-batch admission bound for streaming file extracts.
    * Unbounded drains are the measured OOM path: state-stress runs
    * showed a 1 M-row micro-batch killing a 700 MB heap in plain batch
    * processing, before any state was involved — and a landing
    * directory that accumulated a weekend of files would hand
    * AvailableNow exactly that. So a drain is bounded BY DEFAULT:
    * unless the caller sets `maxFilesPerTrigger`/`maxBytesPerTrigger`
    * (their sizing wins, at connection or step scope) or explicitly
    * opts out with `admission=unbounded`, the extract gets
    * `maxFilesPerTrigger=1000` and AvailableNow drains the backlog as
    * a SEQUENCE of bounded batches with the same exactly-once offsets
    * — slower only in batch count, never in data, and it cannot OOM on
    * backlog size. Any other `admission` value is rejected loudly.
    */
  private[connect] val defaultMaxFilesPerTrigger = 1000

  private[connect] def admissionDefaults(opts: Map[String, String]): Map[String, String] = {
    val optOut = opts.get("admission") match {
      case Some("unbounded") => true
      case Some(other) => throw new IllegalArgumentException(
        s"admission must be 'unbounded' (bounded is the default), got '$other'")
      case None => false
    }
    val cleaned = opts - "admission"
    if (optOut || opts.contains("maxFilesPerTrigger") || opts.contains("maxBytesPerTrigger"))
      cleaned
    else cleaned + ("maxFilesPerTrigger" -> defaultMaxFilesPerTrigger.toString)
  }

  private def saveMode(mode: String): SaveMode = mode match {
    case "append" => SaveMode.Append // ≅ A7
    case "replace" | "overwrite" => SaveMode.Overwrite // ≅ A8
    case "errorIfExists" => SaveMode.ErrorIfExists
    case other => throw new IllegalArgumentException(s"unknown load mode '$other'")
  }

  def write(df: DataFrame, conn: ConnectionSpec, step: LoadStep): Unit =
    conn.format match {
      case f if fileFormats(f) =>
        val full = resolve(conn, step.path.orElse(step.table).getOrElse(
          throw new IllegalArgumentException(s"load '${step.name}': path required")))
        // "annIndex": maintain an ANN serving index as a declarative
        // load step — the in-flight frame (vec_id, embedding) is
        // encoded with the frozen artifacts and written/appended as
        // the index layout, so a streaming pipeline keeps a search
        // index fresh the same way it keeps shards fresh. `prefix`
        // writes the byte-compressed prefix index (ops.Similarity);
        // with a `pcaModel` path the index is built in the ROTATED
        // space (the model is frozen — serving drift can't move the
        // basis). Encoding is a pure per-row map, so mode `append`
        // extends the layout with work ∝ increment and append ≡
        // rebuild (PrefixIndexSpec); `delete` is rejected loudly —
        // removing vectors means rebuilding from the source of truth.
        if (step.options.contains("annIndex")) {
          require(f == "parquet",
            s"load '${step.name}': annIndex layout requires parquet, got '$f'")
          val s = df.sparkSession
          def exists = Hfs.fs(s, full).exists(new org.apache.hadoop.fs.Path(full))
          def refuse(): Nothing = throw new IllegalStateException(
            s"load '${step.name}': ann index already exists at $full (mode=errorIfExists)")
          step.options("annIndex") match {
            case "prefix" =>
              val dims = step.options.get("dims").map(_.toInt)
              val idx = step.options.get("pcaModel") match {
                case Some(mp) =>
                  val m = graft.ops.Similarity.loadPcaModel(s, mp)
                  graft.ops.Similarity.buildRotatedPrefixIndex(
                    s, df, m, dims.getOrElse(m.k))
                case None => graft.ops.Similarity.buildPrefixIndex(
                  s, df, dims.getOrElse(graft.ops.Similarity.prefixDims))
              }
              saveMode(step.mode) match {
                case SaveMode.Append =>
                  graft.ops.Similarity.appendPrefixIndex(idx, full)
                case SaveMode.ErrorIfExists if exists => refuse()
                case _ => graft.ops.Similarity.savePrefixIndex(idx, full)
              }
            // the flagship list-partitioned layout: encode against a
            // FROZEN IvfPqModel (training is the offline step — a
            // maintenance tick must never move the codebooks, or
            // existing codes stop meaning anything) and write/append
            // the centroid= partitioned directories, so probes keep
            // their static list pruning. Encoding is a pure per-row
            // map: append ≡ rebuild, same as the prefix kinds.
            case "ivfpq" =>
              val mp = step.options.getOrElse("ivfpqModel",
                throw new IllegalArgumentException(
                  s"load '${step.name}': annIndex=ivfpq requires option " +
                    "'ivfpqModel' (frozen model path — train offline, " +
                    "saveIvfPqModel)"))
              val m = graft.ops.Similarity.loadIvfPqModel(s, mp)
              val idx = graft.ops.Similarity.indexIvfPq(s, df, m)
              // New layouts default to GROUPED (bounded directory
              // fan-out; see saveIvfPqIndexGrouped) at an optional
              // "listsPerDir" width; "indexLayout=flat" requests the
              // legacy one-directory-per-list layout. Appends
              // self-route off the layout's own marker and a
              // conflicting width/layout fails the step loudly.
              val lpd = step.options.get("listsPerDir").map(_.toInt)
              val flat = step.options.get("indexLayout") match {
                case Some("flat") => true
                case Some("grouped") | None => false
                case Some(other) => throw new IllegalArgumentException(
                  s"load '${step.name}': unknown indexLayout '$other' " +
                    "(supported: grouped, flat)")
              }
              saveMode(step.mode) match {
                case SaveMode.Append =>
                  // default width from the MODEL's list count (by-name
                  // — counted only if this append creates the layout):
                  // a small first increment's max centroid under-counts
                  graft.ops.Similarity.maintainIvfPqIndex(idx, full, lpd, flat,
                    nLists = Some(m.coarse.count()))
                case SaveMode.ErrorIfExists if exists => refuse()
                case _ if flat =>
                  require(lpd.isEmpty,
                    s"load '${step.name}': indexLayout=flat contradicts " +
                      s"listsPerDir=${lpd.getOrElse(0)}")
                  graft.ops.Similarity.saveIvfPqIndex(idx, full)
                case _ => lpd match {
                  case Some(g) =>
                    graft.ops.Similarity.saveIvfPqIndexGrouped(idx, full, g)
                  case None =>
                    graft.ops.Similarity.saveIvfPqIndexGroupedAuto(idx, full,
                      Some(m.coarse.count()))
                }
              }
            case other => throw new IllegalArgumentException(
              s"load '${step.name}': unknown annIndex kind '$other' " +
                "(supported: prefix, ivfpq)")
          }
        } else
        // "shardBy" + "shards": the training-shard layout as a
        // declarative load step — deterministic md5 placement into N
        // equal-mass shards with a _shards.json manifest
        // (ops.Sharding). `mode: append` extends an existing layout
        // additively (work ∝ increment); any other mode rebuilds it.
        // Only meaningful for parquet (the trainer-facing format).
        (step.options.get("shardBy"), step.options.get("shards")) match {
          case (Some(key), Some(nStr)) =>
            require(f == "parquet",
              s"load '${step.name}': shardBy layout requires parquet, got '$f'")
            val n = nStr.toInt
            // mode "delete": declarative right-to-be-forgotten — the
            // in-flight frame IS the deletion request (its shardBy
            // column holds the ids to forget), routed to only the
            // affected shards with rename-swap atomicity and a
            // manifest recount (ops.Sharding.deleteFromShards). Runs
            // under the same A11 history contract as any load step: a
            // malformed request (null ids) throws, the pipeline
            // records running→error and reraises.
            // mode semantics must match the plain sink's exactly: an
            // unknown mode throws (saveMode), errorIfExists refuses an
            // existing layout instead of silently overwriting it
            // "splitBy": the leakage-safe split made PHYSICAL —
            // split=<v>/shard=<k> dirs, each split a standalone
            // layout (ops.Sharding.writeSplitShards). Rebuild-only:
            // appends/deletes address one split's directory (itself a
            // plain shard layout) in a separate step.
            val splitBy = step.options.get("splitBy")
            // "orderCol": intra-shard sort column — a training layout
            // usually wants the deterministic shuffled order
            // (Sharding.trainingOrderKey) or the two-phase curriculum
            // key (Sharding.curriculumOrderKey / curriculum_order
            // transform) instead of the placement-key default
            val orderCol = step.options.get("orderCol")
            if (step.mode == "delete") {
              require(splitBy.isEmpty,
                s"load '${step.name}': delete mode addresses one split's directory, not the split root")
              graft.ops.Sharding.deleteFromShards(df, key, full, n); ()
            } else saveMode(step.mode) match {
              case SaveMode.Append =>
                require(splitBy.isEmpty,
                  s"load '${step.name}': append addresses one split's directory, not the split root")
                graft.ops.Sharding.appendToShards(df, key, full, n, orderCol)
              case SaveMode.ErrorIfExists
                  if Hfs.fs(df.sparkSession, full)
                    .exists(new org.apache.hadoop.fs.Path(full)) =>
                throw new IllegalStateException(
                  s"load '${step.name}': shard layout already exists at $full (mode=errorIfExists)")
              case _ => splitBy match {
                case Some(sc) =>
                  graft.ops.Sharding.writeSplitShards(df, sc, key, full, n, orderCol)
                case None =>
                  graft.ops.Sharding.writeTrainingShards(df, key, full, n, orderCol)
              }
            }
          case (Some(_), None) | (None, Some(_)) =>
            throw new IllegalArgumentException(
              s"load '${step.name}': shardBy and shards must be set together")
          case _ =>
            // "partitionBy": comma-separated columns → hive-style
            // directory layout (…/col=value/…). The scale feature of the
            // loader: a reader filtering on a layout column prunes whole
            // directories (PartitionFilters) instead of scanning and
            // filtering rows.
            val partCols = step.options.get("partitionBy").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            val w0 = df.write.mode(saveMode(step.mode))
              .options(step.options - "partitionBy").format(f)
            val w = if (partCols.nonEmpty) w0.partitionBy(partCols: _*) else w0
            (if (f == "csv") w.option("header", "true") else w).save(full)
        }
      case "jdbc" =>
        val table = step.table.getOrElse(throw new IllegalArgumentException(
          s"load '${step.name}': jdbc needs table"))
        val w = df.write.format("jdbc")
          .options(conn.options ++ step.options)
          .option("dbtable", table)
          .mode(saveMode(step.mode))
        // replace keeps DDL like the reference's DELETE-then-insert (A8)
        val w2 = if (step.mode == "replace") w.option("truncate", "true") else w
        w2.save()
      case other =>
        throw new IllegalArgumentException(s"unsupported sink format '$other'")
    }

  /** Small-files compaction — rewrite a parquet directory into
    * ceil(rows / targetFileRows) files and swap it in place. The
    * operational complement of the loader's `maxRecordsPerFile`
    * passthrough: streaming/incremental appends accumulate small
    * files, every 100 TB deployment schedules a rewrite like this, and
    * the scheduler (A13) can run it as a named pipeline transform. The
    * rewrite is one `repartition(n)` round-robin exchange — no skew,
    * parallel write — and the directory flip is rename-based so
    * readers never observe a half-written directory (same swap
    * discipline as the streaming upsert sink). Returns
    * (rows, filesBefore, filesAfter) for callers/specs to assert on.
    */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileRows: Long): (Long, Long, Long) = {
    require(targetFileRows > 0, s"targetFileRows must be positive: $targetFileRows")
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, dir)
    val cur = new Path(dir)
    val before = Hfs.countParquetFiles(fs, cur)
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val parts = math.max(1L, (rows + targetFileRows - 1) / targetFileRows).toInt
    val tmp = new Path(dir + ".compact-tmp")
    df.repartition(parts).write.mode("overwrite").parquet(tmp.toString)
    compactSwap(fs, dir)
    (rows, before, Hfs.countParquetFiles(fs, cur))
  }

  /** Rename-swap `<dir>.compact-tmp` into `dir` (shared by both
    * compaction rewrites): readers never observe a half-written
    * directory, and a failed second rename rolls the original back.
    */
  private def compactSwap(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val cur = new Path(dir)
    val tmp = new Path(dir + ".compact-tmp")
    val old = new Path(dir + ".compact-old")
    Hfs.deleteIfExists(fs, old)
    Hfs.renameChecked(fs, cur, old, s"compact swap (data->old) for $dir")
    try Hfs.renameChecked(fs, tmp, cur, s"compact swap (tmp->data) for $dir")
    catch { case e: Throwable =>
      // roll back so the dataset directory never stays missing
      if (!fs.exists(cur)) { val _ = fs.rename(old, cur) }
      throw e
    }
    Hfs.deleteIfExists(fs, old)
  }

  /** Partition-preserving sibling of [[compactParquet]] for
    * hive-partitioned layouts — the IVF-PQ serving index partitioned
    * by `centroid`, shard layouts partitioned by bucket: incremental /
    * streaming appends accumulate small files INSIDE each partition
    * directory, and the flat rewrite above would collapse the
    * directories and destroy exactly the partition pruning the layout
    * exists for. This rewrite clusters rows on the partition column
    * (hash — every value's rows meet in one task, so each directory
    * collapses to one file; values far smaller than `targetFileRows`
    * share tasks), writes WITH `partitionBy`, and swaps with the same
    * rename discipline. A single value larger than one task can
    * handle is the layout's own skew problem (its list is too hot) —
    * callers split it upstream, not here. Returns
    * (rows, filesBefore, filesAfter).
    */
  def compactPartitionedParquet(spark: SparkSession, dir: String,
      partitionCol: String, targetFileRows: Long): (Long, Long, Long) = {
    require(targetFileRows > 0, s"targetFileRows must be positive: $targetFileRows")
    import org.apache.hadoop.fs.Path
    val fs = Hfs.fs(spark, dir)
    val cur = new Path(dir)
    val before = Hfs.countParquetFilesRecursive(fs, cur)
    val df = spark.read.parquet(dir)
    require(df.columns.contains(partitionCol),
      s"partition column '$partitionCol' not present in $dir " +
        s"(columns: ${df.columns.mkString(", ")})")
    val rows = df.count()
    val parts = math.max(1L, (rows + targetFileRows - 1) / targetFileRows).toInt
    // a shard layout carries a `_shards.json` manifest the rewrite's
    // tmp directory never has — remember it now, rebuild after the
    // swap, or append/delete silently fall back to the full-count path
    val hadShardManifest = fs.exists(new Path(dir, "_shards.json"))
    df.repartition(parts, org.apache.spark.sql.functions.col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(dir + ".compact-tmp")
    compactSwap(fs, dir)
    if (hadShardManifest) graft.ops.Sharding.rebuildManifest(spark, dir)
    (rows, before, Hfs.countParquetFilesRecursive(fs, cur))
  }

  /** Z-order (Morton-curve) clustered parquet write — the layout that
    * makes MULTI-column min/max pruning work: linear sort clusters one
    * dimension perfectly and scatters every other, so a selective
    * filter on the second column still touches every file; interleaving
    * the bits of both columns' bucket ranks gives every file a small
    * min/max box in BOTH dimensions. Public table formats (Delta
    * OPTIMIZE ZORDER, Iceberg sort orders) do exactly this; here it is
    * a plain parquet writer so the engine's own scans benefit.
    *
    * Mechanics: each column min/max-normalizes to a 2^bits bucket rank
    * via one 1-row broadcast of the column bounds (map-side after it —
    * no quantile pass, no single-partition anything; equi-width is the
    * deliberate choice: rank precision only shapes file boxes, never
    * results), the two ranks bit-interleave into the Morton code, and
    * `repartitionByRange(numFiles, z)` + in-partition sort writes files
    * whose z-ranges are disjoint. Returns the written file count.
    * Scale: the bounds agg and the range write are the only jobs — both
    * one pass; the curve extends to >2 columns by interleaving more
    * ranks (2 pinned here to keep the spec's pruning geometry exact).
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      path: String, numFiles: Int, bits: Int = 8): Long = {
    import org.apache.spark.sql.functions._
    require(numFiles > 0 && bits > 0 && bits <= 16)
    // internal columns are __zw_-prefixed so a caller column named
    // "amin"/"ra" can never collide with the writer's plumbing
    val bounds = df.agg(
      min(col(colA)).cast("double").as("__zw_amin"),
      max(col(colA)).cast("double").as("__zw_amax"),
      min(col(colB)).cast("double").as("__zw_bmin"),
      max(col(colB)).cast("double").as("__zw_bmax"))
    val maxRank = (1L << bits) - 1
    // ranks are computed in double space: (c - lo) * maxRank in int64
    // overflows for wide-domain columns (xxhash64 values, full-range
    // ids) — ANSI mode would throw mid-write. Rank precision only
    // shapes file boxes (see doc above), so double rounding is free.
    def rank(c: String, lo: String, hi: String): Column =
      expr(s"cast(least(cast($maxRank as double), greatest(0.0d, " +
        s"floor((cast(`$c` as double) - $lo) / greatest(1.0d, $hi - $lo) * $maxRank))) as long)")
    val z = (0 until bits).map { i =>
      (shiftleft(shiftrightunsigned(col("__zw_ra"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftrightunsigned(col("__zw_rb"), i).bitwiseAND(1), 2 * i + 1)): Column
    }.reduce(_ + _)
    val zdf = df.crossJoin(broadcast(bounds))
      .withColumn("__zw_ra", rank(colA, "__zw_amin", "__zw_amax"))
      .withColumn("__zw_rb", rank(colB, "__zw_bmin", "__zw_bmax"))
      .withColumn("__z", z)
      .drop("__zw_amin", "__zw_amax", "__zw_bmin", "__zw_bmax", "__zw_ra", "__zw_rb")
    zdf.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    Hfs.countParquetFiles(Hfs.fs(df.sparkSession, path),
      new org.apache.hadoop.fs.Path(path))
  }
}
