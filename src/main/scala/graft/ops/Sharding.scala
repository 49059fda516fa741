package graft.ops

import graft.{CatalogEntry, Tables}
import graft.CacheScope.Scoped
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic training-shard layout — the last step of a data
  * pipeline before a trainer consumes the corpus: a global,
  * seed-stable shuffle of documents into N equal-mass shards, so that
  * (a) every data-parallel reader streams one shard with no
  * coordination, (b) re-running the pipeline bit-reproduces the same
  * shard membership and intra-shard order, and (c) no shard is skewed
  * by source or length clustering (hash placement is oblivious to
  * both).
  *
  * Placement is `md5(seed:doc_id)` reduced to a bucket — the same
  * engine-portable hex-prefix bucketing the split/hash gates use, so
  * the assignment itself is differentially checkable against DuckDB.
  * The writer materializes the plan with ONE hash-partitioned
  * exchange (`repartition(N, shard)`) and an intra-partition sort —
  * no global sort, no driver involvement; at 100 TB this is the
  * minimum movement any sharding can do. A manifest records per-shard
  * row counts for the trainer's sanity check.
  */
object Sharding {

  /** Shard count for the gate row (a deployment passes its own). */
  private[graft] val numShards = 16

  /** Stable shard id in [0, n) from the md5 hex prefix of the doc id —
    * two hex chars = 256 uniform cells folded onto n shards (keep n a
    * divisor of 256 for exact uniformity of the fold; 16 here).
    */
  private[graft] def shardId(docId: org.apache.spark.sql.Column, n: Int) =
    pmod(conv(substring(md5(concat(lit("shard:"), docId.cast("string"))), 1, 2),
      16, 10).cast("long"), lit(n.toLong))

  /** Driver-side twin of [[shardId]] for routing single ids (deletion
    * requests, debugging) — InvariantSpec pins the two identical
    * across the id space.
    */
  private[graft] def shardIdOf(id: Long, n: Int): Long =
    shardIdOfStr(id.toString, n)

  /** Catalog gate: the shard PLAN — per-shard document count, token
    * mass, and id range. Differential against DuckDB recomputing the
    * same md5 placement; near-equal `n_docs`/`bytes` across shards IS
    * the balance property the writer relies on.
    */
  def shardPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"n_chars", shardId($"doc_id", numShards).as("shard"))
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("bytes"),
        min($"doc_id").as("min_doc"),
        max($"doc_id").as("max_doc"))
      .orderBy($"shard")
  }

  /** Catalog gate for the SPLIT-separated layout's placement
    * arithmetic ([[writeSplitShards]] — the writer itself is
    * spec-checked): the hash split (`q_feat_split`'s md5-prefix cut on
    * the doc id) crossed with md5 shard placement, rolled up per
    * (split, shard). The per-cell near-uniformity visible in the gate
    * output IS the property that makes each split a balanced
    * standalone layout; both hashes are differentially recomputed by
    * DuckDB.
    */
  def splitShardPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = substring(md5($"doc_id".cast("string")), 1, 2)
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"n_chars",
        FeatureOps.splitFor(bucket).as("split"),
        shardId($"doc_id", numShards).as("shard"))
      .groupBy($"split", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bytes"))
      .orderBy($"split", $"shard")
  }

  private val splitShardPlanSql = {
    val h = "substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2)"
    val b = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    ${FeatureOps.splitCaseSql(b)} AS split,
       |    (${nib(h, 1)} * 16 + ${nib(h, 2)}) % $numShards AS shard
       |  FROM documents)
       |SELECT split, shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS bytes
       |FROM d GROUP BY split, shard ORDER BY split, shard""".stripMargin
  }

  private def nib(hexColSql: String, i: Int) =
    s"(strpos('0123456789abcdef', $hexColSql[$i:$i]) - 1)"

  private val shardPlanSql = {
    val h = "substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2)"
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    (${nib(h, 1)} * 16 + ${nib(h, 2)}) % $numShards AS shard
       |  FROM documents)
       |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS bytes,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM d GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Per-shard row counts read back from WRITTEN files — the manifest
    * must describe the files, not the input plan (an input-side count
    * both re-executes the upstream pipeline a second time and can
    * drift from the files if the input is nondeterministic). Grouping
    * on the partition column alone touches no data pages: counts come
    * from parquet row-group metadata + directory names.
    */
  private def writtenCounts(
      s: SparkSession, outDir: String, files: Seq[String]): Map[Long, Long] = {
    import s.implicits._
    val df =
      if (files.isEmpty) s.read.parquet(outDir)
      else s.read.option("basePath", outDir).parquet(files: _*)
    df.groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Recursive parquet part-file listing of a shard layout. */
  private def listPartFiles(
      s: SparkSession, outDir: String): Set[String] = {
    val fs = graft.connect.Hfs.fs(s, outDir)
    val p = new org.apache.hadoop.fs.Path(outDir)
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString
      }
      b.result()
    }
  }

  /** Serialize + write `_shards.json`, and return the manifest as a
    * DataFrame (shard, n_rows) for inspection.
    */
  private def writeManifest(
      s: SparkSession, outDir: String, counts: Map[Long, Long]): DataFrame = {
    import s.implicits._
    val rows = counts.toSeq.sortBy(_._1)
    val manifest = rows
      .map { case (sh, c) => s"""{"shard": $sh, "n_rows": $c}""" }
      .mkString("[\n", ",\n", "\n]")
    val fs = graft.connect.Hfs.fs(s, outDir)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(outDir, "_shards.json"), manifest,
      overwrite = true)
    // (shard int, n_rows long) — same shape a partition-discovery read
    // of the layout would give, so callers can compare either way.
    rows.map { case (sh, c) => (sh.toInt, c) }.toDF("shard", "n_rows")
  }

  /** Re-derive and rewrite `_shards.json` from the WRITTEN layout —
    * the hook a layout-REWRITING maintenance pass (compaction) calls
    * after its rename-swap: the rewrite's tmp directory never carries
    * the manifest, so without this the swap silently drops it and
    * later [[appendToShards]]/[[deleteFromShards]] fall back to the
    * full-count path. Same row-group-metadata-only counting as every
    * other manifest write.
    */
  private[graft] def rebuildManifest(s: SparkSession, outDir: String): Unit = {
    writeManifest(s, outDir, writtenCounts(s, outDir, Nil)); ()
  }

  /** Parse a previously written `_shards.json` back to counts. The
    * format is our own (flat objects, two integer fields), so a line
    * regex is exact — no JSON library needed.
    */
  private def readManifest(
      s: SparkSession, outDir: String): Option[Map[Long, Long]] = {
    val fs = graft.connect.Hfs.fs(s, outDir)
    val p = new org.apache.hadoop.fs.Path(outDir, "_shards.json")
    if (!fs.exists(p)) None
    else {
      val text = graft.connect.Hfs.readSmall(fs, p)
      val entry = """\{\s*"shard":\s*(\d+)\s*,\s*"n_rows":\s*(\d+)\s*\}""".r
      Some(entry.findAllMatchIn(text)
        .map(m => m.group(1).toLong -> m.group(2).toLong).toMap)
    }
  }

  /** Materialize the shard layout: one exchange hash-partitioned on the
    * shard id, documents sorted by `doc_id` inside each shard (stable
    * replay order for the trainer), hive-style `shard=K/` output dirs,
    * and a `_shards.json` manifest with per-shard row counts. Returns
    * the manifest as a DataFrame for inspection.
    *
    * The intra-partition sort leads with the PARTITION column: the
    * dynamic-partition file writer requires its input ordered by the
    * partition column, and if that requirement is not already met Spark
    * inserts its own Sort(shard) — at which point the optimizer drops
    * any child sort as redundant and intra-shard `doc_id` order is
    * lost. Sorting `(shard, doc_id)` satisfies the writer's requirement
    * up front, so no sort is injected and the `doc_id` order survives
    * into every part-file (asserted per-file by ShardSpec).
    */
  def writeTrainingShards(
      df: DataFrame, docId: String, outDir: String, n: Int): DataFrame =
    writeTrainingShards(df, docId, outDir, n, orderCol = None)

  /** [[writeTrainingShards]] with an explicit intra-shard order
    * column. The default (None) sorts by the placement key — right
    * for lookup-shaped consumers (deletion rewrites keep their
    * order). A TRAINING consumer reading files sequentially usually
    * wants a deterministic SHUFFLED order instead (see
    * [[trainingOrderKey]]): under the key sort, an epoch mix's
    * collocated copies of one document sit byte-adjacent — repetition
    * back-to-back is the worst place for it.
    */
  def writeTrainingShards(
      df: DataFrame, docId: String, outDir: String, n: Int,
      orderCol: Option[String]): DataFrame = {
    val s = df.sparkSession
    val ord = orderCol.map(col).getOrElse(col(docId))
    val planned = df
      .withColumn("shard", shardId(col(docId), n))
      .repartition(n, col("shard"))
      .sortWithinPartitions(col("shard"), ord)
    planned.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    // manifest from the WRITTEN layout (partition-column-only count:
    // row-group metadata, no data pages) — never a second execution of
    // the input plan
    writeManifest(s, outDir, writtenCounts(s, outDir, Nil))
  }

  /** Deterministic shuffled training order: md5("order:" + key) —
    * the same engine-portable hash family as placement, but SALTED
    * APART from it, so the within-shard order is statistically
    * independent of the shard assignment (sorting by the placement
    * hash itself would be constant within a shard's md5 cell). A pure
    * function of the row: bit-reproducible across runs, and appended
    * files get their own internally-shuffled order without touching
    * existing ones.
    */
  def trainingOrderKey(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(concat(lit("order:"), key.cast("string")))

  /** Anneal fraction for the curriculum gate row (a deployment passes
    * its own): the top 100‰ by quality score trains LAST. */
  private[graft] val curriculumAnnealPermille = 100L

  /** Two-phase curriculum order key: phase-0 rows sort before phase-1
    * rows, each phase internally [[trainingOrderKey]]-shuffled — the
    * public "annealing" recipe (train on the broad mix, END on the
    * highest-quality slice) expressed as a SORT KEY, so it costs the
    * writer nothing beyond the within-task sort it already does: no
    * second exchange, no phase-split job, and appends keep the
    * property per-file. Phases are lpad-2 ("00" < "01" < … "99"), so
    * up to 100 curriculum stages order lexicographically.
    */
  def curriculumOrderKey(
      key: org.apache.spark.sql.Column,
      phase: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val p = lpad(phase.cast("string"), 2, "0")
    concat(p, lit(":"), trainingOrderKey(key))
  }

  /** Attach `phase` (0 = main, 1 = anneal) and `curriculum_key` to a
    * scored frame: the anneal phase is the ties-inclusive top
    * `annealPermille`‰ by `scoreCol` — the SAME distribution-relative
    * threshold the selection family uses
    * ([[TextAnalysis.scoreQuantileThresholdOn]]: one bounded-grid
    * histogram rollup, a 1-row broadcast, no sort of the corpus).
    * Feed the result to [[writeTrainingShards]] with
    * `orderCol = Some("curriculum_key")`: every shard's sequential
    * read then streams the broad mix first and the top-quality slice
    * last, both phases internally shuffled. Deployments that don't
    * want the helper columns in the layout drop them after the write
    * or project them out downstream — they are plain columns, not
    * writer state.
    */
  def withCurriculumOrder(
      df: DataFrame, docId: String, scoreCol: String,
      annealPermille: Long): DataFrame = {
    val th = TextAnalysis.scoreQuantileThresholdOn(df, scoreCol, annealPermille)
    df.crossJoin(broadcast(th))
      .withColumn("phase",
        when(col(scoreCol) >= col("q_thresh"), 1L).otherwise(0L))
      .drop("q_thresh")
      .withColumn("curriculum_key", curriculumOrderKey(col(docId), col("phase")))
  }

  /** k+1-phase generalization of [[withCurriculumOrder]] (the 2-phase
    * form stays for the common anneal-only recipe): `cutsPermille` is
    * a strictly DECREASING list of ties-inclusive top-p‰ cuts, and a
    * row's phase is the number of cuts it clears — e.g. cuts (400,
    * 100) give warmup (phase 0: below the top 400‰), main (phase 1:
    * top 400‰ but not top 100‰), anneal (phase 2: top 100‰, trains
    * LAST). All thresholds come from ONE bounded-grid histogram
    * rollup ([[TextAnalysis.scoreQuantileThresholdsOn]]) broadcast as
    * a single 1-row cross join, so a 10-phase curriculum costs the
    * corpus exactly what the 2-phase one does: two codegen map passes
    * and zero data-sized shuffles. Decreasing cuts make the phase
    * CASE monotone (clearing a smaller-p cut implies clearing every
    * larger-p one), so `phase` is a total function of the score with
    * no gaps; [[curriculumOrderKey]]'s lpad-2 prefix orders up to 100
    * phases lexicographically in the same writer sort.
    */
  def withCurriculumPhases(
      df: DataFrame, docId: String, scoreCol: String,
      cutsPermille: Seq[Long]): DataFrame = {
    require(cutsPermille.nonEmpty, "need at least one cut")
    require(cutsPermille.zip(cutsPermille.tail).forall { case (a, b) => a > b },
      s"cutsPermille must be strictly decreasing (outermost phase first): " +
        cutsPermille.mkString(", "))
    require(cutsPermille.size <= 99,
      s"curriculumOrderKey's lpad-2 prefix caps phases at 100: ${cutsPermille.size + 1}")
    val th = TextAnalysis.scoreQuantileThresholdsOn(df, scoreCol, cutsPermille)
    val phase = cutsPermille.indices
      .map(i => when(col(scoreCol) >= col(s"q_thresh_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    df.crossJoin(broadcast(th))
      .withColumn("phase", phase)
      .drop(cutsPermille.indices.map(i => s"q_thresh_$i"): _*)
      .withColumn("curriculum_key", curriculumOrderKey(col(docId), col("phase")))
  }

  /** Cuts for the 3-phase curriculum gate row: warmup / main (top
    * 400‰) / anneal (top 100‰, trains last). */
  private[graft] val curriculum3Cuts = Seq(400L, 100L)

  /** Split-separated training layout — the PHYSICAL form of a
    * leakage-safe split (`q_feat_split` / `q_feat_group_split` /
    * `q_dedup_cluster_split` produce the column; this writes it):
    * `split=<v>/shard=<k>` directories, so a trainer reads the train
    * shards and an eval harness reads val/test with partition pruning
    * — never a row of the other split — while each split keeps the
    * deterministic n-shard balance and intra-file doc order. Costs the
    * SAME single exchange as [[writeTrainingShards]]: the split is a
    * within-task sort level and a writer partition column, not a
    * second shuffle (each shard task emits one file per split it
    * carries, ≤ n·|splits| files total). Each split directory gets its
    * own `_shards.json` from the written files, so every split IS a
    * valid standalone shard layout (readable, appendable, deletable by
    * the existing tools).
    */
  def writeSplitShards(
      df: DataFrame, splitCol: String, docId: String,
      outDir: String, n: Int): DataFrame =
    writeSplitShards(df, splitCol, docId, outDir, n, orderCol = None)

  /** [[writeSplitShards]] with an explicit intra-shard order column
    * (e.g. a [[curriculumOrderKey]] — an annealing-ordered train split
    * is the natural composition). Same single exchange. */
  def writeSplitShards(
      df: DataFrame, splitCol: String, docId: String,
      outDir: String, n: Int, orderCol: Option[String]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ord = orderCol.map(col).getOrElse(col(docId))
    df.withColumn("shard", shardId(col(docId), n))
      .repartition(n, col("shard"))
      .sortWithinPartitions(col(splitCol), col("shard"), ord)
      .write.mode("overwrite").partitionBy(splitCol, "shard").parquet(outDir)
    val fs = graft.connect.Hfs.fs(s, outDir)
    val splitDirs = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(s"$splitCol="))
      .sortBy(_.getName)
    require(splitDirs.nonEmpty,
      s"writeSplitShards: no $splitCol= directories written at $outDir")
    splitDirs.map { p =>
      val v = p.getName.stripPrefix(s"$splitCol=")
      writeManifest(s, p.toString, writtenCounts(s, p.toString, Nil))
        .select(lit(v).as(splitCol), $"shard", $"n_rows")
    }.reduce(_.unionByName(_))
  }

  /** Incremental append: hash placement is a pure function of the doc
    * id, so new documents land in their shard WITHOUT touching any
    * existing file — the property that lets a daily ingest extend a
    * 100 TB shard layout with work proportional to the increment, not
    * the corpus. Existing part-files are never rewritten (parquet
    * append adds files), and the manifest is updated by ADDING the
    * increment's per-shard counts to the prior `_shards.json` —
    * placement is deterministic, so counts are additive and the corpus
    * is never rescanned. (If the prior manifest is missing we fall back
    * to one full count, loudly assuming a legacy layout.) `orderCol`
    * sets the increment's intra-shard order, as in
    * [[writeTrainingShards]]; existing files keep theirs.
    */
  def appendToShards(
      df: DataFrame, docId: String, outDir: String, n: Int,
      orderCol: Option[String] = None): DataFrame = {
    val s = df.sparkSession
    val ord = orderCol.map(col).getOrElse(col(docId))
    // snapshot the file listing so the increment's counts come from
    // exactly the files THIS append wrote — no second execution of the
    // input plan, no drift if the input is nondeterministic, and work
    // proportional to the increment's files
    val before = listPartFiles(s, outDir)
    df.withColumn("shard", shardId(col(docId), n))
      .repartition(n, col("shard"))
      .sortWithinPartitions(col("shard"), ord)
      .write.mode("append").partitionBy("shard").parquet(outDir)
    val newFiles = (listPartFiles(s, outDir) -- before).toSeq.sorted
    val merged = readManifest(s, outDir) match {
      case Some(prior) =>
        // an empty increment writes no files — counts unchanged
        // (writtenCounts(…, Nil) would mean "the whole layout")
        val incr =
          if (newFiles.isEmpty) Map.empty[Long, Long]
          else writtenCounts(s, outDir, newFiles)
        (prior.keySet ++ incr.keySet).map { k =>
          k -> (prior.getOrElse(k, 0L) + incr.getOrElse(k, 0L))
        }.toMap
      case None =>
        // legacy layout without a manifest: one full (metadata-only)
        // recount, loudly assumed
        writtenCounts(s, outDir, Nil)
    }
    writeManifest(s, outDir, merged)
  }

  /** Targeted deletion from a shard layout — the right-to-be-forgotten
    * operation at corpus scale: because placement is a pure function
    * of the doc id, a deletion request maps to a KNOWN set of shards,
    * and only those shards' files are read and rewritten — work is
    * proportional to the affected shards, never the corpus. Each
    * affected shard pays ONE data pass (the filtered rewrite into a
    * temp dir; hit detection is the column-less before/after row
    * count — no column decodes) and is swapped in via rename (the
    * compactParquet discipline — a crash mid-swap leaves the data
    * recoverable in the `.delete-old` dir; a concurrent reader racing
    * the two renames can momentarily miss the shard, the same window
    * compactParquet has — deployments with concurrent readers should
    * front the layout with the manifest-committed snapshot pattern).
    * Intra-file doc_id order is preserved; shards with no actual
    * matches are left byte-untouched. The manifest entry for every
    * TARGETED shard is recounted from the files afterwards (metadata
    * only), so a retry after a crash between swap and manifest write
    * heals the stale count instead of preserving it. Returns the
    * updated manifest.
    *
    * `ids` is the deletion request — GDPR batches are small, so it is
    * collected to the driver for shard routing; routing hashes the
    * id's STRING form exactly as [[shardId]] does (no lossy cast), and
    * null ids are rejected loudly — a malformed request must never
    * become a silent no-op.
    */
  def deleteFromShards(
      ids: DataFrame, docId: String, outDir: String, n: Int): DataFrame = {
    val s = ids.sparkSession
    import org.apache.hadoop.fs.Path
    val fs = graft.connect.Hfs.fs(s, outDir)
    require(fs.exists(new Path(outDir)), s"no shard layout at $outDir")
    require(ids.filter(col(docId).isNull).isEmpty,
      s"deleteFromShards: null $docId in the deletion request")
    val idStrs = ids.select(col(docId).cast("string")).distinct()
      .collect().map(_.getString(0))
    val byShard = idStrs.groupBy(shardIdOfStr(_, n))
      .view.mapValues(_.toSet).toMap
    val prior = readManifest(s, outDir).getOrElse(
      writtenCounts(s, outDir, Nil))
    val updated = scala.collection.mutable.Map(prior.toSeq: _*)
    byShard.foreach { case (shard, toDrop) =>
      val dir = new Path(outDir, s"shard=$shard")
      if (fs.exists(dir)) {
        val cur = s.read.parquet(dir.toString)
        val before = cur.count() // column-less scan: row counts from row-group headers
        val tmp = new Path(outDir, s".shard=$shard.delete-tmp")
        graft.connect.Hfs.deleteIfExists(fs, tmp)
        // null-SAFE keep predicate: a NULL doc_id row is never a match
        // and must survive the rewrite (bare NOT IN would drop it)
        cur.filter(!coalesce(
            col(docId).cast("string").isin(toDrop.toSeq: _*), lit(false)))
          .sortWithinPartitions(col(docId))
          .write.mode("overwrite").parquet(tmp.toString)
        val after = s.read.parquet(tmp.toString).count()
        if (after == before) {
          graft.connect.Hfs.deleteIfExists(fs, tmp) // no matches: untouched
        } else {
          val old = new Path(outDir, s".shard=$shard.delete-old")
          graft.connect.Hfs.deleteIfExists(fs, old)
          graft.connect.Hfs.renameChecked(fs, dir, old, s"delete swap (data->old) shard=$shard")
          try graft.connect.Hfs.renameChecked(fs, tmp, dir, s"delete swap (tmp->data) shard=$shard")
          catch { case e: Throwable =>
            if (!fs.exists(dir)) { val _ = fs.rename(old, dir) }
            throw e
          }
          graft.connect.Hfs.deleteIfExists(fs, old)
        }
        // recount from the files (heals a stale manifest on retry)
        updated(shard) = s.read.parquet(dir.toString).count()
      }
    }
    writeManifest(s, outDir, updated.toMap)
  }

  /** Composite placement key for EPOCH-MIX rows (docs carrying a
    * `rep` copy index from `replicateByEpochs`): hashing the bare
    * doc_id would collocate every copy of a document in one shard —
    * and, under the writer's within-shard sort, ADJACENT — exactly
    * the repetition clustering a training order must avoid. Keying
    * placement on doc_id:rep spreads copies across shards while
    * keeping right-to-be-forgotten tractable: rep is bounded by the
    * mix's epoch cap, so a doc_id expands to ≤maxRep keyed requests
    * ([[expandMixDeletion]]) instead of a full-layout scan.
    */
  def mixKey(docId: org.apache.spark.sql.Column,
      rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(":", docId.cast("string"), rep.cast("string"))

  /** Expand a doc-id deletion request over an epoch-mix layout into
    * the ≤maxRep composite keys its copies could occupy; feed the
    * result to [[deleteFromShards]] on `mix_key`. Keys for copies
    * that never existed route to shards where they match nothing —
    * the rewrite skips untouched shards, so over-expansion costs
    * only routing, never I/O.
    */
  def expandMixDeletion(
      ids: DataFrame, docId: String, maxRep: Int): DataFrame = {
    require(maxRep >= 1, s"expandMixDeletion: maxRep must be >= 1, got $maxRep")
    ids.select(col(docId)).distinct()
      .withColumn("__rep", explode(sequence(lit(1), lit(maxRep))))
      .select(mixKey(col(docId), col("__rep")).as("mix_key"))
  }

  /** String-form routing twin of [[shardId]]: md5("shard:" + id) hex
    * prefix folded onto n — identical to the column form for any id
    * whose Spark string cast equals this string (longs, strings).
    */
  private[graft] def shardIdOfStr(id: String, n: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"shard:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 2)
    java.lang.Long.parseLong(hex, 16) % n
  }

  /** Catalog gate: the curriculum PLAN — per-(shard, phase) document
    * count and score mass under [[withCurriculumOrder]]'s phase
    * assignment (anneal = ties-inclusive top
    * [[curriculumAnnealPermille]]‰ on the shared TTR quality grid)
    * composed with [[shardId]]'s md5 placement. DuckDB recomputes the
    * quantile threshold, the phase split, AND the hex-prefix fold
    * independently — the writer's physical behavior (phase-0 bytes
    * before phase-1 bytes in every part-file) is ShardSpec's job; this
    * row pins the MATH the layout derives from, the
    * `q_shard_split_plan` discipline.
    */
  def curriculumPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.t(s, dir, "documents")
      .select($"doc_id", expr(TextAnalysis.ttrPermilleSql("text")).as("q"))
      .persistScoped()
    withCurriculumOrder(scored, "doc_id", "q", curriculumAnnealPermille)
      .withColumn("shard", shardId($"doc_id", numShards))
      .groupBy($"shard", $"phase")
      .agg(count(lit(1)).as("n_docs"), sum($"q").as("sum_q"))
      .orderBy($"shard", $"phase")
  }

  private val curriculumPlanSql = {
    val h = "substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2)"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    (1000 * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
       |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS q
       |  FROM documents),
       |h AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
       |c AS (SELECT q,
       |    CAST(SUM(cnt) OVER (ORDER BY q DESC) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM h),
       |t AS (SELECT MAX(q) AS qt FROM c
       |      WHERE cum * 1000 >= $curriculumAnnealPermille * n),
       |p AS (SELECT doc_id, q,
       |    (${nib(h, 1)} * 16 + ${nib(h, 2)}) % $numShards AS shard,
       |    CASE WHEN q >= (SELECT qt FROM t) THEN 1 ELSE 0 END AS phase
       |  FROM d)
       |SELECT shard, CAST(phase AS BIGINT) AS phase, COUNT(*) AS n_docs,
       |  CAST(SUM(q) AS BIGINT) AS sum_q
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Catalog gate for the >2-phase curriculum: per-(shard, phase)
    * counts and score mass under [[withCurriculumPhases]] with the
    * warmup/main/anneal cuts — DuckDB recomputes BOTH quantile
    * thresholds from the same histogram walk, the two-cut phase CASE,
    * and the hex-prefix shard fold independently. The physical
    * read-order property (phase 0 bytes, then 1, then 2 in every
    * part-file) is ShardSpec's 3-phase case; this row pins the math.
    */
  def curriculum3Plan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.t(s, dir, "documents")
      .select($"doc_id", expr(TextAnalysis.ttrPermilleSql("text")).as("q"))
      .persistScoped()
    withCurriculumPhases(scored, "doc_id", "q", curriculum3Cuts)
      .withColumn("shard", shardId($"doc_id", numShards))
      .groupBy($"shard", $"phase")
      .agg(count(lit(1)).as("n_docs"), sum($"q").as("sum_q"))
      .orderBy($"shard", $"phase")
  }

  private val curriculum3PlanSql = {
    val h = "substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2)"
    val Seq(pMain, pAnneal) = curriculum3Cuts
    s"""WITH d AS (
       |  SELECT doc_id,
       |    (1000 * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
       |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS q
       |  FROM documents),
       |h AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
       |c AS (SELECT q,
       |    CAST(SUM(cnt) OVER (ORDER BY q DESC) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM h),
       |t0 AS (SELECT MAX(q) AS qt FROM c WHERE cum * 1000 >= $pMain * n),
       |t1 AS (SELECT MAX(q) AS qt FROM c WHERE cum * 1000 >= $pAnneal * n),
       |p AS (SELECT doc_id, q,
       |    (${nib(h, 1)} * 16 + ${nib(h, 2)}) % $numShards AS shard,
       |    (CASE WHEN q >= (SELECT qt FROM t0) THEN 1 ELSE 0 END +
       |     CASE WHEN q >= (SELECT qt FROM t1) THEN 1 ELSE 0 END) AS phase
       |  FROM d)
       |SELECT shard, CAST(phase AS BIGINT) AS phase, COUNT(*) AS n_docs,
       |  CAST(SUM(q) AS BIGINT) AS sum_q
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_shard_plan", shardPlan, Some(shardPlanSql)),
    CatalogEntry("q_shard_split_plan", splitShardPlan, Some(splitShardPlanSql)),
    CatalogEntry("q_shard_curriculum_plan", curriculumPlan, Some(curriculumPlanSql)),
    CatalogEntry("q_shard_curriculum3_plan", curriculum3Plan, Some(curriculum3PlanSql)))
}
