package graft.ops

import graft.{CatalogEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.Scoped

/** Feature-preparation operators — the normalization/binning passes a
  * training pipeline runs after cleaning and before materializing
  * features. Cross-engine determinism follows the repo's integer-
  * bridge discipline: every statistic derives from EXACT integer sums
  * (longs that fit a double's 53-bit mantissa), so the final IEEE
  * divisions/sqrt are bit-identical in Spark and DuckDB.
  */
object FeatureOps {

  /** Per-group z-score normalization of l_quantity (an integer-valued
    * measure, so sum and sum-of-squares stay exact longs: q ≤ 50,
    * q² ≤ 2500, sums ≪ 2⁵³). Stats come from ONE narrow group-by —
    * vocabulary-sized, broadcast back onto the rows — not a window, so
    * the 100 TB plan is scan + tiny-dim broadcast join instead of a
    * full-table sort. Variance uses the textbook (S2 − S²/n)/n with
    * every intermediate exactly representable; z is two IEEE ops.
    * Row subset keeps the gate output bounded; stats are computed over
    * the FULL table before the subset filter.
    */
  def zscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        $"l_quantity".cast("long").as("q"))
    val stats = li.groupBy($"l_returnflag")
      .agg(sum($"q").as("s1"), sum($"q" * $"q").as("s2"),
        count(lit(1)).as("n"))
      .select($"l_returnflag",
        ($"s1".cast("double") / $"n").as("mean_q"),
        (($"s2".cast("double") - $"s1".cast("double") * $"s1" / $"n") / $"n").as("var_q"))
    li.filter($"l_orderkey" < 500)
      .join(broadcast(stats), Seq("l_returnflag"))
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"q",
        (($"q" - $"mean_q") / sqrt($"var_q")).as("z"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val zscoreSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem),
      |stats AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_q,
      |    (CAST(SUM(q * q) AS DOUBLE)
      |      - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS BIGINT) / COUNT(*))
      |      / COUNT(*) AS var_q
      |  FROM li GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag, q,
      |  (q - mean_q) / sqrt(var_q) AS z
      |FROM li JOIN stats USING (l_returnflag)
      |WHERE l_orderkey < 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Equi-depth binning: exact NTILE(10) semantics over extended price
    * with a total tiebreak, reporting each decile's row count and
    * [min, max] price bounds in cents — the quantile-bucketing table
    * feature stores materialize.
    *
    * NOT a window: `Window.orderBy` with no partitionBy plans
    * `Exchange SinglePartition` — every row through one task, the
    * classic 100 TB scale-killer. Instead, the exact two-pass
    * boundary algorithm: (1) range-repartition on the sort key — a
    * DISTRIBUTED sort, each of P partitions holds one key range —
    * then index rows within the range order (`zipWithIndex`: one
    * count-per-partition job + offsets) and pull out the 9 rows
    * sitting at the exact NTILE bucket-end ranks (bucket k of n rows
    * ends at rank k·⌊n/10⌋ + min(k, n mod 10) − 1, bigger buckets
    * first — NTILE's tie-free contract under a total order); (2) the
    * 9 boundary keys become broadcast literals and bucket assignment
    * is a map-side comparison ladder (decile = 1 + #boundaries below
    * the row's key), followed by a 10-group hash rollup. Driver
    * traffic is 9 tuples; no stage sees more than n/P rows. The
    * DuckDB oracle keeps the plain NTILE formulation as the
    * independent check that the two-pass boundaries ARE ntile's.
    */
  def ntileBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber".cast("long").as("ln"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
    val sortKeys = Seq($"cents".asc, $"l_orderkey".asc, $"ln".asc)
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = base.repartitionByRange(parts, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .persistScoped()
    val n = sorted.count()
    val rollup = (d: DataFrame) => d
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
      .orderBy($"decile")
    // NOTE: the boundary pass is EAGER (count + indexed scan at
    // DataFrame-construction time) — unavoidable for collected
    // boundaries; plan-only callers (explain audits) pay it once.
    val boundKeyAt: Map[Long, (Long, Long, Long)] =
      if (n == 0) Map.empty
      else {
        val bucket = n / 10
        val rem = n % 10
        // 1-indexed bucket k ends at 0-indexed global rank cum(k)-1;
        // keep duplicates (n < 10 degenerates some buckets to empty)
        // so the comparison ladder still counts multiplicity like
        // NTILE does
        val wanted = (1 to 9).map(k => k.toLong * bucket + math.min(k, rem) - 1).toSet
        sorted.rdd.zipWithIndex()
          .filter { case (_, i) => wanted.contains(i) }
          .map { case (r, i) => i -> ((r.getLong(2), r.getLong(0), r.getLong(1))) }
          .collect().toMap
      }
    if (n == 0) return rollup(base.withColumn("decile", lit(1L)))
    val bucket = n / 10
    val rem = n % 10
    val boundRanks: Seq[Long] = (1 to 9).map(k => k.toLong * bucket + math.min(k, rem) - 1)
    val decile = boundRanks.map { rk =>
      val (c, o, l) = boundKeyAt(rk)
      when($"cents" > c ||
        ($"cents" === c && ($"l_orderkey" > o || ($"l_orderkey" === o && $"ln" > l))),
        1L).otherwise(0L)
    }.reduce(_ + _) + lit(1L)
    rollup(base.withColumn("decile", decile))
  }

  private val ntileBucketsSql =
    """WITH c AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |d AS (
      |  SELECT cents,
      |    CAST(ntile(10) OVER (ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS decile
      |  FROM c)
      |SELECT decile, COUNT(*) AS n,
      |  min(cents) AS min_cents, max(cents) AS max_cents
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin

  /** Per-group min-max scaling to [0, 1] — the bounded-range
    * normalization feature stores apply when outliers are already
    * clipped. Same shape as [[zscore]]: stats from ONE narrow
    * group-by over the FULL table, broadcast back onto a bounded row
    * subset; numerator and denominator are exact integer differences,
    * so the single IEEE division is bit-identical cross-engine.
    */
  def minmaxScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        $"l_quantity".cast("long").as("q"))
    val stats = li.groupBy($"l_returnflag")
      .agg(min($"q").as("q_min"), max($"q").as("q_max"))
    li.filter($"l_orderkey" < 500)
      .join(broadcast(stats), Seq("l_returnflag"))
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"q",
        (($"q" - $"q_min").cast("double") / ($"q_max" - $"q_min")).as("q_scaled"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val minmaxScaleSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem),
      |st AS (
      |  SELECT l_returnflag, min(q) AS q_min, max(q) AS q_max
      |  FROM li GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag, q,
      |  CAST(q - q_min AS DOUBLE) / (q_max - q_min) AS q_scaled
      |FROM li JOIN st USING (l_returnflag)
      |WHERE l_orderkey < 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Frequency-ordered label indexing (the StringIndexer shape):
    * categorical values get dense indexes 0..k−1, most frequent
    * first, value as tiebreak, then rows encode via a broadcast join
    * against the dictionary.
    *
    * The dictionary DOES use a partitionBy-less window — the pattern
    * [[ntileBuckets]] had to eliminate — but here it is the RIGHT
    * plan: the window input is the post-aggregation vocabulary
    * (|distinct labels| rows, broadcast-sized by definition), not the
    * data table. Global order over a tiny aggregate is a
    * single-task job whatever the formulation; the full-table work
    * stays one narrow group-by + one broadcast-joined map-side
    * encode.
    */
  def labelIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
    val vocab = o.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val w = Window.orderBy($"n".desc, $"o_orderpriority".asc)
    val dict = vocab.select($"o_orderpriority",
      (row_number().over(w).cast("long") - 1).as("idx"))
    o.filter($"o_orderkey" < 300)
      .join(broadcast(dict), Seq("o_orderpriority"))
      .select($"o_orderkey", $"o_orderpriority", $"idx")
      .orderBy($"o_orderkey")
  }

  private val labelIndexSql =
    """WITH v AS (
      |  SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1),
      |d AS (
      |  SELECT o_orderpriority,
      |    CAST(row_number() OVER (ORDER BY n DESC, o_orderpriority) - 1 AS BIGINT) AS idx
      |  FROM v)
      |SELECT o_orderkey, o_orderpriority, idx
      |FROM orders JOIN d USING (o_orderpriority)
      |WHERE o_orderkey < 300
      |ORDER BY o_orderkey""".stripMargin

  /** Deterministic hash split — the reproducible train/val/test
    * assignment every training pipeline needs: bucket = first two hex
    * chars of md5(key) (256 uniform buckets, identical string on any
    * engine/cluster/run), thresholded ~80/10/10 by plain ASCII
    * comparison. Pure map-side projection; adding data never reshuffles
    * existing assignments (hash of the KEY, not of position).
    */
  /** md5-prefix cut points shared by [[hashSplit]] and [[groupSplit]]
    * (and interpolated into both oracles): buckets below `valLoBucket`
    * train (204/256 ≈ 79.7%), below `testLoBucket` validate
    * (26/256 ≈ 10.2%), the rest test. One definition — the two split
    * operators and their SQL twins cannot drift apart.
    */
  val valLoBucket = "cc"
  val testLoBucket = "e6"

  private[ops] def splitFor(bucket: Column): Column =
    when(bucket < valLoBucket, "train")
      .when(bucket < testLoBucket, "val")
      .otherwise("test")

  private[ops] def splitCaseSql(bucketExpr: String): String =
    s"""CASE WHEN $bucketExpr < '$valLoBucket' THEN 'train'
       |       WHEN $bucketExpr < '$testLoBucket' THEN 'val'
       |       ELSE 'test' END""".stripMargin

  def hashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = substring(md5($"o_orderkey".cast("string")), 1, 2)
    Tables.t(s, dir, "orders")
      .filter($"o_orderkey" < 300)
      .select($"o_orderkey", bucket.as("bucket"),
        splitFor(bucket).as("split"))
      .orderBy($"o_orderkey")
  }

  private val hashSplitSql =
    s"""SELECT o_orderkey,
       |  substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) AS bucket,
       |  ${splitCaseSql("substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)")} AS split
       |FROM orders WHERE o_orderkey < 300
       |ORDER BY o_orderkey""".stripMargin

  /** Smoothing pseudo-count for [[targetEncode]]. */
  val targetEncSmoothing = 10

  /** Smoothed target encoding — the leakage-averse categorical
    * encoding: each label's mean binary target shrunk toward the
    * global prior by `targetEncSmoothing` pseudo-observations,
    * enc = (pos + m·prior) / (n + m). Counts come from one
    * vocabulary-sized group-by; the prior re-aggregates those counts
    * (5 rows), so the whole operator is one full-data exchange. All
    * counts exact longs; prior and enc are the same IEEE expression
    * tree on both engines.
    */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = targetEncSmoothing
    val perLabel = Tables.t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when($"o_totalprice" > 150000, 1L).otherwise(0L)).as("pos"))
      .persistScoped()
    val prior = perLabel.agg(
      (sum($"pos").cast("double") / sum($"n")).as("prior"))
    perLabel.crossJoin(broadcast(prior))
      .select($"o_orderpriority", $"n", $"pos", $"prior",
        (($"pos" + lit(m.toDouble) * $"prior") / ($"n" + m)).as("enc"))
      .orderBy($"o_orderpriority")
  }

  private val targetEncodeSql =
    s"""WITH pl AS (
       |  SELECT o_orderpriority, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM orders GROUP BY 1),
       |pr AS (
       |  SELECT CAST(SUM(pos) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS prior FROM pl)
       |SELECT o_orderpriority, n, pos, prior,
       |  (pos + $targetEncSmoothing.0 * prior) / (n + $targetEncSmoothing) AS enc
       |FROM pl CROSS JOIN pr
       |ORDER BY o_orderpriority""".stripMargin

  /** Feature hashing (the hashing trick): high-cardinality
    * categoricals land in a fixed 256-bucket space via the same
    * engine-portable md5-prefix hash as [[hashSplit]] — no dictionary,
    * no vocabulary shuffle, new categories never resize the feature
    * space. Emits the bucket histogram (the collision profile a
    * hashed-feature consumer cares about): one map-side hash + one
    * 256-ary rollup.
    */
  def featureHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .select(substring(md5($"o_custkey".cast("string")), 1, 2).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .orderBy($"bucket")
  }

  private val featureHashSql =
    """SELECT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2) AS bucket,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Leakage-safe GROUP split — the train/val/test assignment that
    * hashes the GROUP key (here the document's source domain) instead
    * of the row key, so near-duplicate rows sharing a group can never
    * straddle the split boundary (the classic eval-contamination
    * leak). Same engine-portable md5-prefix bucketing as [[hashSplit]];
    * the split decision is a pure map-side projection (zero shuffle to
    * assign — the rollup here exists only to make the gate output
    * verifiable: docs + distinct groups per split, where
    * n_sources summing to the global distinct-source count IS the
    * no-straddle property). At 100 TB: scan + map + one
    * vocabulary-sized rollup.
    */
  def groupSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = substring(md5($"source"), 1, 2)
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", splitFor(bucket).as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"split")
  }

  private val groupSplitSql =
    s"""SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
       |FROM (
       |  SELECT doc_id, source,
       |    ${splitCaseSql("substr(md5(source), 1, 2)")} AS split
       |  FROM documents) t
       |GROUP BY split ORDER BY split""".stripMargin

  /** Per-group IQR outlier detection — the Tukey-fence rule (outside
    * q1−1.5·IQR / q3+1.5·IQR) per nation, the robust-stats sibling of
    * [[zscore]]. Quartiles run over integer CENTS, whose lerp factors
    * are exact quarters, so 4·q is an exact integer in both engines
    * and every fence comparison happens in quarter-cent integer space
    * scaled ×2 (2·4c vs 2·4q1 − 3·(4q3−4q1)) — no float ever reaches
    * the gate. Plan: one narrow per-nation percentile aggregation
    * (25 rows) broadcast back onto customers, flag map-side, roll up —
    * the same stats-broadcast shape as zscore, ONE row-table exchange.
    */
  def iqrOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
      .select($"c_nationkey", $"c_custkey",
        round($"c_acctbal" * 100).cast("long").as("cents"))
    val stats = c.groupBy($"c_nationkey")
      .agg(round(expr("percentile(cents, 0.25)") * 4).cast("long").as("q1_qc"),
        round(expr("percentile(cents, 0.75)") * 4).cast("long").as("q3_qc"))
    c.join(broadcast(stats), Seq("c_nationkey"))
      .select($"c_nationkey", $"cents", $"q1_qc", $"q3_qc",
        (($"cents" * 8) < ($"q1_qc" * 2 - ($"q3_qc" - $"q1_qc") * 3)).as("low"),
        (($"cents" * 8) > ($"q3_qc" * 2 + ($"q3_qc" - $"q1_qc") * 3)).as("high"))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"low", 1L).otherwise(0L)).as("n_low"),
        sum(when($"high", 1L).otherwise(0L)).as("n_high"),
        first($"q1_qc").as("q1_qc"), first($"q3_qc").as("q3_qc"))
      .orderBy($"c_nationkey")
  }

  private val iqrOutliersSql =
    """WITH c AS (SELECT c_nationkey, c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
      |s AS (SELECT c_nationkey,
      |    CAST(round(quantile_cont(cents, 0.25) * 4) AS BIGINT) AS q1_qc,
      |    CAST(round(quantile_cont(cents, 0.75) * 4) AS BIGINT) AS q3_qc
      |  FROM c GROUP BY 1)
      |SELECT c.c_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN c.cents * 8 < s.q1_qc * 2 - (s.q3_qc - s.q1_qc) * 3
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN c.cents * 8 > s.q3_qc * 2 + (s.q3_qc - s.q1_qc) * 3
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  any_value(s.q1_qc) AS q1_qc, any_value(s.q3_qc) AS q3_qc
      |FROM c JOIN s USING (c_nationkey)
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin

  /** Per-GROUP equi-depth binning — the grouped sibling of
    * [[ntileBuckets]]: quartiles of document length computed
    * independently per language, the per-stratum binning a curriculum /
    * mixing pipeline derives before sampling within each language. The
    * global decile query needed its two-pass boundary algorithm because
    * a global NTILE window is an `Exchange SinglePartition` scale-killer
    * — but a PARTITIONED window is exactly what window functions are
    * for: the only exchange is hash(lang), each language sorts in
    * parallel, and no single task ever owns more than one language's
    * rows. (Skew caveat at 100 TB: one language CAN dominate a corpus —
    * if p99 language mass exceeds executor memory, fall back to the
    * two-pass boundary algorithm per heavy language; the doc records
    * the switchover, the operator stays the cheap default.) Order is
    * pinned with the doc_id tiebreak so both engines' NTILE — identical
    * SQL-standard semantics — see one total order.
    */
  def ntileGrouped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars".asc, $"doc_id".asc)
    Tables.t(s, dir, "documents")
      .select($"lang", $"doc_id", $"n_chars")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy($"lang", $"quartile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .orderBy($"lang", $"quartile")
  }

  private val ntileGroupedSql =
    """WITH q AS (
      |  SELECT lang, n_chars,
      |    CAST(NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT)
      |      AS quartile
      |  FROM documents)
      |SELECT lang, quartile, COUNT(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM q GROUP BY 1, 2 ORDER BY lang, quartile""".stripMargin

  /** Percentile winsorizing — the robust-clipping preprocessor (cap
    * features at [p05, p95] before scaling so tail outliers don't set
    * the range): per-group exact interpolated percentiles land on the
    * MILLS grid first (`round(percentile·1000)` — the
    * [[graft.ops.Aggregates.percentileAgg]] bridge, pinned exact
    * cross-engine), and the clip comparison runs long-vs-long on that
    * grid, so no raw IEEE percentile double ever meets a data value at
    * the gate. One stats rollup broadcast back over the scan (the
    * [[zscore]] shape, exchanges = 1) and a map-side
    * least/greatest — at 100 TB the clip is free and the only cost is
    * the percentile rollup already paid by any stats pass.
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice" * 1000).cast("long").as("mills"))
    val cuts = base.groupBy($"l_returnflag")
      .agg(round(expr("percentile(mills, 0.05)")).cast("long").as("lo"),
        round(expr("percentile(mills, 0.95)")).cast("long").as("hi"))
    base.join(broadcast(cuts), Seq("l_returnflag"))
      .select($"l_returnflag",
        least(greatest($"mills", $"lo"), $"hi").as("w"),
        ($"mills" < $"lo").cast("long").as("clip_lo"),
        ($"mills" > $"hi").cast("long").as("clip_hi"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"clip_lo").as("n_clipped_lo"), sum($"clip_hi").as("n_clipped_hi"),
        sum($"w").as("sum_winsorized_mills"))
      .orderBy($"l_returnflag")
  }

  private val winsorizeSql =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 1000) AS BIGINT) AS mills
      |  FROM lineitem),
      |cuts AS (
      |  SELECT l_returnflag,
      |    CAST(round(quantile_cont(mills, 0.05)) AS BIGINT) AS lo,
      |    CAST(round(quantile_cont(mills, 0.95)) AS BIGINT) AS hi
      |  FROM base GROUP BY 1)
      |SELECT b.l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN b.mills < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      |  CAST(SUM(CASE WHEN b.mills > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
      |  CAST(SUM(least(greatest(b.mills, c.lo), c.hi)) AS BIGINT) AS sum_winsorized_mills
      |FROM base b JOIN cuts c USING (l_returnflag)
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** MAD robust outliers — median absolute deviation, the
    * breakdown-resistant sibling of [[iqrOutliers]] (a single wild
    * point moves IQR fences, never the MAD's): per group, median on
    * the mills grid, then the median of |x − m| (same exact
    * interpolated percentile machinery), and the classic flag
    * |x − m| > 3·1.4826·MAD with the 4.4478 constant carried as the
    * integer ratio 44478/10000 — cross-multiplied, so the comparison
    * is long-vs-long and no float constant touches the gate. Two
    * group-keyed stats rollups + two broadcasts back over the scan;
    * both rollup keys are the bounded group column.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_returnflag",
        round($"l_extendedprice" * 1000).cast("long").as("mills"))
    val med = base.groupBy($"l_returnflag")
      .agg(round(expr("percentile(mills, 0.5)")).cast("long").as("m"))
    // dev feeds the MAD rollup AND the final flag pass; deliberately
    // NOT persisted — caching the wide row set measured 2.2× SLOWER at
    // the 10× fixture than re-running the columnar scan + broadcast
    // join (memory-store write+read beats two parquet scans only when
    // the source is remote/expensive, which a spec comment can't know)
    val dev = base.join(broadcast(med), Seq("l_returnflag"))
      .select($"l_returnflag", $"mills", $"m", abs($"mills" - $"m").as("ad"))
    val mad = dev.groupBy($"l_returnflag")
      .agg(round(expr("percentile(ad, 0.5)")).cast("long").as("mad"))
    dev.join(broadcast(mad), Seq("l_returnflag"))
      .select($"l_returnflag", $"mad",
        // |x−m| > 3·1.4826·MAD ⟺ 10000·|x−m| > 44478·MAD
        ($"ad" * 10000 > $"mad" * 44478).cast("long").as("is_out"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), first($"mad").as("mad_mills"),
        sum($"is_out").as("n_outliers"))
      .orderBy($"l_returnflag")
  }

  private val madOutliersSql =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 1000) AS BIGINT) AS mills
      |  FROM lineitem),
      |med AS (
      |  SELECT l_returnflag,
      |    CAST(round(quantile_cont(mills, 0.5)) AS BIGINT) AS m
      |  FROM base GROUP BY 1),
      |dev AS (
      |  SELECT b.l_returnflag, abs(b.mills - med.m) AS ad
      |  FROM base b JOIN med USING (l_returnflag)),
      |mad AS (
      |  SELECT l_returnflag,
      |    CAST(round(quantile_cont(ad, 0.5)) AS BIGINT) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.l_returnflag, COUNT(*) AS n,
      |  any_value(mad.mad) AS mad_mills,
      |  CAST(SUM(CASE WHEN d.ad * 10000 > mad.mad * 44478 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad USING (l_returnflag)
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_feat_mad", madOutliers, Some(madOutliersSql)),
    CatalogEntry("q_feat_winsorize", winsorize, Some(winsorizeSql)),
    CatalogEntry("q_feat_ntile_grouped", ntileGrouped, Some(ntileGroupedSql)),
    CatalogEntry("q_feat_outlier", iqrOutliers, Some(iqrOutliersSql)),
    CatalogEntry("q_feat_group_split", groupSplit, Some(groupSplitSql)),
    CatalogEntry("q_feat_split", hashSplit, Some(hashSplitSql)),
    CatalogEntry("q_feat_target_enc", targetEncode, Some(targetEncodeSql)),
    CatalogEntry("q_feat_hash", featureHash, Some(featureHashSql)),
    CatalogEntry("q_feat_zscore", zscore, Some(zscoreSql)),
    CatalogEntry("q_feat_ntile", ntileBuckets, Some(ntileBucketsSql)),
    CatalogEntry("q_feat_minmax", minmaxScale, Some(minmaxScaleSql)),
    CatalogEntry("q_feat_index", labelIndex, Some(labelIndexSql)))
}
