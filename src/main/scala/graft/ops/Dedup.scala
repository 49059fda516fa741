package graft.ops

import graft.{CatalogEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope.Scoped

/** Deduplication operators for training-data pipelines (builder-prompt
  * north star; no reference counterpart — the reference dedups nothing).
  * Exact, MinHash-LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup — all expressed so the per-document signature work happens
  * map-side inside codegen (higher-order array functions, no explode
  * until the candidate-pair shuffle, which is the only shuffle and is
  * keyed by band/bucket — the shape that survives 100 TB).
  *
  * Determinism: hashes are md5 hex strings (identical in Spark and
  * DuckDB); float math goes through the integer bridge (ops package doc).
  */
object Dedup {

  /** Exact dedup on normalized text: canonical = min doc_id per group.
    * (At 100 TB: one hash-shuffle on the normalized key — use
    * md5(normalized) as the shuffle key to keep rows narrow.)
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .groupBy(lower(trim($"text")).as("norm_key"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(md5($"norm_key").as("key_md5"), $"canonical_id", $"n_copies")
      .orderBy($"canonical_id")
  }

  private val exactSql =
    """SELECT md5(lower(trim(text))) AS key_md5,
      |  min(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY lower(trim(text))
      |ORDER BY canonical_id""".stripMargin

  private val nSeeds = 6 // 3 bands × 2 rows per band

  /** HOF reference formulation of the distinct 3-gram shingles,
    * superseded in the query path by the native codegen `Shingles3`
    * expression — kept (private to the repo) as the independently
    * derived formulation the differential spec pins the native one
    * against. Built with zip_with over the array and its 1- and
    * 2-shifted slices. Shape matters: higher-order lambdas evaluate
    * interpreted (CodegenFallback) and re-run CAPTURED outer
    * expressions once per element — a sequence+element_at(ws, i)
    * formulation re-tokenizes the document per shingle once the
    * optimizer inlines `ws` (which CollapseProject does for any alias
    * referenced once, e.g. under explode). zip_with lambdas only touch
    * bound element arguments, so the array inputs are evaluated once
    * per ROW no matter how the plan is rewritten. Trailing entries
    * where the shifted slices run out concat to null and are filtered.
    */
  private[graft] def shinglesFromWords(ws: Column): Column = {
    val b = slice(ws, lit(2), greatest(size(ws) - 1, lit(0)))
    val c = slice(ws, lit(3), greatest(size(ws) - 2, lit(0)))
    val t1 = zip_with(ws, b, (x, y) => concat(x, lit(" "), y))
    val t2 = zip_with(t1, c, (x, y) => concat(x, lit(" "), y))
    array_distinct(filter(t2, x => x.isNotNull))
  }

  /** Distinct 3-gram shingles via the native codegen
    * [[graft.functions.Shingles3]] expression: one fused loop per row
    * instead of the two interpreted zip_with passes + filter +
    * array_distinct of [[shinglesFromWords]] (HOFs are CodegenFallback
    * and broke whole-stage codegen at the first operator of every
    * shingle scan). Built directly via the ColumnBridge — no session
    * registration dependency (the quantize1e4 convention). Element
    * order and null/short-input semantics match the HOF shape exactly
    * (MinHashNativeSpec pins the parity).
    */
  private[graft] def shingles3(ws: Column): Column =
    org.apache.spark.sql.graftaccess.ColumnBridge.column(
      graft.functions.Shingles3(
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(ws)))

  /** Appends a distinct-3-gram-shingles column (native fused
    * tokenize+shingle+distinct — [[shingles3]]). Expects `text`.
    */
  private[graft] def withShingles(df: DataFrame, out: String): DataFrame =
    df.withColumn(out, shingles3(split(col("text"), " ")))

  /** Number of seeded md5 digests the 6 minhash values are carved from:
    * each 32-hex digest yields four 8-hex (32-bit) chunks (the standard
    * split-one-hash trick, taken further than the earlier 2-half split
    * after the 10× bench showed the seeded digest passes ARE the
    * dominant cost of every band-based query) — 6 values need
    * ⌈6/4⌉ = 2 digests instead of 3, cutting per-shingle md5 work by a
    * third. Chunks of one md5 are independent uniform values; a 32-bit
    * minhash is ample for banding (the band key concatenates two chunks
    * → 64 bits).
    */
  private val nDigests = (nSeeds + 3) / 4

  /** minhash i lives at (digest index, 1-based hex offset). */
  private def sigPos(i: Int): (Int, Int) = ((i - 1) / 4 + 1, ((i - 1) % 4) * 8 + 1)

  /** (doc_id, band, key) LSH band table shared by [[minhashLsh]],
    * [[dedupClusters]] and [[streamLsh]]. Each seeded digest array is
    * materialized once (multi-referenced alias survives
    * CollapseProject); the chunk minima fold over the bound arrays with
    * cheap substrings.
    *
    * Band signatures for ANY (doc_id, text) DataFrame — map-side-only
    * column work, so it runs unchanged on a STREAMING DataFrame: the
    * stream-ingest dedup shape is bandsForDocs(stream) stream-static
    * joined against the accumulated corpus band table (candidates),
    * with exact verification downstream. StreamOpsSpec asserts
    * batch/stream parity.
    */
  def bandsForDocs(docs: DataFrame): DataFrame = {
    // any column besides text rides along (doc_id, plus e.g. a length
    // column for the length-routed dispatcher) — all still map-side.
    // The signature minima come from the native fused
    // [[graft.functions.MinHash6]] expression (one loop over the raw
    // word bytes per row — no shingle array, no hex strings, no
    // interpreted HOF passes); __mh(i) ≡ the old
    // array_min(transform(__m_d, substr(off, 8))) column h_i, so the
    // band keys below are byte-identical (MinHashNativeSpec pins the
    // parity against the retained HOF reference
    // [[bandsForDocsReference]], and every band-based gate row
    // cross-checks end to end against the DuckDB oracle).
    val keep = docs.columns.filterNot(_ == "text").toSeq.map(col)
    val withMh = docs.withColumn("__mh",
      org.apache.spark.sql.graftaccess.ColumnBridge.column(
        graft.functions.MinHash6(
          org.apache.spark.sql.graftaccess.ColumnBridge.expression(
            split(col("text"), " ")))))
    val bandStructs = (1 to nSeeds / 2).map { b =>
      struct(lit(b).as("band"),
        concat(element_at(col("__mh"), 2 * b - 1),
          element_at(col("__mh"), 2 * b)).as("key"))
    }
    withMh
      .select(keep :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(keep ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /** HOF reference formulation of [[bandsForDocs]] — the shape shipped
    * through r17 (shingle array + per-digest md5 transform + six
    * array_min(substr) folds), kept private as the independently
    * derived twin MinHashNativeSpec pins the native expression against.
    */
  private[graft] def bandsForDocsReference(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filterNot(_ == "text").toSeq.map(col)
    // HOF shingles (shinglesFromWords), NOT the native path — the
    // reference must stay fully independent of the code it checks
    var withM = docs.withColumn("__ws", split(col("text"), " "))
      .withColumn("shingles", shinglesFromWords(col("__ws")))
      .drop("__ws")
    (1 to nDigests).foreach { i =>
      withM = withM.withColumn(s"__m$i",
        transform(col("shingles"), w => md5(concat(lit(s"$i:"), w))))
    }
    val sigCols = (1 to nSeeds).map { i =>
      val (d, off) = sigPos(i)
      array_min(transform(col(s"__m$d"), h => substring(h, off, 8))).as(s"h$i")
    }
    val withSig = withM.select(keep ++ sigCols: _*)
    val bandStructs = (1 to nSeeds / 2).map { b =>
      struct(lit(b).as("band"), concat(col(s"h${2 * b - 1}"), col(s"h${2 * b}")).as("key"))
    }
    withSig
      .select(keep :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(keep ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  private def bandsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bandsForDocs(Tables.t(s, dir, "documents").select($"doc_id", $"text"))
  }

  /** MinHash + LSH banding: 6 minhashes over the distinct 3-gram
    * shingle set (split digests, [[bandsDf]]), 3 bands of 2; documents
    * sharing any band key become candidate pairs. Shingles (not
    * unigrams) so the feature space stays rich — the fixture's word
    * pool is tiny and unigram sets saturate. Signature computation is
    * per-row map-side work; the only shuffle carries
    * (band, key, doc_id).
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persist: bands is self-joined — without it the seeded digest
    // passes over every shingle run twice
    val bands = bandsDf(s, dir).persistScoped()
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      // count(*) ≡ COUNT(DISTINCT band) here: the band table has exactly
      // one row per (doc, band), and the join matches on band equality,
      // so each colliding band contributes exactly one row per pair — a
      // plain count avoids the Expand + second shuffle a distinct
      // aggregate plans. The oracle deliberately KEEPS count(DISTINCT):
      // an independent formulation the gate checks the identity against.
      .agg(count(lit(1)).as("n_bands"))
      .orderBy($"d1", $"d2")
  }

  /** Shared CTE chain producing the `bands` relation (DuckDB twin of
    * [[bandsDf]]).
    */
  private[ops] val bandsCteSql = {
    val mExprs = (1 to nDigests).map { i =>
      s"list_transform(words, w -> md5(concat('$i:', w))) AS m$i"
    }.mkString(",\n  ")
    val sigExprs = (1 to nSeeds).map { i =>
      val (d, off) = sigPos(i)
      s"list_min(list_transform(m$d, h -> substr(h, $off, 8))) AS h$i"
    }.mkString(",\n  ")
    val bandSelects = (1 to nSeeds / 2).map { b =>
      s"SELECT doc_id, $b AS band, concat(h${2 * b - 1}, h${2 * b}) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |docs AS (SELECT doc_id,
       |  list_distinct([array_to_string(ws[i:i+2], ' ')
       |                 FOR i IN generate_series(1, len(ws) - 2)]) AS words
       |FROM w0),
       |ms AS (SELECT doc_id,
       |  $mExprs
       |FROM docs),
       |sig AS (SELECT doc_id,
       |  $sigExprs
       |FROM ms),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  private val minhashLshSql =
    s"""WITH $bandsCteSql
       |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(DISTINCT a.band) AS n_bands
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin

  /** md5 hex digest of every word, computed ONCE per word — the input
    * of the HOF reference formulation [[simhashFromMd5s]], kept only
    * for the bit-parity spec against the codegen `simhash64`.
    */
  private[graft] def wordMd5s(text: Column): Column = transform(split(text, " "), w => md5(w))

  /** HOF reference formulation of the 16-bit SimHash, superseded in
    * the query path by the codegen `simhash64` expression
    * ([[graft.functions.SimHash64]]) — kept (private to the repo) as
    * the independently-derived formulation the parity spec checks the
    * native expression against, bit for bit. Bit i = sign of the
    * summed ±1 votes from hex digit i of each digest (digit ≥ '8' ⇔
    * its high bit is set). One fold with a 16-long accumulator; lambda
    * variables are slot reads, safe to capture.
    */
  private[graft] def simhashFromMd5s(hashes: Column): Column = {
    val zeros = array((0 until 16).map(_ => lit(0L)): _*)
    val powers = array((0 until 16).map(i => lit(1L << i)): _*)
    val votes = aggregate(hashes, zeros,
      (acc, h) => zip_with(acc, sequence(lit(1), lit(16)),
        (a, i) => a + when(h.substr(i.cast("int"), lit(1)) >= "8", 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Appends a `simhash` column via the native codegen `simhash64`
    * expression — one fused md5+vote loop per row, no intermediate hex
    * strings (the HOF shape ran 16 interpreted passes per row and was
    * the #1 constant-factor cost of the dedup suite). Expects a `text`
    * column; callers must have run `GraftExtensions.register` (both
    * catalog queries do).
    */
  private[graft] def withSimhash(df: DataFrame): DataFrame =
    df.withColumn("simhash", call_function("simhash64", split(col("text"), " ")))

  /** 16-bit SimHash over the word multiset; bit i = sign of the sum of
    * ±1 votes from the i-th hex digit of each word's md5. Docs sharing
    * a simhash are near-dup clusters (n_same window count).
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    withSimhash(Tables.t(s, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id", $"simhash")
      .withColumn("n_same",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"simhash")))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of [[simhashExpr]] (assumes a `words` list column). */
  private val simhashBitsSql: String = {
    val hi = "('8','9','a','b','c','d','e','f')"
    (0 until 16).map { i =>
      s"(CASE WHEN list_sum(list_transform(words, w -> CASE WHEN substr(md5(w), ${i + 1}, 1) IN $hi THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" +\n    ")
  }

  private val simhashSql =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |sh AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash FROM docs)
       |SELECT doc_id, simhash, COUNT(*) OVER (PARTITION BY simhash) AS n_same
       |FROM sh ORDER BY doc_id""".stripMargin

  /** SimHash near-dup histogram: pairs at Hamming distance ≤ 4, counted
    * per distance, WITHOUT an all-pairs product. Two scale levers:
    *
    * 1. Aggregate docs to distinct simhash values first (the 16-bit
    *    value space is bounded), so pair counting runs over
    *    (value, multiplicity) — same-value pairs contribute C(c,2) at
    *    h=0, cross-value pairs c1·c2 at h(v1,v2).
    * 2. Pigeonhole band blocking for cross-value candidates: split the
    *    16 bits into 5 disjoint blocks (4+3+3+3+3). Hamming ≤ 4 touches
    *    at most 4 blocks, so every qualifying pair agrees exactly on
    *    ≥ 1 block — an equi-join on (block_id, block_bits) finds all of
    *    them, and the custom codegen `hamming64`
    *    (graft.functions.HammingDistance, branch-free
    *    `Long.bitCount(a ^ b)`) rescores candidates only.
    *
    * At 100 TB both levers hold: the value rollup is one hash shuffle of
    * narrow (long, count) rows, and the block equi-join shuffles only
    * the distinct-value table — never the corpus, never N². No
    * BroadcastNestedLoopJoin in the plan.
    */
  def simhashHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val sh = withSimhash(Tables.t(s, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id", $"simhash")
    // distinct fingerprint values + multiplicity, persisted: three plan
    // references (both block-join sides + the h=0 branch) would each
    // re-run the full simhash projection whenever AQE fails to reuse
    // the rollup exchange — measured as a 2-8s run-to-run swing; the
    // ~1575-row cache makes the cost deterministic
    val vals = sh.groupBy($"simhash").agg(count(lit(1)).as("c")).persistScoped()
    val blockDefs = Seq((0, 4), (4, 3), (7, 3), (10, 3), (13, 3)) // (shift, width)
    val blocks = vals.select($"simhash", $"c",
      explode(array(blockDefs.zipWithIndex.map { case ((off, w), i) =>
        struct(lit(i).as("blk"),
          shiftright($"simhash", off).bitwiseAND(lit((1L << w) - 1)).as("bits"))
      }: _*)).as("bk"))
      .select($"simhash", $"c", $"bk.blk".as("blk"), $"bk.bits".as("bits"))
    // candidate value pairs: equal on ≥1 block. A pair collides on one
    // row per matching block, so dedupe by keeping only the FIRST
    // matching block — "no earlier block matches" is pure bit math on
    // (v1, v2), a codegen'd filter instead of a shuffling DISTINCT
    def blockBits(v: Column, off: Int, w: Int): Column =
      shiftright(v, off).bitwiseAND(lit((1L << w) - 1))
    val firstMatch = blockDefs.zipWithIndex.map { case ((off, w), i) =>
      when(col("a.blk") > i,
        blockBits(col("a.simhash"), off, w) =!= blockBits(col("b.simhash"), off, w))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val cand = blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bits") === col("b.bits") &&
          col("a.simhash") < col("b.simhash"))
      .filter(firstMatch)
      .select(col("a.simhash").as("v1"), col("b.simhash").as("v2"),
        col("a.c").as("c1"), col("b.c").as("c2"))
    val cross = cand
      .select(expr("hamming64(v1, v2)").as("h"), ($"c1" * $"c2").as("n_pairs"))
      .filter($"h" <= 4)
    val same = vals.filter($"c" > 1)
      .select(lit(0).cast("int").as("h"),
        (($"c" * ($"c" - 1)) / 2).cast("long").as("n_pairs"))
    cross.unionByName(same)
      .groupBy($"h").agg(sum($"n_pairs").as("n"))
      .orderBy($"h")
  }

  private val simhashHammingSql =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |sh AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash FROM docs),
       |vals AS (SELECT simhash, COUNT(*) AS c FROM sh GROUP BY 1),
       |blocks AS (
       |  SELECT simhash, c, blk,
       |    CASE blk WHEN 0 THEN simhash & 15
       |             WHEN 1 THEN (simhash >> 4) & 7
       |             WHEN 2 THEN (simhash >> 7) & 7
       |             WHEN 3 THEN (simhash >> 10) & 7
       |             ELSE (simhash >> 13) & 7 END AS bits
       |  FROM vals CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS blk) b),
       |cand AS (
       |  SELECT a.simhash AS v1, b.simhash AS v2, a.c AS c1, b.c AS c2
       |  FROM blocks a JOIN blocks b
       |    ON a.blk = b.blk AND a.bits = b.bits AND a.simhash < b.simhash
       |  WHERE (a.blk <= 0 OR (a.simhash & 15) <> (b.simhash & 15))
       |    AND (a.blk <= 1 OR ((a.simhash >> 4) & 7) <> ((b.simhash >> 4) & 7))
       |    AND (a.blk <= 2 OR ((a.simhash >> 7) & 7) <> ((b.simhash >> 7) & 7))
       |    AND (a.blk <= 3 OR ((a.simhash >> 10) & 7) <> ((b.simhash >> 10) & 7))),
       |pairs AS (
       |  SELECT CAST(bit_count(xor(v1, v2)) AS INT) AS h, c1 * c2 AS n_pairs
       |  FROM cand WHERE bit_count(xor(v1, v2)) <= 4
       |  UNION ALL
       |  SELECT 0 AS h, CAST(c * (c - 1) / 2 AS BIGINT) AS n_pairs
       |  FROM vals WHERE c > 1)
       |SELECT h, CAST(SUM(n_pairs) AS BIGINT) AS n FROM pairs
       |GROUP BY 1 ORDER BY h""".stripMargin

  /** Document-frequency cap for [[ngramJaccard]]'s shingle join: a
    * shingle present in more than this many same-language documents is
    * excluded from the similarity universe. The pair join's fan-out per
    * shingle is O(df²), so without a cap one hot shingle ("the of and")
    * appearing in 1M docs would emit 10¹² pairs at 100 TB; with it the
    * per-key work is ≤ cap². Common-gram removal is also the standard
    * quality move — ubiquitous shingles carry no similarity signal.
    * (At the test fixtures' scale max df is 5 (sf0.01) / 14 (sf0.1), so
    * the cap keeps the oracle result identical while bounding scale;
    * DedupSpec exercises a case where it actually binds.)
    */
  val jaccardDfCap = 50

  /** N-gram Jaccard similarity over distinct 3-gram shingle sets:
    * top-20 same-language pairs. Shingles (not unigrams — the fixture's
    * tiny vocabulary makes every doc-pair collide on words, a quadratic
    * fan-out) + lang blocking + the [[jaccardDfCap]] df cap bound the
    * candidate space; the intersection is a shingle-level equi-join
    * (shuffle keyed by shingle), counts are exact ints, the ratio a
    * deterministic double. Both |A∩B| and |A|,|B| are computed over the
    * capped shingle universe so the ratio stays a true Jaccard there.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(s, dir, jaccardDfCap)

  private[ops] def ngramJaccardCapped(s: SparkSession, dir: String, dfCap: Int): DataFrame = {
    import s.implicits._
    val docs = withShingles(
      Tables.t(s, dir, "documents").select($"doc_id", $"lang", $"text"), "words")
      .select($"doc_id", $"lang", $"words")
    // df per (lang, shingle) via one window pass (shingles are distinct
    // per doc, so count(*) = document frequency). Three plan references
    // (both intersection sides + the per-doc sizes) share one exchange
    // via ReuseExchange — measured reliably here (unlike the hamming
    // union shape, which needed a persist); a columnar cache costs more
    // than it saves at this row width. Two round-4 MEASURED negatives
    // (steady-state, in-JVM repeats via graft.tools.QueryBench): (a) an
    // aggregate + left-semi-join formulation avoiding the window's sort
    // is 1.6× slower — the semi join references the exploded table
    // twice, so the shingle projection runs twice; (b) hashing shingles
    // to 8-hex tokens before the explode (narrower shuffle keys) is a
    // wash — md5 cost offsets the width saving (2.2 vs 2.6 s min at the
    // 10× fixture). Raw shingles + window stays.
    val w = docs
      .select($"doc_id", $"lang", explode($"words").as("wd"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang", $"wd")))
      .filter($"df" <= dfCap)
      .select($"doc_id", $"lang", $"wd")
    val n = w.groupBy($"doc_id").agg(count(lit(1)).as("nw"))
    val inter = w.as("a")
      .join(w.as("b"),
        col("a.wd") === col("b.wd") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(n.as("na"), col("d1") === col("na.doc_id"))
      .join(n.as("nb"), col("d2") === col("nb.doc_id"))
      .select($"d1", $"d2",
        ($"ni".cast("double") / ($"na.nw" + $"nb.nw" - $"ni")).as("jaccard"))
      .orderBy($"jaccard".desc, $"d1", $"d2")
      .limit(20)
  }

  private val ngramJaccardSql =
    s"""WITH w0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |docs AS (SELECT doc_id, lang,
      |  list_distinct([array_to_string(ws[i:i+2], ' ')
      |                 FOR i IN generate_series(1, len(ws) - 2)]) AS words
      |FROM w0),
      |w_all AS (SELECT doc_id, lang, unnest(words) AS wd FROM docs),
      |w AS (SELECT doc_id, lang, wd FROM (
      |  SELECT doc_id, lang, wd, COUNT(*) OVER (PARTITION BY lang, wd) AS df
      |  FROM w_all) t WHERE df <= $jaccardDfCap),
      |n AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
      |  FROM w a JOIN w b ON a.wd = b.wd AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, CAST(ni AS DOUBLE) / (na.nw + nb.nw - ni) AS jaccard
      |FROM inter JOIN n na ON d1 = na.doc_id JOIN n nb ON d2 = nb.doc_id
      |ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin

  /** Benchmark decontamination — the eval-leakage check every training
    * pipeline runs before a model ever sees the corpus: for a held-out
    * benchmark set (doc_id % 100 == 0 stands in for it), rank corpus
    * documents by how much of a benchmark document's df-capped 3-gram
    * shingle set they cover. CONTAINMENT (|A∩B| / |A_bench|),
    * not Jaccard — a small eval prompt embedded inside a long training
    * document has low Jaccard but high containment, and containment is
    * what leaks. Same bounded shapes as [[ngramJaccard]]: lang
    * blocking, the [[jaccardDfCap]] df cap, shingle-keyed equi-join;
    * the benchmark side is a filter of the same shingle table, so at
    * 100 TB the corpus shuffles once on the shingle key and the
    * benchmark side is comparatively tiny.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = withShingles(
      Tables.t(s, dir, "documents").select($"doc_id", $"lang", $"text"), "words")
      .select($"doc_id", $"lang", $"words")
    val w = docs
      .select($"doc_id", $"lang", explode($"words").as("wd"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang", $"wd")))
      .filter($"df" <= jaccardDfCap)
      .select($"doc_id", $"lang", $"wd")
    val bench = w.filter($"doc_id" % 100 === 0)
    val nb = bench.groupBy($"doc_id".as("bench_doc")).agg(count(lit(1)).as("n_bench"))
    val inter = bench.as("b")
      .join(w.as("c"),
        col("b.wd") === col("c.wd") && col("b.lang") === col("c.lang") &&
          col("b.doc_id") =!= col("c.doc_id"))
      .groupBy(col("b.doc_id").as("bench_doc"), col("c.doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("ni"))
    // top-20 by containment (a real run thresholds AND reports the top
    // of the distribution; the fixture's random text makes any fixed
    // threshold trivially empty, and an always-populated result is the
    // stronger differential gate)
    inter.join(nb, Seq("bench_doc"))
      .select($"bench_doc", $"corpus_doc", $"ni",
        ($"ni".cast("double") / $"n_bench").as("containment"))
      .orderBy($"containment".desc, $"bench_doc", $"corpus_doc")
      .limit(20)
  }

  private val contaminationSql =
    s"""WITH w0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |docs AS (SELECT doc_id, lang,
       |  list_distinct([array_to_string(ws[i:i+2], ' ')
       |                 FOR i IN generate_series(1, len(ws) - 2)]) AS words
       |FROM w0),
       |w_all AS (SELECT doc_id, lang, unnest(words) AS wd FROM docs),
       |w AS (SELECT doc_id, lang, wd FROM (
       |  SELECT doc_id, lang, wd, COUNT(*) OVER (PARTITION BY lang, wd) AS df
       |  FROM w_all) t WHERE df <= $jaccardDfCap),
       |bench AS (SELECT doc_id, lang, wd FROM w WHERE doc_id % 100 = 0),
       |nb AS (SELECT doc_id AS bench_doc, COUNT(*) AS n_bench FROM bench GROUP BY 1),
       |inter AS (
       |  SELECT b.doc_id AS bench_doc, c.doc_id AS corpus_doc, COUNT(*) AS ni
       |  FROM bench b JOIN w c
       |    ON b.wd = c.wd AND b.lang = c.lang AND b.doc_id <> c.doc_id
       |  GROUP BY 1, 2)
       |SELECT bench_doc, corpus_doc, ni,
       |  CAST(ni AS DOUBLE) / n_bench AS containment
       |FROM inter JOIN nb USING (bench_doc)
       |ORDER BY containment DESC, bench_doc, corpus_doc LIMIT 20""".stripMargin

  /** Bloom sizing for [[bloomDecontamination]]. Estimated-items is a
    * generous ceiling on the distinct benchmark shingle count at gate
    * scale (sf0.1 ships ~50 benchmark docs ≈ tens of thousands of
    * shingles); numBits ≈ 40 bits per estimated item drives the
    * per-probe false-positive rate below ~1e-9, so even a document
    * probing hundreds of shingles has a vanishing false-flag
    * probability. At deployment, size from the measured distinct
    * benchmark shingle count: bits ≈ n·ln(1/fpp)/ln(2)² with fpp chosen
    * so fpp × (shingles per document) stays ≪ the tolerable false-flag
    * rate. The filter itself stays kilobytes-to-megabytes — broadcast
    * cost is trivial next to one corpus scan.
    */
  private val bloomEstItems = 100000L
  private val bloomNumBits = 4000000L

  /** Bloom-filter benchmark decontamination — the 100 TB shape of
    * [[contamination]]. The exact shingle-join decontamination pass
    * shuffles the full corpus on the shingle key; this one never
    * shuffles the corpus at all: the (small) benchmark side is folded
    * into a Bloom filter via Spark's own sketch aggregate
    * (`BloomFilterAggregate`, the machinery behind runtime row-level
    * filtering), planned as a scalar subquery so the built filter is
    * broadcast as a literal to every probe site, and each corpus
    * document is flagged map-side if ANY of its shingles might be in
    * the benchmark set. Bloom filters have no false negatives, so every
    * truly-contaminated document is flagged; false positives cost only
    * wasted re-checks of clean documents (the gate bounds them at 0.5%
    * of corpus docs + 1).
    *
    * The gate row is differential where the engines can agree and
    * property-based where only this engine can look: exact counts
    * (benchmark shingle vocabulary, exactly-contaminated docs) check
    * value-for-value against DuckDB, while the Bloom-dependent facts —
    * zero false negatives, bounded false-positive excess — are computed
    * AGAINST the exact join inside the query and must come out true.
    */
  def bloomDecontamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val sh = withShingles(
      Tables.t(s, dir, "documents").select($"doc_id", $"lang", $"text"), "words")
      .select($"doc_id", explode($"words").as("wd"), $"lang")
      .select($"doc_id", concat($"lang", lit("|"), $"wd").as("sh"))
      .withColumn("h", xxhash64($"sh"))
    sh.filter($"doc_id" % 100 === 0).createOrReplaceTempView("graft_bloom_bench")
    sh.filter($"doc_id" % 100 =!= 0).createOrReplaceTempView("graft_bloom_corpus")
    s.sql(
      s"""WITH bf AS (
         |  SELECT bloom_agg(h, $bloomEstItems, $bloomNumBits) AS filter
         |  FROM graft_bloom_bench),
         |flagged AS (
         |  SELECT doc_id,
         |    max(CASE WHEN bloom_contains((SELECT filter FROM bf), h)
         |        THEN 1 ELSE 0 END) AS hit
         |  FROM graft_bloom_corpus GROUP BY doc_id),
         |exact AS (
         |  SELECT DISTINCT c.doc_id FROM graft_bloom_corpus c
         |  WHERE EXISTS (SELECT 1 FROM graft_bloom_bench b WHERE b.sh = c.sh))
         |SELECT
         |  (SELECT COUNT(DISTINCT sh) FROM graft_bloom_bench) AS n_bench_shingles,
         |  (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM exact e JOIN flagged f
         |     ON e.doc_id = f.doc_id AND f.hit = 0) = 0 AS no_false_negatives,
         |  (SELECT COUNT(*) FROM flagged WHERE hit = 1)
         |    - (SELECT COUNT(*) FROM exact)
         |    <= (SELECT COUNT(*) FROM flagged) DIV 200 + 1 AS fp_rate_ok
         |""".stripMargin)
  }

  /** Library API for [[bloomDecontamination]]'s production half.
    *
    * [[benchmarkBloom]] folds a benchmark frame's (lang|shingle) set
    * into one serialized Bloom filter — the single driver-side collect
    * is ONE bounded binary (the filter, kB–MB for any real eval suite),
    * the same control-flow-not-data budget as the BPE argmax.
    * [[bloomClean]] then drops every corpus document with a possible
    * shingle hit entirely map-side: the filter rides along as a
    * literal, flags roll up per doc with map-side combine, and the
    * corpus is never shuffled on content.
    */
  /** @param estItems expected distinct (lang|shingle) count of the
    *   benchmark — size from a measured `COUNT(DISTINCT …)` at
    *   deployment; the default is the gate-scale ceiling.
    * @param numBits filter size in bits; ≈ estItems·ln(1/fpp)/ln(2)²
    *   for a target per-probe fpp (the default is ~40 bits/item,
    *   fpp < 1e-9 at the default estItems).
    */
  def benchmarkBloom(
      bench: DataFrame,
      estItems: Long = bloomEstItems,
      numBits: Long = bloomNumBits): Array[Byte] = {
    val s = bench.sparkSession
    graft.functions.GraftExtensions.register(s)
    withShingles(bench.select(col("doc_id"), col("lang"), col("text")), "words")
      .select(explode(col("words")).as("wd"), col("lang"))
      .select(xxhash64(concat(col("lang"), lit("|"), col("wd"))).as("h"))
      .createOrReplaceTempView("graft_bloom_build")
    val f = s.sql(s"SELECT bloom_agg(h, $estItems, $numBits) AS f FROM graft_bloom_build")
      .head().getAs[Array[Byte]](0)
    // bloom_agg over ZERO rows yields SQL NULL; passing that on would
    // make bloom_contains return null, the flag roll-up drop every
    // row, and cleaning silently become a no-op. Fail loudly instead.
    require(f != null,
      "benchmarkBloom: benchmark frame produced no shingles (empty or " +
        "all-short texts) — refusing to build an empty filter")
    f
  }

  /** Remove every document from `corpus` whose shingles might overlap
    * the benchmark set captured in `bloom` (see [[benchmarkBloom]]).
    * No false negatives: every truly-contaminated document is dropped;
    * false positives cost a vanishing fraction of clean docs (sizing
    * note at [[bloomEstItems]]).
    */
  def bloomClean(corpus: DataFrame, bloom: Array[Byte]): DataFrame = {
    require(bloom != null && bloom.nonEmpty,
      "bloomClean: null/empty filter — build one with benchmarkBloom " +
        "(which rejects empty benchmarks) rather than passing null through")
    val s = corpus.sparkSession
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val flagged = withShingles(corpus.select($"doc_id", $"lang", $"text"), "words")
      .select($"doc_id", explode($"words").as("wd"), $"lang")
      .select($"doc_id",
        call_function("bloom_contains", lit(bloom),
          xxhash64(concat($"lang", lit("|"), $"wd"))).as("hit"))
      .groupBy($"doc_id").agg(max($"hit").as("hit"))
      .filter($"hit")
      .select($"doc_id")
    corpus.join(flagged, Seq("doc_id"), "left_anti")
  }

  private val bloomDecontaminationSql =
    s"""WITH w0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |docs AS (SELECT doc_id, lang,
       |  list_distinct([array_to_string(ws[i:i+2], ' ')
       |                 FOR i IN generate_series(1, len(ws) - 2)]) AS words
       |FROM w0),
       |sh AS (SELECT doc_id, lang || '|' || wd AS sh
       |       FROM (SELECT doc_id, lang, unnest(words) AS wd FROM docs) t),
       |bench AS (SELECT * FROM sh WHERE doc_id % 100 = 0),
       |corpus AS (SELECT * FROM sh WHERE doc_id % 100 <> 0),
       |exact AS (SELECT DISTINCT c.doc_id FROM corpus c
       |          WHERE EXISTS (SELECT 1 FROM bench b WHERE b.sh = c.sh))
       |SELECT
       |  (SELECT COUNT(DISTINCT sh) FROM bench) AS n_bench_shingles,
       |  (SELECT COUNT(*) FROM exact) AS n_exact,
       |  TRUE AS no_false_negatives,
       |  TRUE AS fp_rate_ok""".stripMargin

  /** Embedding-cosine near-dup: top-20 candidate pairs by bridged
    * cosine, candidates = same label AND same 6-bit sign bucket (coarse
    * quantization). The bucket join is what bounds pairs at scale —
    * N²/(labels·2^bits) instead of N² — and high-cosine pairs
    * concentrate in the same sign bucket, so candidates cover the true
    * near-dups. Norms precomputed per row, one dot fold per pair.
    */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"label",
        Similarity.signBucket($"embedding", 6).as("bucket"),
        Similarity.quantize1e4($"embedding").as("xq"))
      .withColumn("n2", Similarity.dot64($"xq", $"xq"))
    val pairs = e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        Similarity.cosineFromDots(
          Similarity.dot64(col("a.xq"), col("b.xq")),
          col("a.n2"), col("b.n2")).as("cos"))
    pairs.orderBy($"cos".desc, $"v1", $"v2").limit(20)
  }

  private val embeddingNearDupSql = {
    val bucket = (1 to 6).map { i =>
      s"(CASE WHEN embedding[$i] > 0 THEN ${1L << (i - 1)} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH eb AS (SELECT vec_id, label, embedding, CAST($bucket AS BIGINT) AS bucket FROM embeddings),
       |e AS (SELECT vec_id, label, bucket, generate_subscripts(embedding, 1) AS i,
       |      unnest(embedding) AS x FROM eb),
       |q AS (SELECT vec_id, label, bucket, i,
       |      CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |pairs AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON a.i = b.i AND a.label = b.label AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT v1, v2,
       |  CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |FROM pairs JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id
       |ORDER BY cos DESC, v1, v2 LIMIT 20""".stripMargin
  }

  /** Streaming-ingest LSH dedup, batch twin (gate-checkable form of the
    * north-star "dedup documents as they arrive" shape): a micro-batch
    * of arriving docs (doc_id % 20 == 0 stands in for the batch) is
    * banded map-side and joined stream-static against the accumulated
    * corpus band table; output = per new doc, every corpus near-dup
    * candidate with the band-collision count (exact verification —
    * jaccard/simhash rescore — composes downstream). The STREAMING
    * variant runs the identical [[bandsForDocs]] on a readStream
    * DataFrame (map-side-only column work, proven batch/stream
    * equivalent in StreamOpsSpec) against the same static corpus table.
    *
    * At 100 TB: the corpus band table is the precomputed index
    * (narrow (band, key, doc_id) rows, bucketable by key); each
    * micro-batch shuffles only its own bands — the corpus never
    * re-shuffles. Here the corpus bands are computed once and persisted,
    * and the batch side is a FILTER of that cached table (banding is
    * per-row, so filter-after-band ≡ band-after-filter), so the seeded-digest
    * signature pass runs once, not twice.
    */
  def streamLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = bandsDf(s, dir).persistScoped()
    val batch = corpus.filter($"doc_id" % 20 === 0)
    batch.as("n")
      .join(corpus.as("c"),
        col("n.band") === col("c.band") && col("n.key") === col("c.key") &&
          col("n.doc_id") =!= col("c.doc_id"))
      .groupBy(col("n.doc_id").as("new_doc"), col("c.doc_id").as("dup_of"))
      // count(*) ≡ COUNT(DISTINCT band): one band-table row per
      // (doc, band) + band-equality join (see minhashLsh); oracle keeps
      // the DISTINCT formulation as the independent check
      .agg(count(lit(1)).as("n_bands"))
      .orderBy($"new_doc", $"dup_of")
  }

  private val streamLshSql =
    s"""WITH $bandsCteSql
       |SELECT n.doc_id AS new_doc, c.doc_id AS dup_of,
       |  COUNT(DISTINCT n.band) AS n_bands
       |FROM bands n JOIN bands c
       |  ON n.band = c.band AND n.key = c.key AND n.doc_id <> c.doc_id
       |WHERE n.doc_id % 20 = 0
       |GROUP BY 1, 2 ORDER BY new_doc, dup_of""".stripMargin

  /** Max edit distance for [[editDistancePairs]]. */
  val editDistCap = 20

  /** Length ceiling for edit-distance candidacy. The threshold DP's
    * early exit only helps for DISSIMILAR strings — a matching pair
    * stays O(n·m), so two near-identical 45k-char docs cost ~2e9 cells
    * each (the long-doc ScaleUp probe measured 0.67 s → 24 s). The
    * standard strategy is length-partitioned dedup: character-level
    * edit distance below the ceiling, shingle/minhash similarity above
    * it (measured length-robust on the same probe — they're linear in
    * doc length).
    */
  val editDistMaxLen = 2000

  /** Fuzzy duplicate pairs by EXACT Levenshtein distance, prefix-
    * blocked: candidates share their first three words (near-identical
    * docs — OCR noise, small in-place edits — keep their prefix; docs
    * differing earlier are beyond any small edit budget anyway, the
    * standard recall/cost trade of blocked fuzzy matching). The block
    * key is the join key, so the plan is an equi-join — never all
    * pairs — and `levenshtein` is a codegen'd builtin on both engines
    * with the identical classic definition. At 100 TB the block key
    * bounds the shuffle exactly like the LSH band key; the O(n·m)
    * per-pair DP cost stays inside each block.
    */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame =
    editPairsRaw(s, dir).orderBy(col("d1"), col("d2"))

  private def editPairsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.t(s, dir, "documents")
      .filter(length($"text") <= editDistMaxLen)
      .select($"doc_id", $"text",
        array_join(slice(split($"text", " "), 1, 3), " ").as("blk"))
    // three measured fixes (sf0.1, local[32]): cheap guards (id order,
    // the |len(a)−len(b)| ≤ cap lower bound) ahead of the DP; the DP is
    // the THRESHOLD variant — banded O(n·k) not O(n·m), -1 past the
    // cap; and the probe side repartitions on the block key with an
    // EXPLICIT partition count (AQE coalesces a bare repartition of
    // this tiny table back to one task, serializing every DP call) so
    // the per-pair DP parallelizes. 6.6 s unbanded single-task →
    // 3.0 s banded → 0.5 s banded+explicit repartition. The block key
    // as shuffle key is also the 100 TB shape, like every dedup block.
    val shufflePartitions = s.conf.get("spark.sql.shuffle.partitions").toInt
    d.repartition(shufflePartitions, col("blk")).as("a")
      .join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= editDistCap)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.text"), col("b.text"), editDistCap).cast("long").as("dist"))
      .filter($"dist" >= 0)
  }

  /** Transposition-aware fuzzy pairs — the [[editDistancePairs]]
    * blocking with BOTH metrics: plain Levenshtein and the native
    * [[graft.functions.DamerauLevenshtein]] codegen expression
    * (unrestricted Lowrance–Wagner, the variant DuckDB's
    * `damerau_levenshtein` implements — verified on the CA→ABC=2
    * discriminator). Word-swapped / fat-fingered near-dups score one
    * edit cheaper under DL, so `gain = lev − dl > 0` flags exactly the
    * transposition family; admission runs on the DL score. Same block
    * key = shuffle key shape as every dedup block; the un-thresholded
    * DP here is bounded by the [[editDistMaxLen]] guard and the block
    * sizes (the banded-threshold variant remains the >cap fast path).
    */
  /** Length ceiling for the transposition scorer: DL has no cheap
    * banded variant (the Lowrance–Wagner transposition lookup reaches
    * arbitrarily far back), so its O(n·m) DP is confined to the short
    * fields transpositions actually afflict — titles, names, ids.
    * Long-text near-dup stays with the banded [[editDistancePairs]] /
    * LSH family (the [[lengthRoutedPairs]] routing principle). The 10×
    * hub fixture is what forced the ceiling: unbounded it measured 6×
    * at 10× data; with ceiling + the ≤2·cap banded-Levenshtein
    * PREFILTER (lev ≤ 2·dl always, so no dl ≤ cap pair is lost) the
    * DP only ever runs on short, already-near pairs.
    */
  val damerauMaxLen = 400

  def damerauPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val d = Tables.t(s, dir, "documents")
      .filter(length($"text") <= damerauMaxLen)
      .select($"doc_id", $"text",
        array_join(slice(split($"text", " "), 1, 3), " ").as("blk"))
    val shufflePartitions = s.conf.get("spark.sql.shuffle.partitions").toInt
    d.repartition(shufflePartitions, col("blk")).as("a")
      .join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= editDistCap)
      // banded threshold Levenshtein rejects far pairs in O(n·2cap)
      // BEFORE the quadratic DL DP; lev ≤ 2·dl means the band keeps
      // every pair the dl ≤ cap admission could accept
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.text").as("ta"), col("b.text").as("tb"),
        levenshtein(col("a.text"), col("b.text"), 2 * editDistCap)
          .cast("long").as("lev"))
      .filter($"lev" >= 0)
      .select($"d1", $"d2", $"lev",
        call_function("damerau_lev", $"ta", $"tb").cast("long").as("dl"))
      .filter($"dl" <= editDistCap)
      .select($"d1", $"d2", $"lev", $"dl", ($"lev" - $"dl").as("gain"))
      .orderBy($"d1", $"d2")
  }

  private val damerauPairsSql =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    array_to_string(string_split(text, ' ')[1:3], ' ') AS blk
       |  FROM documents WHERE len(text) <= $damerauMaxLen)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |  CAST(damerau_levenshtein(a.text, b.text) AS BIGINT) AS dl,
       |  CAST(levenshtein(a.text, b.text) - damerau_levenshtein(a.text, b.text)
       |    AS BIGINT) AS gain
       |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  AND abs(len(a.text) - len(b.text)) <= $editDistCap
       |WHERE levenshtein(a.text, b.text) <= ${2 * editDistCap}
       |  AND damerau_levenshtein(a.text, b.text) <= $editDistCap
       |ORDER BY d1, d2""".stripMargin

  private val editDistancePairsSql =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    array_to_string(string_split(text, ' ')[1:3], ' ') AS blk
       |  FROM documents WHERE len(text) <= $editDistMaxLen)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
       |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.text, b.text) <= $editDistCap
       |ORDER BY d1, d2""".stripMargin

  /** Length-routed fuzzy dedup — the DISPATCHER that makes the
    * `editDistMaxLen` ceiling a first-class contract instead of a
    * silent exclusion: one operator, one output schema
    * (d1, d2, method, score), covering every document.
    *
    *  - method `editdist` — both docs ≤ [[editDistMaxLen]] chars:
    *    the prefix-blocked banded-Levenshtein path
    *    ([[editDistancePairs]]); score = exact edit distance ≤
    *    [[editDistCap]]. Character-exact, but O(n·m) per MATCHING
    *    pair, so quadratic in doc length (the long-doc probe measured
    *    36× on 45k-char outliers).
    *  - method `minhash` — at least one doc longer: the LSH band
    *    table ([[bandsForDocs]]), LINEAR in doc length; score = #
    *    colliding bands. The band computation carries each doc's
    *    length so routing is a residual predicate on the band
    *    self-join — no extra join against a length table, no second
    *    shuffle.
    *
    * The self-join keeps `a` as the long side: a short↔long pair
    * appears exactly once (only the long doc can be `a`), a
    * long↔long pair is deduped by id order — so a plain count is the
    * per-pair band-collision count, no distinct aggregate. At 100 TB
    * both branches shuffle only on their block key (prefix block /
    * band key); the union is branch-disjoint by construction.
    */
  def lengthRoutedPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edit = editPairsRaw(s, dir)
      .select($"d1", $"d2", lit("editdist").as("method"), $"dist".as("score"))
    val bands = bandsForDocs(Tables.t(s, dir, "documents")
      .select($"doc_id", $"text", length($"text").as("len"))).persistScoped()
    val longPairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("a.len") > editDistMaxLen &&
          (col("b.len") <= editDistMaxLen || col("a.doc_id") < col("b.doc_id")))
      .groupBy(
        least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .agg(count(lit(1)).as("score"))
      .select($"d1", $"d2", lit("minhash").as("method"), $"score")
    edit.unionByName(longPairs).orderBy($"d1", $"d2", $"method")
  }

  private val lengthRoutedPairsSql =
    s"""WITH $bandsCteSql,
       |lens AS (SELECT doc_id, len(text) AS len FROM documents),
       |d AS (
       |  SELECT doc_id, text,
       |    array_to_string(string_split(text, ' ')[1:3], ' ') AS blk
       |  FROM documents WHERE len(text) <= $editDistMaxLen),
       |edit AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, 'editdist' AS method,
       |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS score
       |  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  WHERE levenshtein(a.text, b.text) <= $editDistCap),
       |longp AS (
       |  SELECT least(a.doc_id, b.doc_id) AS d1,
       |    greatest(a.doc_id, b.doc_id) AS d2, 'minhash' AS method,
       |    COUNT(DISTINCT a.band) AS score
       |  FROM bands a
       |    JOIN lens la ON a.doc_id = la.doc_id
       |    JOIN bands b ON a.band = b.band AND a.key = b.key
       |      AND a.doc_id <> b.doc_id
       |    JOIN lens lb ON b.doc_id = lb.doc_id
       |  WHERE la.len > $editDistMaxLen
       |    AND (lb.len <= $editDistMaxLen OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2)
       |SELECT * FROM edit UNION ALL SELECT * FROM longp
       |ORDER BY d1, d2, method""".stripMargin

  /** Label-propagation rounds for [[dedupClusters]]. Fixed (not
    * run-to-fixpoint) so the oracle SQL can mirror the exact plan;
    * round r resolves components of diameter ≤ r, and near-dup
    * clusters are near-cliques (diameter ≲ 2), so 3 rounds is already
    * conservative. For chain-shaped graphs (diameter ≫ 3) use
    * [[connectedComponents]] — the iterate-until-stable variant with a
    * convergence counter and per-round localCheckpoint; same per-round
    * shape (one shuffle keyed by doc), data-dependent round count.
    */
  val ccRounds = 3

  /** Dedup cluster resolution — the stage AFTER candidate generation
    * that every real dedup pipeline needs: connected components over
    * the MinHash-LSH candidate-pair graph, so transitive near-dups
    * ("A≈B, B≈C ⇒ {A,B,C}") collapse to one canonical id (the
    * component's min doc_id). Min-label propagation: each round every
    * doc takes the min of its own label and its neighbors' labels —
    * one (edge ⋈ label) shuffle per round, labels never widen, fully
    * deterministic.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersRounds(s, dir, ccRounds)

  /** [[dedupClusters]] with an explicit round count — the spec runs one
    * EXTRA round and asserts the labels are already a fixpoint on the
    * fixture, making the fixed-round truncation an audited property
    * rather than a silent assumption.
    */
  private[graft] def dedupClustersRounds(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    import s.implicits._
    val pairs = bandPairs(bandsDf(s, dir).persistScoped()).toDF("d1", "d2")
    minLabelRounds(pairs,
      Tables.t(s, dir, "documents").select($"doc_id", $"doc_id".as("label")), rounds)
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"label")))
      .select($"doc_id", $"label".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** General-graph connected components — the data-dependent-round
    * variant the fixed-round [[dedupClusters]] docs promise: min-label
    * propagation iterated UNTIL STABLE, with a per-round convergence
    * counter instead of a hardcoded round count, so chain-shaped
    * duplicate graphs (diameter ≫ 3) still resolve. Each round is the
    * same single (edge ⋈ label) shuffle as [[dedupClustersRounds]];
    * the per-round lineage cut truncates the lineage that would
    * otherwise re-execute 2^rounds times AND makes the changed-label
    * count a cheap scan of materialized partitions. Converges in ≤
    * diameter rounds (min labels only ever shrink). Rounds, cuts,
    * `checkpointDir` and the `maxRounds` guard follow
    * [[graft.ops.untilStable]].
    *
    * At 100 TB: per-round cost is one shuffle keyed by node id over the
    * edge table. The remaining documented upgrade is
    * large-star/small-star for O(log diameter) rounds — same per-round
    * plan shape ([[connectedComponentsStar]]).
    *
    * Input: `nodes` = (id: long), `edges` = (src: long, dst: long),
    * undirected (symmetrized internally). Output: (id, label) with
    * label = min node id of the component.
    */
  def connectedComponents(
      s: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val sym = edges.select($"src", $"dst")
      .unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .cutScoped()
    val labels0 = nodes.select($"id", $"id".as("label")).cutScoped()
    untilStable("connectedComponents", maxRounds, checkpointDir)(labels0) {
      (labels, cut) =>
        val nbrMin = sym
          .join(labels.select($"id".as("nid"), $"label".as("nlabel")), $"dst" === $"nid")
          .groupBy($"src").agg(min($"nlabel").as("nmin"))
        val next = cut(labels
          .join(nbrMin, labels("id") === nbrMin("src"), "left")
          .select(labels("id"), labels("label").as("old_label"),
            least(labels("label"), coalesce($"nmin", labels("label"))).as("label")))
        val changed = next.filter($"label" < $"old_label").count()
        (next.select($"id", $"label"), changed == 0, s"$changed labels still moving")
    }._1
  }

  /** Alternating large-star/small-star connected components — the
    * O(log diameter) round bound the label-propagation
    * [[connectedComponents]] docs promise (public MapReduce-CC
    * algorithm family, cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14; re-derived on DataFrames).
    * Label propagation moves a component's min ONE hop per round — a
    * diameter-d chain costs d shuffles; the star operations contract
    * paths multiplicatively, so rounds grow with log d:
    *
    *  - large-star: each node u rewires its LARGER neighbors to
    *    m = min(N(u) ∪ {u}): emit (v, m) for v ∈ N(u), v > u. Output
    *    is canonical hi→lo (m < v always).
    *  - small-star: on canonical hi→lo edges, each hi-node u rewires
    *    its lo-neighbors and itself to m = min of its lo set: emit
    *    (v, m) for v ∈ N⁻(u), v ≠ m, plus (u, m).
    *
    * Each half-round is one groupBy(node) + one equi-join back — the
    * same shuffle shape and key as a label round, just two of them.
    * Fixpoint: the edge set is pure stars (every edge = node →
    * component min) and stops changing; checked by count equality +
    * one `exceptAll` over the checkpoint-materialized edge table.
    * Labels read straight off the final stars; isolated nodes label
    * themselves. Returns the labels and the round count (the spec
    * asserts the logarithmic bound instead of taking it on faith).
    * Rounds, cuts, `checkpointDir` and the `maxRounds` guard follow
    * [[graft.ops.untilStable]].
    */
  def connectedComponentsStar(
      s: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 30,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import s.implicits._
    val e0 = edges
      .select(greatest($"src", $"dst").as("hi"), least($"src", $"dst").as("lo"))
      .filter($"hi" =!= $"lo")
      .distinct()
      .cutScoped()
    val n0 = e0.count()
    val ((e, _), rounds) = untilStable(
        "connectedComponentsStar", maxRounds, checkpointDir)((e0, n0), n0 == 0) {
      case ((e, n), cut) =>
        val sym = e.select($"hi".as("u"), $"lo".as("v"))
          .unionByName(e.select($"lo".as("u"), $"hi".as("v")))
        val lsMin = sym.groupBy($"u").agg(min($"v").as("mv"))
          .select($"u", least($"u", $"mv").as("m"))
        val ls = sym.join(lsMin, "u")
          .filter($"v" > $"u")
          .select($"v".as("hi"), $"m".as("lo"))
          .distinct()
        val ssRows = ls.join(ls.groupBy($"hi").agg(min($"lo").as("m")), "hi")
        val next = cut(
          ssRows.filter($"lo" =!= $"m").select($"lo".as("hi"), $"m".as("lo"))
            .unionByName(ssRows.select($"hi", $"m".as("lo")))
            .distinct())
        val nn = next.count()
        ((next, nn), nn == n && next.exceptAll(e).isEmpty, s"$nn star edges")
    }
    val labels = nodes
      .join(e.groupBy($"hi").agg(min($"lo").as("star_lo")),
        nodes("id") === $"hi", "left")
      .select(nodes("id"), coalesce($"star_lo", nodes("id")).as("label"))
    (labels, rounds)
  }

  /** Candidate pairs of a band table: the distinct (src < dst) doc
    * pairs sharing at least one (band, key) bucket. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .distinct()

  /** `rounds` fixed min-label rounds over the undirected (d1, d2)
    * `pairs` from `labels0` (doc_id, label), as the gate oracles unroll
    * them. Each round reads the previous labels twice, so the uncut
    * lineage re-executes 2^rounds times — cheap at 3 rounds over the
    * persisted pairs (measured faster than per-round cache builds); a
    * many-round run cuts each round ([[connectedComponents]]). */
  private def minLabelRounds(pairs: DataFrame, labels0: DataFrame, rounds: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    val p = pairs.persistScoped()
    val edges = p.unionByName(p.select($"d2".as("d1"), $"d1".as("d2")))
    (1 to rounds).foldLeft(labels0) { (labels, _) =>
      val nbrMin = edges
        .join(labels.select($"doc_id".as("nid"), $"label".as("nlabel")), $"d2" === $"nid")
        .groupBy($"d1").agg(min($"nlabel").as("nmin"))
      labels.join(nbrMin, labels("doc_id") === nbrMin("d1"), "left")
        .select(labels("doc_id"), least($"label", coalesce($"nmin", $"label")).as("label"))
    }
  }

  /** (nodes, candidate-pair edges) of the LSH band graph — shared by
    * both CC catalog rows.
    */
  private[ops] def lshPairGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val pairs = bandPairs(bandsDf(s, dir).persistScoped())
    val nodes = Tables.t(s, dir, "documents").select($"doc_id".as("id"))
    (nodes, pairs)
  }

  /** Catalog query for [[connectedComponents]]: exact components of the
    * LSH candidate-pair graph, labels = component-min doc_id. The
    * oracle is a genuinely independent formulation — a recursive-CTE
    * transitive closure with a per-node min, versus the Spark side's
    * iterate-until-stable label propagation — so agreement checks the
    * SEMANTICS (true components), not a replayed plan.
    */
  def ccClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nodes, pairs) = lshPairGraph(s, dir)
    connectedComponents(s, nodes, pairs)
      .select($"id".as("doc_id"), $"label")
      .orderBy($"doc_id")
  }

  /** [[ccClusters]] via the star-contraction algorithm — same
    * semantics, logarithmic instead of linear round count. Oracled by
    * [[ccStarSql]], the star rounds unrolled in SQL — distinct from
    * `q_dedup_cc`'s recursive-closure oracle, so the two catalog rows
    * check the two ALGORITHMS independently, not one fixture result
    * twice.
    */
  def ccClustersStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nodes, pairs) = lshPairGraph(s, dir)
    connectedComponentsStar(s, nodes, pairs)._1
      .select($"id".as("doc_id"), $"label")
      .orderBy($"doc_id")
  }

  /** Frame-based near-dup FILTER — the dedup family as a pipeline
    * stage: resolve MinHash-LSH clusters on the in-flight frame
    * (audited iterate-until-stable components, same machinery as
    * `q_dedup_cc`) and keep exactly one document per family — the
    * min-id canonical by default, or the LONGEST copy
    * (`keepBestByChars`, the [[keepBest]] policy) when the best crawl
    * of a page should survive instead of the first-seen one. Schema
    * passes through untouched (left-semi on the kept ids).
    *
    * Scale shape: banding is per-row map work; candidates come from
    * the band join (never all-pairs); the component loop is the
    * lineage-cut label propagation. The semi-join adds one doc-key
    * exchange — the minimum any corpus-wide keep-set application
    * pays.
    */
  def nearDupFilterOn(
      docs: DataFrame, keepBestByChars: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairs = bandPairs(bandsForDocs(docs.select($"doc_id", $"text")).persistScoped())
    keepOnePerFamily(docs, pairs, keepBestByChars)
  }

  /** The keep-one-per-family tail of [[nearDupFilterOn]] and
    * [[exactDedupFilterOn]]: connected components over the candidate
    * `pairs` (src, dst), then one surviving doc per component — the
    * min-id canonical, or the longest text with `keepBestByChars` —
    * applied to `docs` as a left-semi join (schema passes through).
    */
  private def keepOnePerFamily(docs: DataFrame, pairs: DataFrame,
      keepBestByChars: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val labels = connectedComponents(
      s, docs.select($"doc_id".as("id")), pairs)
    val kept =
      if (!keepBestByChars)
        labels.filter($"id" === $"label").select($"id".as("doc_id"))
      else
        labels
          .join(docs.select($"doc_id",
            length($"text").cast("long").as("__len")), $"id" === $"doc_id")
          .groupBy($"label")
          .agg(min(struct((-$"__len").as("neg"), $"doc_id".as("kid"))).as("best"))
          .select($"best.kid".as("doc_id"))
    docs.join(kept, Seq("doc_id"), "left_semi")
  }

  /** Leakage-safe split by DISCOVERED duplicate structure — the
    * composition `q_feat_group_split` can't express: its group key
    * must be a declared column, but the groups that actually leak are
    * the near-duplicate families LSH finds. Here the split key is the
    * dup-cluster REPRESENTATIVE (component-min doc_id from the band
    * graph), hashed with the same engine-portable md5-prefix cut as
    * `q_feat_split` — so every near-duplicate family lands wholly in
    * one of train/val/test and eval contamination via paraphrase
    * copies is structurally impossible. Singleton docs are their own
    * cluster (label = own id) and split independently.
    *
    * Scale shape: the cluster labels come from the audited
    * iterate-until-stable CC (lineage-cut, logarithmic star variant
    * available); the split assignment itself is a pure map over the
    * |docs|-row label frame — no additional shuffle beyond what the
    * clustering already paid, and appending docs re-splits only
    * clusters whose membership changed.
    */
  def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nodes, pairs) = lshPairGraph(s, dir)
    val bucket = substring(md5($"label".cast("string")), 1, 2)
    connectedComponents(s, nodes, pairs)
      .select($"id".as("doc_id"), $"label",
        FeatureOps.splitFor(bucket).as("split"))
      .orderBy($"doc_id")
  }

  private val clusterSplitSql = {
    val bucket = "substr(md5(CAST(label AS VARCHAR)), 1, 2)"
    s"""WITH RECURSIVE $bandsCteSql,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, p.d2 FROM reach r JOIN pairs p ON r.b = p.d1),
       |lab AS (SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a)
       |SELECT doc_id, label,
       |  ${FeatureOps.splitCaseSql(bucket)} AS split
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  private val ccClustersSql =
    s"""WITH RECURSIVE $bandsCteSql,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, p.d2 FROM reach r JOIN pairs p ON r.b = p.d1)
       |SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a
       |ORDER BY doc_id""".stripMargin

  /** Rounds to unroll in [[ccStarSql]]. The Spark side iterates to an
    * audited fixpoint; on pure-star edge sets both half-rounds are
    * identity (large-star re-emits each star edge because every
    * non-center neighbor is larger than the center; small-star keeps
    * (hi, min lo) = the star edge itself), so any unroll length ≥ the
    * fixture's rounds-to-stability replays the converged stars
    * exactly. LSH duplicate clusters are near-cliques (diameter ≤ 2 —
    * every member shares a band key with the rest), which contract in
    * 2 rounds; 6 leaves a 3× margin and stays a cheap chain for DuckDB
    * at the gate's sf0.01.
    */
  val ccStarOracleRounds = 6

  /** Independent oracle for [[ccClustersStar]]: the alternating
    * large-star/small-star half-rounds unrolled as their own CTE
    * chain, NOT the recursive-closure oracle [[ccClustersSql]] shares
    * with `q_dedup_cc` — so the gate differentially checks the star
    * ALGORITHM's round structure across engines, not just that the
    * fixture's final clustering agrees.
    */
  private val ccStarSql = {
    val rounds = (1 to ccStarOracleRounds).map { r =>
      // AS MATERIALIZED: every round references the previous one
      // multiple times; DuckDB's default CTE inlining would otherwise
      // expand the chain exponentially (round 6 = hundreds of scans of
      // the base table — observed as an fd-exhaustion error)
      s"""sym$r AS MATERIALIZED (
         |  SELECT hi AS u, lo AS v FROM e${r - 1}
         |  UNION ALL SELECT lo AS u, hi AS v FROM e${r - 1}),
         |lsm$r AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM sym$r GROUP BY u),
         |ls$r AS MATERIALIZED (
         |  SELECT DISTINCT s.v AS hi, l.m AS lo
         |  FROM sym$r s JOIN lsm$r l ON s.u = l.u WHERE s.v > s.u),
         |ssm$r AS MATERIALIZED (SELECT hi, min(lo) AS m FROM ls$r GROUP BY hi),
         |e$r AS MATERIALIZED (
         |  SELECT DISTINCT hi, lo FROM (
         |    SELECT l.lo AS hi, s.m AS lo
         |    FROM ls$r l JOIN ssm$r s ON l.hi = s.hi WHERE l.lo <> s.m
         |    UNION ALL
         |    SELECT hi, m AS lo FROM ssm$r) u)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bandsCteSql,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT greatest(d1, d2) AS hi, least(d1, d2) AS lo
       |  FROM pairs WHERE d1 <> d2),
       |$rounds,
       |stars AS (
       |  SELECT hi, min(lo) AS lab FROM e$ccStarOracleRounds GROUP BY hi)
       |SELECT d.doc_id, coalesce(s.lab, d.doc_id) AS label
       |FROM documents d LEFT JOIN stars s ON d.doc_id = s.hi
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain ending in `l$ccRounds` = (doc_id, label) — the
    * DuckDB twin of the label-propagation loop, used by both the
    * cluster listing and the corpus-apply rollup.
    */
  private val clustersCteSql = {
    val rounds = (1 to ccRounds).map { r =>
      s"""l$r AS (
         |  SELECT l.doc_id, least(l.label, coalesce(m.nmin, l.label)) AS label
         |  FROM l${r - 1} l LEFT JOIN (
         |    SELECT e.d1, min(x.label) AS nmin
         |    FROM edges e JOIN l${r - 1} x ON e.d2 = x.doc_id GROUP BY 1) m
         |  ON l.doc_id = m.d1)""".stripMargin
    }.mkString(",\n")
    s"""$bandsCteSql,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
       |$rounds""".stripMargin
  }

  private val dedupClustersSql =
    s"""WITH $clustersCteSql
       |SELECT doc_id, label AS cluster_id,
       |  COUNT(*) OVER (PARTITION BY label) AS cluster_size
       |FROM l$ccRounds ORDER BY doc_id""".stripMargin

  /** End-to-end dedup APPLICATION — the stage that actually materializes
    * the training corpus: resolve LSH clusters ([[dedupClusters]]),
    * keep each cluster's canonical doc (min doc_id = its label), and
    * roll up per language what survived: doc counts kept/dropped, bytes
    * kept, kept fraction. The kept-fraction is one IEEE division of two
    * exact longs — deterministic cross-engine. At 100 TB this is one
    * (doc ⋈ label) join on the already-partitioned doc key plus a
    * narrow per-lang rollup; the real pipeline would write `kept` rows
    * back out as the deduped corpus (same plan minus the rollup).
    */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cl = dedupClusters(s, dir).select($"doc_id", $"cluster_id")
    val docs = Tables.t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
    docs.join(cl, Seq("doc_id"))
      .withColumn("kept", ($"doc_id" === $"cluster_id").cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"kept").as("n_kept"),
        (count(lit(1)) - sum($"kept")).as("n_dropped"),
        sum($"kept" * $"n_chars").as("chars_kept"),
        (sum($"kept").cast("double") / count(lit(1))).as("pct_kept"))
      .orderBy($"lang")
  }

  private val dedupApplySql =
    s"""WITH $clustersCteSql,
       |j AS (
       |  SELECT d.lang, d.n_chars,
       |    CASE WHEN l.doc_id = l.label THEN 1 ELSE 0 END AS kept
       |  FROM documents d JOIN l$ccRounds l ON d.doc_id = l.doc_id)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped,
       |  CAST(SUM(kept * n_chars) AS BIGINT) AS chars_kept,
       |  CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE) / COUNT(*) AS pct_kept
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  /** Quality-canonical cluster representative — [[dedupApply]] keeps
    * each cluster's min-id doc (cheap, arbitrary); real curation keeps
    * the BEST copy: here the longest document (most complete crawl of
    * the page), doc_id breaking ties. Selection is a single hash
    * aggregation with the struct-min trick — `min(struct(-n_chars,
    * doc_id))` under lexicographic struct order IS argmax-by-quality
    * with a deterministic tiebreak — so there is no per-cluster sort
    * and no window: clusters ⋈ docs (doc-key join), one rollup on the
    * cluster key. Emits only multi-doc clusters (singletons keep
    * themselves by definition). The DuckDB oracle deliberately uses a
    * different formulation (row_number window) as an independent check.
    */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cl = dedupClusters(s, dir).select($"doc_id", $"cluster_id")
    val docs = Tables.t(s, dir, "documents").select($"doc_id", $"n_chars")
    cl.join(docs, Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-$"n_chars").as("neg"), $"doc_id".as("id"))).as("best"))
      .filter($"n_docs" >= 2)
      .select($"cluster_id", $"n_docs",
        $"best.id".as("keep_doc_id"), (-$"best.neg").as("keep_chars"))
      .orderBy($"cluster_id")
  }

  private val keepBestSql =
    s"""WITH $clustersCteSql,
       |ranked AS (
       |  SELECT l.label AS cluster_id, d.doc_id, d.n_chars,
       |    COUNT(*) OVER (PARTITION BY l.label) AS n_docs,
       |    row_number() OVER (PARTITION BY l.label
       |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
       |  FROM l$ccRounds l JOIN documents d ON l.doc_id = d.doc_id)
       |SELECT cluster_id, n_docs, doc_id AS keep_doc_id, n_chars AS keep_chars
       |FROM ranked WHERE rn = 1 AND n_docs >= 2
       |ORDER BY cluster_id""".stripMargin

  /** Incremental ingest dedup — the daily-crawl shape: a NEW batch of
    * documents arrives, the corpus keeps a fingerprint snapshot of
    * everything already ingested, and only batch docs that are (a) not
    * already in the snapshot and (b) unique within the batch (min
    * doc_id keeps) are admitted. Split is derived deterministically
    * from the fixture (doc_id % 7 == 0 is "today's batch", the rest is
    * the snapshot) so the query is self-contained. Plan: fingerprints
    * are one map-side md5 projection on each side; "not already seen"
    * is a LEFT ANTI join on the fingerprint (broadcast when the batch
    * or snapshot is small, shuffle-hash on the fingerprint key at
    * 100 TB — either way no full-corpus rescan of text, only of
    * 16-byte digests); in-batch uniqueness is one fingerprint-keyed
    * rollup riding the SAME key as the anti join. Emits one row per
    * admitted doc (id, lang, in-batch copy count) so the gate hash
    * covers the exact admitted set, not just a tally.
    */
  def incrementalIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", md5($"text").as("fp"))
    val snapshot = docs.filter($"doc_id" % 7 =!= 0).select($"fp").distinct()
    val batch = docs.filter($"doc_id" % 7 === 0)
    batch.join(snapshot, Seq("fp"), "left_anti")
      .groupBy($"fp")
      // struct-min keeps the min-id row's OWN lang — independent
      // min(lang) could pair the kept id with a different duplicate's
      // lang (a (id, lang) combination existing on no document)
      .agg(min(struct($"doc_id", $"lang")).as("keep"),
        count(lit(1)).as("n_batch_copies"))
      .select($"keep.doc_id".as("doc_id"), $"keep.lang".as("lang"),
        $"n_batch_copies")
      .orderBy($"doc_id")
  }

  private val incrementalIngestSql =
    """WITH f AS (SELECT doc_id, lang, md5(text) AS fp FROM documents),
      |snapshot AS (SELECT DISTINCT fp FROM f WHERE doc_id % 7 <> 0),
      |batch AS (SELECT * FROM f WHERE doc_id % 7 = 0)
      |SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
      |  COUNT(*) AS n_batch_copies
      |FROM batch b ANTI JOIN snapshot s ON b.fp = s.fp
      |GROUP BY b.fp ORDER BY doc_id""".stripMargin

  /** EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07 "Scaling Up All
    * Pairs Similarity Search"; Xiao et al., WWW'08 PPJoin): every pair
    * with shingle-set Jaccard ≥ τ, with NO false negatives and no
    * all-pairs scan. The exact complement to the MinHash-LSH screen
    * ([[minhashLsh]]), whose banding misses a true pair with
    * probability (1−s^r)^b — acceptable for throughput dedup, not for
    * a decontamination-grade guarantee.
    *
    * The theorem: order the token universe TOTALLY (here ascending
    * document frequency, ties by token — rarest first) and take each
    * set's prefix of p = |x| − ⌈τ·|x|⌉ + 1 smallest tokens; any pair
    * with J ≥ τ must share a prefix token. So candidates = the prefix
    * self-join, then one exact verification pass.
    *
    * Scale shape: the df rollup and the prefix rank are one shuffle on
    * shingle + a per-doc window (bounded by doc length). The candidate
    * join's volume is Σ df² over PREFIX tokens only — and rarest-first
    * ordering makes prefixes low-df by construction, so the join is
    * skew-resistant exactly where an all-token join (the oracle's
    * brute formulation) blows up on hot shingles. Verification joins
    * the ≤|cands| pairs to per-doc sorted shingle arrays and computes
    * the exact intersection per pair (array_intersect, codegen) — the
    * integer cross-multiply 1000·inter ≥ τmilli·union keeps both
    * engines on the same grid. At 100 TB the cost tracks the TRUE
    * near-dup density, not corpus²; τ is the knob and the length
    * filter (1000·min(|x|,|y|) ≥ τmilli·max) prunes candidates before
    * verification.
    */
  private[graft] def prefixJoinOn(docs: DataFrame, tauMilli: Long): DataFrame =
    prefixJoinPairsOn(docs, tauMilli)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[prefixJoinOn]] without the gate row's total ORDER BY — the form
    * compositions consume (cluster resolution, filters) where a global
    * sort of the pair set is pure waste. */
  private[graft] def prefixJoinPairsOn(docs: DataFrame, tauMilli: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli is Jaccard·1000, must be in [1, 1000]: $tauMilli")
    // ONE persist of the pre-explode (doc_id, shingle-array) frame
    // feeds everything: the token stream (explode — for df and the
    // prefix rank), the doc sizes (size(sh) — a pure map, no count
    // aggregate), and the verify arrays (sort_array(sh) — a pure map,
    // no collect_list). Round 14 measured the former aggregate
    // formulations: re-collecting what explode tore apart cost a full
    // corpus-token exchange, and semi-join-pruning that aggregate to
    // candidate ids cost MORE than it saved at every scale (pair-set
    // materialization + extra exchanges;
    // `tools/bench_exactjoin_r14.json`, 1×/100×, gate + bench=200
    // shapes). Deriving the arrays map-side deletes the verify-stage
    // exchange instead of pruning it: the only
    // corpus-sized exchanges left are the df rollup and the prefix
    // window — both candidate-front-end costs the algorithm needs.
    val base = withShingles(docs.select($"doc_id", $"text"), "sh")
      .select($"doc_id", $"sh").persistScoped()
    val sh = base.select($"doc_id", explode($"sh").as("s")) // distinct by construction
    val sz = base.select($"doc_id", size($"sh").cast("long").as("n"))
    val dfreq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"s")
    // persistScoped: the self-join below references pref TWICE, and an
    // unpersisted plan recomputed the df join + per-doc window for each
    // side (measured at 100×: 164 s → 128 s from the persist alone);
    // candidate volume itself is linear (DuckDB-counted: 732k → 73.2M
    // prefix-token pair volume at 1× → 100×)
    val pref = sh.join(dfreq, Seq("s")).join(sz, Seq("doc_id"))
      .withColumn("rn", row_number().over(wDoc))
      .filter($"rn" <= expr(s"n - ((n * $tauMilli + 999) div 1000) + 1"))
      .select($"doc_id", $"s", $"n", $"rn")
      .persistScoped()
    // Candidate pruning BEFORE any array ships (the verify join is the
    // dominant cost — each surviving pair moves both docs' shingle
    // arrays through two shuffles):
    //  1. length filter inside the join (τ·max ≤ 1000·min);
    //  2. the classic POSITIONAL filter on the globally-FIRST shared
    //     token (PPJoin): let (i, j) be its per-doc ordinals under the
    //     shared (df, s) total order — every other shared token sits
    //     after position i in x AND after j in y, so
    //     overlap ≤ 1 + min(|x|−i, |y|−j); J ≥ τ needs
    //     overlap ≥ τ/(1+τ)·(|x|+|y|), so pairs whose first shared
    //     token sits deep in either ordered list die here, cheaply.
    //     The struct-min over (ia, ib) IS that first token (per-doc rn
    //     follows the same global order), and the groupBy replaces the
    //     former distinct() — same shuffle, more information.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          lit(1000L) * least(col("a.n"), col("b.n")) >=
            lit(tauMilli) * greatest(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(struct(col("a.rn").as("ia"), col("b.rn").as("ib"))).as("fst"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .filter((lit(1000L) + lit(tauMilli)) *
          (lit(1L) + least($"na" - $"fst.ia", $"nb" - $"fst.ib")) >=
        lit(tauMilli) * ($"na" + $"nb"))
      .select($"doc_a", $"doc_b")
    val sets = base.select($"doc_id", sort_array($"sh").as("ss"),
      size($"sh").cast("long").as("n"))
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa"), $"n".as("na")), Seq("doc_a"))
      .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb"), $"n".as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("uni", $"na" + $"nb" - $"inter")
      .filter(lit(1000L) * $"inter" >= lit(tauMilli) * $"uni")
      .select($"doc_a", $"doc_b", $"inter", $"uni",
        expr("(1000 * inter) div uni").as("jacc_milli"))
  }

  /** EXACT near-duplicate removal as a frame-level curation stage —
    * the no-false-negatives sibling of [[nearDupFilterOn]]: candidate
    * pairs come from the PPJoin prefix join (every pair with Jaccard ≥
    * τ is found, guaranteed — MinHash-LSH misses a true pair with
    * probability (1−s^r)^b), families resolve by connected components,
    * and one doc per family survives (min-id canonical, or the longest
    * copy with `keepBestByChars`). Original columns pass through.
    * This is the stage a decontamination-grade pipeline runs when the
    * dedup guarantee must be exact, at the prefix join's higher (but
    * still candidate-bounded, never all-pairs) cost.
    */
  def exactDedupFilterOn(docs: DataFrame, tauMilli: Long,
      keepBestByChars: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairs = prefixJoinPairsOn(docs.select($"doc_id", $"text"), tauMilli)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
    keepOnePerFamily(docs, pairs, keepBestByChars)
  }

  /** Exact CONTAINMENT decontamination — the asymmetric sibling of
    * [[prefixJoinOn]] for the realistic leakage shape: a benchmark
    * item QUOTED INSIDE a larger document. Jaccard misses it (the big
    * doc inflates the union); containment C(b in a) = |a∩b| / |b|
    * fires whenever ≥ τ of the BENCH doc's shingles appear in the
    * corpus doc, whatever the corpus doc's size. This is the exact
    * n-gram decontamination pass the public pretraining pipelines run
    * against eval benchmarks, next to [[bloomClean]] (approximate
    * membership) and `Similarity.semanticDecontaminate` (paraphrase).
    *
    * Prefix filter, asymmetric: C ≥ τ needs inter ≥ ⌈τ·|b|⌉, so
    * skipping bench b's p−1 = |b| − ⌈τ·|b|⌉ rarest shingles cannot
    * remove every shared one — any qualifying (a, b) shares a token
    * with b's (df-ascending) PREFIX. Only the BENCH side prefixes
    * (the corpus side has no size-based bound: inter ≥ τ|b| says
    * nothing about |a|), so candidates = Σ over bench-prefix shingles
    * of their CORPUS df — bench-sized × rarest-first, tiny next to
    * any corpus-side structure. Verification is the same exact
    * array_intersect on the integer grid, arrays shipped only for
    * flagged-candidate pairs.
    *
    * df ordering uses the CORPUS's frequencies (the side whose df
    * bounds candidate volume); the theorem holds for ANY shared total
    * order, so the choice is a pure optimization. Output = one row
    * per (corpus doc, bench doc) flagged pair with the containment
    * score; `exactDecontaminate` below is the keep-the-clean-docs
    * consumer.
    */
  private[graft] def containmentPairsOn(corpus: DataFrame, bench: DataFrame,
      tauMilli: Long): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli is containment·1000, must be in [1, 1000]: $tauMilli")
    // Map-side verify arrays (round 14): one persist of the pre-explode
    // (id, shingle-array) frame per side feeds the token stream
    // (explode), the sizes (size(sh)), AND the verify arrays
    // (sort_array(sh)) — no collect_list, so the verify stage ships
    // corpus arrays through the candidate join ONLY (broadcastable when
    // contamination is sparse) instead of re-collecting every corpus
    // doc's tokens through a full exchange. Measured vs the aggregate
    // and semi-join-pruned formulations (PLANS.md, the round-14 exact
    // join entry; `tools/bench_exactjoin_r14.json`): 16.2 → 10.1 s
    // on the saturated 100× gate, 10.0 → 6.6 s at realistic density.
    val aBase = withShingles(corpus.select($"doc_id", $"text"), "sh")
      .select($"doc_id", $"sh").persistScoped()
    val bBase = withShingles(bench.select($"doc_id", $"text"), "sh")
      .select($"doc_id".as("bench_id"), $"sh").persistScoped()
    val ca = aBase.select($"doc_id", explode($"sh").as("s"))
    val cb = bBase.select($"bench_id", explode($"sh").as("s"))
    val dfreq = ca.groupBy($"s").agg(count(lit(1)).as("df"))
    val bn = bBase.select($"bench_id", size($"sh").cast("long").as("bn"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy($"bench_id").orderBy($"df", $"s")
    // unseen-in-corpus bench shingles get df 0: they sort FIRST and
    // can never produce a candidate — exactly right (they also can
    // never be part of an intersection), and they still consume
    // prefix slots only after the coalesce orders them cheapest
    val bpref = cb.join(dfreq, Seq("s"), "left")
      .withColumn("df", coalesce($"df", lit(0L)))
      .join(bn, Seq("bench_id"))
      .withColumn("rn", row_number().over(wB))
      .filter($"rn" <= expr(s"bn - ((bn * $tauMilli + 999) div 1000) + 1"))
      .select($"bench_id", $"s", $"bn")
    val cand = bpref.join(ca, Seq("s"))
      .select($"doc_id", $"bench_id", $"bn").distinct()
    val aSets = aBase.select($"doc_id", sort_array($"sh").as("sa"))
    val bSets = bBase.select($"bench_id", sort_array($"sh").as("sb"))
    containmentVerifyTail(cand, aSets, bSets, tauMilli)
  }

  /** Exact-verification tail shared by the in-row containment pass and
    * the frozen-index serving path: candidate pairs pick up both
    * sorted shingle arrays (map-side-derived, never aggregated) and
    * the integer-grid containment test decides. */
  private def containmentVerifyTail(cand: DataFrame, aSets: DataFrame,
      bSets: DataFrame, tauMilli: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    cand
      .join(aSets, Seq("doc_id"))
      .join(bSets, Seq("bench_id"))
      .withColumn("inter", size(array_intersect(c("sa"), c("sb"))).cast("long"))
      .filter(lit(1000L) * c("inter") >= lit(tauMilli) * c("bn"))
      .select(c("doc_id"), c("bench_id"), c("inter"), c("bn"),
        expr("(1000 * inter) div bn").as("containment_milli"))
      .orderBy(c("doc_id"), c("bench_id"))
  }

  /** Build the FROZEN bench-prefix index frames for containment
    * decontamination — the offline half of the train/save/load/serve
    * lifecycle every other trained artifact here has (perceptron,
    * IVF-PQ, BPE, PCA, prefix index). A scheduled landing-zone drain
    * should not recompute bench prefixes + df ordering per tick; it
    * loads this artifact once and serves it stream-static.
    *
    * `corpusRef` supplies the document frequencies that ORDER each
    * bench doc's shingles (rarest-first prefixes = fewest candidates).
    * The prefix-filter theorem holds for ANY total order, so serving
    * against a DIFFERENT corpus than `corpusRef` stays exactly
    * correct — df drift only affects candidate volume, never the
    * verified result (InvariantSpec pins frozen ≡ in-row equality).
    *
    * Returns (prefixes: bench_id, s, bn; sets: bench_id, sb, bn) —
    * prefixes drive candidate generation, full sorted shingle sets
    * drive exact verification.
    */
  def buildBenchPrefixIndex(corpusRef: DataFrame, bench: DataFrame,
      tauMilli: Long): (DataFrame, DataFrame) = {
    val s = bench.sparkSession
    import s.implicits._
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli is containment·1000, must be in [1, 1000]: $tauMilli")
    val ca = withShingles(corpusRef.select($"doc_id", $"text"), "sh")
      .select($"doc_id", explode($"sh").as("s"))
    val bBase = withShingles(bench.select($"doc_id", $"text"), "sh")
      .select($"doc_id".as("bench_id"), $"sh").persistScoped()
    val cb = bBase.select($"bench_id", explode($"sh").as("s"))
    val dfreq = ca.groupBy($"s").agg(count(lit(1)).as("df"))
    val bn = bBase.select($"bench_id", size($"sh").cast("long").as("bn"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy($"bench_id").orderBy($"df", $"s")
    val prefixes = cb.join(dfreq, Seq("s"), "left")
      .withColumn("df", coalesce($"df", lit(0L)))
      .join(bn, Seq("bench_id"))
      .withColumn("rn", row_number().over(wB))
      .filter($"rn" <= expr(s"bn - ((bn * $tauMilli + 999) div 1000) + 1"))
      .select($"bench_id", $"s", $"bn")
    // map-side sets, same derivation as the serving side (no
    // collect_list re-assembly of the pre-explode array)
    val sets = bBase.select($"bench_id", sort_array($"sh").as("sb"),
      size($"sh").cast("long").as("bn"))
    (prefixes, sets)
  }

  /** Persist a [[buildBenchPrefixIndex]] artifact: `prefixes/` +
    * `sets/` parquet and a `_tau_milli` marker. The marker makes the
    * artifact self-describing AND tau-safe: prefixes built at τb are
    * sound for any serving τ ≥ τb (a higher threshold needs a SHORTER
    * prefix, so the built prefix is a superset — no false negatives),
    * while serving below τb would need prefix tokens that were never
    * stored; [[loadBenchPrefixIndex]] consumers enforce that bound.
    */
  def saveBenchPrefixIndex(corpusRef: DataFrame, bench: DataFrame,
      tauMilli: Long, path: String): Unit = {
    val (prefixes, sets) = buildBenchPrefixIndex(corpusRef, bench, tauMilli)
    prefixes.write.mode("overwrite").parquet(s"$path/prefixes")
    sets.write.mode("overwrite").parquet(s"$path/sets")
    val fs = graft.connect.Hfs.fs(bench.sparkSession, path)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_tau_milli"),
      tauMilli.toString, overwrite = true)
  }

  /** Read a [[saveBenchPrefixIndex]] artifact back:
    * (prefixes, sets, built tauMilli). */
  def loadBenchPrefixIndex(s: SparkSession,
      path: String): (DataFrame, DataFrame, Long) = {
    val fs = graft.connect.Hfs.fs(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_tau_milli")
    require(fs.exists(marker),
      s"$path is not a bench-prefix index (no _tau_milli marker) — " +
        "build one with saveBenchPrefixIndex")
    val tau = graft.connect.Hfs.readSmall(fs, marker).trim.toLong
    (s.read.parquet(s"$path/prefixes"), s.read.parquet(s"$path/sets"), tau)
  }

  /** Containment pairs served from a FROZEN bench-prefix index —
    * identical output to [[containmentPairsOn]] at the artifact's tau
    * (InvariantSpec pins it), zero per-run bench work: the only
    * corpus-side costs are the shingle scan, the candidate join
    * against the (tiny, broadcastable) prefix table, and the map-side
    * verify arrays. `tauMilli` may RAISE the threshold above
    * the built one (prefixes stay a sound superset); lowering it needs
    * a rebuild and errors loudly.
    */
  def containmentPairsFrozen(corpus: DataFrame, indexPath: String,
      tauMilli: Option[Long] = None): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val (prefixes, sets, builtTau) = loadBenchPrefixIndex(s, indexPath)
    val tau = tauMilli.getOrElse(builtTau)
    require(tau >= builtTau,
      s"bench-prefix index at $indexPath was built at tau=$builtTau but " +
        s"serving asks for $tau — prefixes for a LOWER threshold were " +
        "never stored; rebuild the index at the lower tau")
    val aBase = withShingles(corpus.select($"doc_id", $"text"), "sh")
      .select($"doc_id", $"sh").persistScoped()
    val ca = aBase.select($"doc_id", explode($"sh").as("s"))
    val cand = prefixes.join(ca, Seq("s"))
      .select($"doc_id", $"bench_id", $"bn").distinct()
    val aSets = aBase.select($"doc_id", sort_array($"sh").as("sa"))
    containmentVerifyTail(cand, aSets, sets.select($"bench_id", $"sb"), tau)
  }

  /** [[exactDecontaminate]] served from a frozen bench-prefix index. */
  def exactDecontaminateFrozen(corpus: DataFrame, indexPath: String,
      tauMilli: Option[Long] = None): DataFrame = {
    val flagged = containmentPairsFrozen(corpus, indexPath, tauMilli)
      .select(col("doc_id")).distinct()
    corpus.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Hash-bucket count for the admission index's exploded prefix
    * table and doc table ([[createExactDedupIndex]]): 64 directories
    * keeps listing rent trivial (the [[graft.ops.Similarity.DefaultIndexDirBudget]]
    * convention) while giving a small-relative-to-index tick a 64-way
    * scan prune on both the candidate join and the verify fetch.
    */
  val defaultAdmitBuckets = 64

  /** Create an EXACT-dedup admission index — the incremental PPJoin
    * layout behind "dedup documents as they arrive with NO false
    * negatives" (the exactness-guaranteed sibling of the LSH band
    * table `q_dedup_stream_lsh` maintains). Layout at `path`:
    *
    *  - `order/` — token document frequencies from `corpusRef`, the
    *    FROZEN total order (df asc, token asc) every later prefix is
    *    computed under. The prefix-filter theorem holds for ANY fixed
    *    total order, so df drift between the reference and the stream
    *    costs candidate volume, never a missed duplicate;
    *  - `docs/batch=<id>/dbucket=<h>/` — one row per ADMITTED doc:
    *    (doc_id, sa sorted shingle array, n), hive-partitioned by
    *    `dbucket = hash(doc_id) mod prefixBuckets` inside a per-batch
    *    directory. The batch directory is the replay/idempotence unit
    *    (see [[admitExactDedup]]); the dbucket partitioning lets the
    *    verify stage prune its array fetch to the buckets the tick's
    *    candidates actually touch;
    *  - `prefix/batch=<id>/bucket=<h>/` — the EXPLODED prefix table:
    *    one row per (admitted doc, prefix token) = (doc_id, n, s),
    *    hive-partitioned by `bucket = hash(s) mod prefixBuckets`.
    *    This is what makes per-tick cost track the BATCH, not the
    *    accumulated history: a tick collects the (≤ prefixBuckets)
    *    buckets its own prefix tokens hash into and the candidate
    *    join scans only those directories — the same band-table
    *    layout trick `q_dedup_stream_lsh` and the grouped IVF-PQ
    *    index use. A tick whose tokens touch every bucket degrades
    *    to the full scan, never worse;
    *  - `_tau_milli` — the admission threshold, fixed at creation
    *    (prefix lengths are a function of tau; admitting at a
    *    different tau would need different stored prefixes);
    *  - `_prefix_buckets` — the bucket modulus, fixed at creation
    *    (every tick must bucket with the same function).
    *
    * Per-tick admission is [[admitExactDedup]]; small-file + replay-
    * duplicate maintenance is [[compactExactDedupIndex]]; the
    * declarative hook is the streaming shard-load's `exactDedupIndex`
    * option.
    */
  def createExactDedupIndex(s: SparkSession, path: String,
      corpusRef: DataFrame, tauMilli: Long,
      prefixBuckets: Int = defaultAdmitBuckets): Unit = {
    import s.implicits._
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli is Jaccard·1000, must be in [1, 1000]: $tauMilli")
    require(prefixBuckets > 0,
      s"prefixBuckets must be positive: $prefixBuckets")
    withShingles(corpusRef.select($"doc_id", $"text"), "sh")
      .select(explode($"sh").as("s"))
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/order")
    val fs = graft.connect.Hfs.fs(s, path)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_tau_milli"),
      tauMilli.toString, overwrite = true)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_prefix_buckets"),
      prefixBuckets.toString, overwrite = true)
  }

  /** (doc_id, sa, n, pref) rows for a batch under the index's frozen
    * token order: sorted arrays and sizes map-side off the pre-explode
    * frame, prefixes by per-doc rank under (df, token) with unseen
    * tokens at df 0 (they sort first — cheapest candidate slots). */
  private[graft] def dedupIndexRows(batch: DataFrame, order: DataFrame,
      tauMilli: Long): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val base = withShingles(batch.select($"doc_id", $"text"), "sh")
      .select($"doc_id", $"sh").persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"s")
    val pref = base.select($"doc_id", size($"sh").cast("long").as("n"),
        explode($"sh").as("s"))
      .join(order, Seq("s"), "left")
      .withColumn("df", coalesce($"df", lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= expr(s"n - ((n * $tauMilli + 999) div 1000) + 1"))
      .groupBy($"doc_id").agg(sort_array(collect_list($"s")).as("pref"))
    base.select($"doc_id", sort_array($"sh").as("sa"),
        size($"sh").cast("long").as("n"))
      .join(pref, Seq("doc_id"), "left")
      .withColumn("pref",
        coalesce($"pref", array().cast("array<string>")))
  }

  /** Admit a batch against (and into) a [[createExactDedupIndex]]
    * layout: EXACT arrival-order dedup. Within the batch, min-id wins
    * ([[exactDedupFilterOn]] — prefix join + connected components);
    * against the index, any batch doc with Jaccard ≥ τ to an already-
    * admitted doc is rejected (prefix-filter candidates under the
    * frozen order — a qualifying pair must share a token in BOTH
    * prefixes — then the exact array_intersect verify; no false
    * negatives by the theorem, no false rejections by the verify).
    * Survivors' rows land in `docs/batch=<id>/` + `prefix/batch=<id>/`
    * so the NEXT tick sees them; returns the admitted rows with
    * original columns.
    *
    * Replay semantics are IDEMPOTENT PER BATCH ID: the batch's own
    * index subdirectories are deleted up front, so a batch replayed
    * after a partial failure (index written, downstream sink not)
    * recomputes the SAME admitted set — its prior rows can neither
    * flag the replay (which would silently lose those docs from the
    * output forever) nor survive as duplicates. Pass the foreachBatch
    * batch id; non-streaming callers pass any monotone non-negative
    * sequence (negative ids are reserved for compaction generations).
    * The downstream sink itself stays at-least-once unless it commits
    * idempotently (manifest upsert) — replay may re-append shard rows,
    * but never loses admitted docs.
    *
    * Note ADMISSION IS PER FAMILY, NOT PER DOC, across the two phases:
    * the in-batch phase keeps one representative per duplicate family
    * (min id), and only that representative is tested against the
    * index. If the representative is itself an index duplicate, the
    * WHOLE family is rejected — its members are τ-dup-chain-connected
    * to an indexed doc through the representative, which is exactly
    * the transitive-family collapse every clustering dedup (MinHash
    * CC, [[dedupApply]]) performs. A rejected doc therefore always has
    * a τ-dup CHAIN to an admitted-or-indexed doc, not necessarily a
    * direct τ-dup edge (DedupSpec pins the chain property).
    *
    * At 100 TB: per tick, only the BATCH's prefixes move — the
    * accumulated index is scanned through its bucket partitions, and
    * both reads prune to the buckets the tick actually touches
    * (candidate join: `bucket ∈ hash(batch prefix tokens)`; verify
    * fetch: `dbucket ∈ hash(candidate doc ids)`), so per-tick cost
    * tracks the batch's token footprint, not the index's history
    * (`tools/admit_sweep_r15.json` measures it flat over 20 ticks).
    */
  def admitExactDedup(batch: DataFrame, path: String,
      batchId: Long): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    graft.connect.GenerationalIndex.requireLiveBatchId(batchId,
      "compactExactDedupIndex")
    val fs = graft.connect.Hfs.fs(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_tau_milli")
    require(fs.exists(marker),
      s"$path is not an exact-dedup index (no _tau_milli marker) — " +
        "create one with createExactDedupIndex")
    val bMarker = new org.apache.hadoop.fs.Path(path, "_prefix_buckets")
    require(fs.exists(bMarker),
      s"$path predates the bucketed admission layout (no _prefix_buckets " +
        "marker) — rebuild it with createExactDedupIndex")
    // replay a crashed rebucket before ANY read: pruning with a stale
    // modulus over a migrated layout would miss candidate buckets
    recoverExactDedupRebucket(s, path)
    val tau = graft.connect.Hfs.readSmall(fs, marker).trim.toLong
    val nb = graft.connect.Hfs.readSmall(fs, bMarker).trim.toLong
    // idempotence: a failed earlier attempt of THIS batch may have
    // written index rows the downstream sink never saw — they must not
    // flag the replay (self-rejection = silent data loss), so the
    // batch's own subdirectories are dropped before anything reads
    graft.connect.GenerationalIndex.clearGeneration(fs, path,
      Seq("docs", "prefix"), batchId)
    val order = s.read.parquet(s"$path/order")
    val inBatch = exactDedupFilterOn(batch, tau)
    val rows = dedupIndexRows(inBatch, order, tau).persistScoped()
    val hasDocs = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(path, "docs")).nonEmpty
    val admitted0 = if (!hasDocs) inBatch else {
      val bp = rows.select($"doc_id", $"n", explode($"pref").as("s"))
        .persistScoped()
      // the tick's token-bucket footprint: ≤ prefixBuckets small ints,
      // driver-collected to prune the index scan at PLANNING time
      val touched = bp.select(pmod(xxhash64($"s"), lit(nb)).as("b"))
        .distinct().as[Long].collect().toSeq
      val ip = s.read.option("basePath", s"$path/prefix")
        .parquet(s"$path/prefix")
        .filter($"bucket".isin(touched: _*))
        .select($"doc_id".as("idx_id"), $"n".as("idx_n"), $"s")
      val cand = bp.join(ip, Seq("s"))
        .filter(lit(1000L) * least($"n", $"idx_n") >=
          lit(tau) * greatest($"n", $"idx_n"))
        .select($"doc_id", $"idx_id", $"n", $"idx_n").distinct()
        .persistScoped()
      val dbTouched = cand.select(pmod(xxhash64($"idx_id"), lit(nb)).as("b"))
        .distinct().as[Long].collect().toSeq
      if (dbTouched.isEmpty) inBatch else {
        // verify arrays: batch side from the tick's own rows, index
        // side fetched ONLY from the doc buckets candidates touch
        val isa = s.read.option("basePath", s"$path/docs")
          .parquet(s"$path/docs")
          .filter($"dbucket".isin(dbTouched: _*))
          .select($"doc_id".as("idx_id"), $"sa".as("isa"))
        val flagged = cand
          .join(isa, Seq("idx_id"))
          .join(rows.select($"doc_id", $"sa"), Seq("doc_id"))
          .withColumn("inter",
            size(array_intersect($"sa", $"isa")).cast("long"))
          .filter(lit(1000L) * $"inter" >=
            lit(tau) * ($"n" + $"idx_n" - $"inter"))
          .select($"doc_id").distinct()
        inBatch.join(flagged, Seq("doc_id"), "left_anti")
      }
    }
    // cut BEFORE the writes: the admitted frame reads the index, and
    // the writes below mutate it — an unpinned plan re-evaluated by the
    // caller would see its own rows in the index and self-reject
    // everything. Materializing cuts that lineage.
    val admitted = admitted0.cutScoped()
    // shingle-less docs (< 3 words) can never generate or verify a
    // candidate — dead index weight, and keeping them would let a
    // docs/ batch dir carry files while its prefix/ sibling has none
    // (n ≥ 1 ⟹ prefix length ≥ 1, so filtered the two stay in
    // lockstep, which later schema inference relies on)
    val keep = rows
      .join(admitted.select($"doc_id"), Seq("doc_id"), "left_semi")
      .filter($"n" > 0)
      .persistScoped()
    // an all-rejected (or empty, or all-shingle-less) batch writes
    // NOTHING: a file-less batch directory would break schema
    // inference on later reads, and delete-upfront already cleared
    // any prior attempt's rows
    if (keep.isEmpty) return admitted
    // repartition on the layout key before writing: one file per
    // touched bucket per tick, not tasks × buckets tiny files — the
    // sweep measured the unaligned write at ~1.7k files/tick, and the
    // resulting listing+footer rent grew per-tick wall 1.6× over 20
    // ticks before this line
    keep.select($"doc_id", $"sa", $"n",
        pmod(xxhash64($"doc_id"), lit(nb)).as("dbucket"))
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$path/docs/batch=$batchId")
    keep.select($"doc_id", $"n", explode($"pref").as("s"))
      .withColumn("bucket", pmod(xxhash64($"s"), lit(nb)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/prefix/batch=$batchId")
    admitted
  }

  /** Compact a [[createExactDedupIndex]] layout: fold every batch
    * directory except the newest live one into a single consolidated
    * generation, deduplicating rows on the way (crash-window leftovers
    * are the only duplicate source now that admission itself is
    * replay-idempotent). Lifecycle + crash-window contract:
    * [[graft.connect.GenerationalIndex]], ADMISSION (rename-first)
    * mode — a leftover duplicate index row flags exactly what the
    * single row flags, so the rename→delete window is rent, never
    * corruption. Returns the number of batch directories folded
    * (0 = nothing to do).
    */
  def compactExactDedupIndex(s: SparkSession, path: String): Int = {
    import graft.connect.{GenerationalIndex => GI}
    val fs = graft.connect.Hfs.fs(s, path)
    recoverExactDedupRebucket(s, path) // entry point: finish a crashed rebucket first
    val plan = GI.foldPlan(GI.generations(fs, path, "docs"))
      .getOrElse(return 0)
    def consolidate(sub: String, part: String, keys: Seq[String]): Unit = {
      val present = GI.generations(fs, path, sub)
        .filterNot(plan.live.contains).toSet
      val srcIds = plan.fold.filter(present.contains)
      if (srcIds.isEmpty) return
      val tmp = GI.staging(fs, path, sub)
      s.read.option("basePath", s"$path/$sub")
        .parquet(srcIds.map(b => s"$path/$sub/batch=$b"): _*)
        .drop("batch").dropDuplicates(keys)
        .repartition(col(part)).write.mode("overwrite").partitionBy(part)
        .parquet(tmp.toString)
      GI.commitRenameFirst(fs, path, sub, plan.gen, srcIds,
        s"dedup-index compaction for $path/$sub")
    }
    consolidate("docs", "dbucket", Seq("doc_id"))
    consolidate("prefix", "bucket", Seq("doc_id", "s"))
    plan.fold.size
  }

  private val dedupRebucketMarker = "_dedup_rebucket_intent"

  /** Replay a crashed [[rebucketExactDedupIndex]] to completion if its
    * write-ahead intent exists (one existence check otherwise). The
    * commit swaps the bucket modulus together with the re-hashed
    * layout; a reader pruning with the OLD modulus over the NEW layout
    * would MISS candidate buckets — a false negative, i.e. a duplicate
    * silently admitted, which is exactly the loss class this family's
    * no-false-negatives contract forbids. Called first by
    * [[admitExactDedup]] and [[compactExactDedupIndex]].
    */
  private def recoverExactDedupRebucket(s: SparkSession, path: String): Unit = {
    val fs = graft.connect.Hfs.fs(s, path)
    graft.connect.GenerationalIndex.recoverMigrate(fs, path,
      Seq("docs", "prefix"), dedupRebucketMarker, "dedup-rebucket") {
      (_, param) => exactDedupRebucketFinish(fs, path, param)
    }
  }

  /** The family-specific tail of an exact-admission rebucket's commit,
    * run by [[graft.connect.GenerationalIndex.applyMigrate]] after the
    * shared generation work: only the modulus-marker rewrite (plain
    * overwrite — idempotent on replay). */
  private def exactDedupRebucketFinish(fs: org.apache.hadoop.fs.FileSystem,
      path: String, param: Option[String]): Unit =
    param.foreach(nb => graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_prefix_buckets"),
      nb, overwrite = true))

  /** Migrate a [[createExactDedupIndex]] layout to a different bucket
    * modulus — the exact-admission sibling of
    * [[graft.ops.TextAnalysis.rebucketBm25Index]]. The modulus is the
    * family's frozen structural parameter: a tick prunes its candidate
    * join and verify fetch to the buckets its own tokens/doc-ids hash
    * into, so an index that outgrew its create-time bucket count
    * leaves every bucket holding more unrelated prefix rows than a
    * tick's scan should pay for. Re-bucketing re-hashes the layout
    * without touching a single admission decision or stored row value
    * (bucketing is pure layout — hive partition values change, row
    * contents don't): folded generations consolidate into one
    * re-hashed negative generation (crash-window duplicates
    * deduplicated on the way, like compaction), the newest LIVE
    * generation is re-hashed IN PLACE under its own batch id (a
    * restarted stream replaying that batch deletes its own generation
    * and recomputes under the new marker — replay safety survives),
    * and the commit is a write-ahead intent carrying the new modulus.
    * This family normally commits rename-first (duplicates are rent),
    * but the modulus swap is coupled to the layout: pruning with the
    * old modulus over the new layout would MISS buckets — a false
    * negative — so the swap gets the intent protocol, replayed at
    * every entry point.
    *
    * Run between drains (or from the scheduler), never concurrently
    * with an active admission. Returns the number of generations
    * re-hashed (folded + live).
    */
  def rebucketExactDedupIndex(s: SparkSession, path: String,
      newBuckets: Int): Int = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.connect.{Hfs, GenerationalIndex => GI}
    require(newBuckets > 0,
      s"rebucketExactDedupIndex: newBuckets must be positive, got $newBuckets")
    val fs = Hfs.fs(s, path)
    require(fs.exists(new Path(path, "_prefix_buckets")),
      s"$path is not a bucketed exact-dedup index (no _prefix_buckets " +
        "marker) — create one with createExactDedupIndex")
    recoverExactDedupRebucket(s, path)
    // already at the target modulus: a scheduled rebucket pipeline must
    // be a cheap no-op after the migration, not a full rewrite per run
    if (Hfs.readSmall(fs, new Path(path, "_prefix_buckets")).trim.toInt
        == newBuckets) return 0
    val gens = GI.generations(fs, path, "docs")
    require(gens.nonEmpty,
      s"rebucketExactDedupIndex: $path holds no admitted batches — set " +
        "the bucket count at creation instead of migrating an empty index")
    val plan = GI.migratePlan(gens)
    val (live, fold) = (plan.live, plan.fold)
    Seq("docs/.compact-tmp", "docs/.rebucket-live-tmp",
      "prefix/.compact-tmp", "prefix/.rebucket-live-tmp")
      .foreach(sub => Hfs.deleteIfExists(fs, new Path(path, sub)))
    def stage(sub: String, part: String, hashCol: Column, keys: Seq[String],
        srcIds: Seq[Long], dest: String, dedup: Boolean): Unit = {
      val present = GI.generations(fs, path, sub).toSet
      val ids = srcIds.filter(present.contains)
      if (ids.isEmpty) return
      val base = s.read.option("basePath", s"$path/$sub")
        .parquet(ids.map(b => s"$path/$sub/batch=$b"): _*)
        .drop("batch").drop(part)
      val deduped = if (dedup) base.dropDuplicates(keys) else base
      deduped.withColumn(part, pmod(xxhash64(hashCol), lit(newBuckets)))
        .repartition(col(part)).write.mode("overwrite").partitionBy(part)
        .parquet(s"$path/$sub/$dest")
    }
    if (fold.nonEmpty) {
      stage("docs", "dbucket", $"doc_id", Seq("doc_id"), fold,
        ".compact-tmp", dedup = true)
      stage("prefix", "bucket", $"s", Seq("doc_id", "s"), fold,
        ".compact-tmp", dedup = true)
    }
    live.foreach { lid =>
      stage("docs", "dbucket", $"doc_id", Seq("doc_id"), Seq(lid),
        ".rebucket-live-tmp", dedup = false)
      stage("prefix", "bucket", $"s", Seq("doc_id", "s"), Seq(lid),
        ".rebucket-live-tmp", dedup = false)
    }
    // COMMIT POINT: everything after the intent is replayable (the
    // marker commits atomically via the shared core's temp+rename)
    GI.writeMigrateIntent(fs, path, dedupRebucketMarker, plan,
      Some(newBuckets.toString))
    GI.applyMigrate(fs, path, Seq("docs", "prefix"), dedupRebucketMarker,
      plan, "dedup-rebucket") {
      exactDedupRebucketFinish(fs, path, Some(newBuckets.toString))
    }
    fold.size + live.size
  }

  /** Default ceiling for [[exactDecontaminateServe]]'s broadcast: total
    * bench shingles across prefixes + sets. 2M string shingles ≈ low
    * hundreds of MB broadcast — the loud-guard convention of
    * `Similarity.semanticDecontaminate`'s maxBenchRows. */
  val maxServeBenchShingles = 2000000L

  /** STATELESS PER-ROW serving of a frozen bench-prefix index — the
    * streaming-safe sibling of [[exactDecontaminateFrozen]], same
    * verified semantics (InvariantSpec pins equality). The whole
    * artifact (prefix token → bench ids, bench id → shingle set) is
    * collected and broadcast — bench sets are benchmark-sized by
    * contract, and a loud `maxBenchShingles` guard fails the build
    * before a silently huge broadcast, pointing at the shuffle path.
    * Each corpus row then folds locally: its shingle array is computed
    * in-row, candidates come from prefix-token lookups, and the exact
    * intersection count verifies — no aggregation, no shuffle, no
    * state, so the SAME transform runs on a batch frame and inside a
    * streaming tick (the quality-model filter's design: broadcast
    * model + per-row fold, identical on batch and streams). At 100 TB
    * the corpus never moves; each executor holds one copy of the bench
    * index.
    */
  def exactDecontaminateServe(corpus: DataFrame, indexPath: String,
      tauMilli: Option[Long] = None,
      maxBenchShingles: Long = maxServeBenchShingles): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val (prefixes, sets, builtTau) = loadBenchPrefixIndex(s, indexPath)
    val tau = tauMilli.getOrElse(builtTau)
    require(tau >= builtTau,
      s"bench-prefix index at $indexPath was built at tau=$builtTau but " +
        s"serving asks for $tau — prefixes for a LOWER threshold were " +
        "never stored; rebuild the index at the lower tau")
    val setRows = sets.select($"bench_id", $"sb").collect()
    val prefRows = prefixes.select($"s", $"bench_id").collect()
    val total = prefRows.length.toLong +
      setRows.iterator.map(_.getSeq[String](1).size.toLong).sum
    require(total <= maxBenchShingles,
      s"bench-prefix index at $indexPath holds $total shingles — above " +
        s"the $maxBenchShingles row-local-serve broadcast ceiling; use " +
        "exactDecontaminateFrozen (the shuffle path) for a bench this " +
        "size — on a stream, via the shard-load's exactDecontaminateIndex " +
        "option (runs it per tick inside foreachBatch)")
    val benchSets: Map[Long, Set[String]] =
      setRows.iterator.map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val prefixMap: Map[String, Array[Long]] = prefRows.iterator
      .map(r => (r.getString(0), r.getLong(1))).toArray
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.distinct }
    val bc = s.sparkContext.broadcast((prefixMap, benchSets))
    // plan-embedded udf (not session-registered): resolves on cloned
    // foreachBatch sessions without any per-batch registration
    val contaminated = udf { sa: scala.collection.Seq[String] =>
      val (pm, bs) = bc.value
      sa != null && sa.nonEmpty && {
        val saSet = sa.toSet
        sa.iterator
          .flatMap(sh => pm.getOrElse(sh, Array.empty[Long]).iterator)
          .toSet.exists { bid =>
            val sb = bs(bid)
            val inter =
              if (saSet.size < sb.size) saSet.count(sb.contains).toLong
              else sb.count(saSet.contains).toLong
            1000L * inter >= tau * sb.size
          }
      }
    }
    withShingles(corpus, "__graft_sh")
      .filter(!contaminated(col("__graft_sh")))
      .drop("__graft_sh")
  }

  /** Drop every corpus doc τ-containing ANY bench doc — the
    * decontamination consumer of [[containmentPairsOn]]; corpus
    * columns pass through untouched, the anti-join key set is
    * contamination-sized.
    */
  def exactDecontaminate(corpus: DataFrame, bench: DataFrame,
      tauMilli: Long): DataFrame = {
    val flagged = containmentPairsOn(corpus, bench, tauMilli)
      .select(col("doc_id")).distinct()
    corpus.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Gate: bench = every 50th doc (the q_emb_decontam convention —
    * ids ARE compared only to pair rows, a corpus doc containing its
    * own bench copy is exactly what must flag). τ = 800‰. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    containmentPairsOn(docs, docs.filter($"doc_id" % 50 === 0), 800L)
  }

  /** End-to-end EXACT dedup application (gate row, round 14) —
    * [[dedupApply]]'s corpus rollup with the PPJoin candidate front
    * end instead of the MinHash-LSH screen, and the keep-BEST survivor
    * instead of min-id: prefix-join pairs at τ = 800‰ → fixed-round
    * min-label propagation (the [[ccRounds]] = 3 truncation
    * [[dedupClusters]] audits: near-dup families are near-cliques, and
    * the oracle mirrors the exact rounds) → per-family longest-doc
    * survivor via the struct-min argmax (no window sort) → per-lang
    * retention rollup. This is the full decontamination-grade pipeline
    * stage (`exact_dedup_filter`) in gate-checkable form: same three
    * phases, same guarantees, DuckDB-verified end to end against an
    * algorithm-independent oracle (brute all-token pair join +
    * SQL label rounds + a row_number keep-best).
    *
    * Scale shape: everything downstream of the prefix join is keyed on
    * doc/label — one equi-join + map-side rollup per CC round, one
    * struct-min hash aggregate, one per-lang rollup; the prefix join
    * itself is the candidate-bounded front end measured sublinear to
    * 100× (`tools/bench_exactjoin_r14.json`).
    */
  def exactDedupApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"n_chars")
    val labels = minLabelRounds(prefixJoinPairsOn(docs.select($"doc_id", $"text"), 800L)
      .select($"doc_a".as("d1"), $"doc_b".as("d2")), docs.select($"doc_id", $"doc_id".as("label")),
      ccRounds)
    val keep = labels
      .join(docs.select($"doc_id".as("kdoc"), $"n_chars"), $"doc_id" === $"kdoc")
      .groupBy($"label")
      .agg(min(struct((-$"n_chars").as("neg"), $"kdoc".as("kid"))).as("best"))
      .select($"best.kid".as("keep_id"))
    docs.join(keep, docs("doc_id") === keep("keep_id"), "left")
      .withColumn("kept", $"keep_id".isNotNull.cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"kept").as("n_kept"),
        (count(lit(1)) - sum($"kept")).as("n_dropped"),
        sum($"kept" * $"n_chars").as("chars_kept"),
        (sum($"kept").cast("double") / count(lit(1))).as("pct_kept"))
      .orderBy($"lang")
  }

  /** Oracle: algorithm-independent end to end — brute all-token pair
    * join (no prefixes), the same fixed label rounds in SQL, a
    * row_number keep-best (vs the struct-min argmax), and the rollup. */
  private val exactDedupApplySql = {
    val rounds = (1 to ccRounds).map { r =>
      s"""xl$r AS (
         |  SELECT l.doc_id, least(l.label, coalesce(m.nmin, l.label)) AS label
         |  FROM xl${r - 1} l LEFT JOIN (
         |    SELECT e.d1, min(x.label) AS nmin
         |    FROM xedges e JOIN xl${r - 1} x ON e.d2 = x.doc_id GROUP BY 1) m
         |  ON l.doc_id = m.d1)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |          FOR i IN generate_series(1, len(w) - 2)])) AS s FROM t),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b FROM pair
       |      JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |      WHERE 1000 * inter >= 800 * (sa.n + sb.n - inter)),
       |xedges AS (SELECT doc_a AS d1, doc_b AS d2 FROM p
       |           UNION ALL SELECT doc_b, doc_a FROM p),
       |xl0 AS (SELECT doc_id, doc_id AS label FROM documents),
       |$rounds,
       |keep AS (SELECT doc_id AS keep_id FROM (
       |  SELECT l.label, d.doc_id,
       |    row_number() OVER (PARTITION BY l.label
       |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
       |  FROM xl$ccRounds l JOIN documents d ON l.doc_id = d.doc_id)
       |  WHERE rn = 1),
       |j AS (SELECT d.lang, d.n_chars,
       |  CASE WHEN d.doc_id IN (SELECT keep_id FROM keep) THEN 1 ELSE 0 END AS kept
       |  FROM documents d)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped,
       |  CAST(SUM(kept * n_chars) AS BIGINT) AS chars_kept,
       |  CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE) / COUNT(*) AS pct_kept
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  private val containmentPairsSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |          FOR i IN generate_series(1, len(w) - 2)])) AS s FROM t),
      |bs AS (SELECT doc_id AS bench_id, s FROM sh WHERE bench_id % 50 = 0),
      |bn AS (SELECT bench_id, COUNT(*) AS bn FROM bs GROUP BY 1),
      |pair AS (SELECT a.doc_id, b.bench_id, COUNT(*) AS inter
      |         FROM sh a JOIN bs b ON a.s = b.s GROUP BY 1, 2)
      |SELECT p.doc_id, p.bench_id, CAST(p.inter AS BIGINT) AS inter,
      |  CAST(n.bn AS BIGINT) AS bn,
      |  CAST((1000 * p.inter) // n.bn AS BIGINT) AS containment_milli
      |FROM pair p JOIN bn n ON p.bench_id = n.bench_id
      |WHERE 1000 * p.inter >= 800 * n.bn
      |ORDER BY p.doc_id, p.bench_id""".stripMargin

  /** Gate τ for [[prefixJoinOn]]: 800‰ — the MinHash-dedup literature's
    * standard near-dup threshold (FineWeb/RefinedWeb use 0.8); the
    * fixture's near-dup families qualify (25 pairs at sf0.01, 256 at
    * sf0.1, 2560 at 10×), unrelated docs don't. */
  def prefixJoin(s: SparkSession, dir: String): DataFrame =
    prefixJoinOn(Tables.t(s, dir, "documents"), 800L)

  /** Oracle: the BRUTE formulation — all-token equi-join, per-pair
    * intersection count, the same integer Jaccard test. A different
    * algorithm entirely (no prefixes, no ordering), so a prefix-length
    * off-by-one or a broken total order shows up as a missing pair.
    */
  private val prefixJoinSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |          FOR i IN generate_series(1, len(w) - 2)])) AS s FROM t),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni
      |      FROM pair JOIN sz sa ON doc_a = sa.doc_id
      |                JOIN sz sb ON doc_b = sb.doc_id)
      |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(uni AS BIGINT) AS uni,
      |  CAST((1000 * inter) // uni AS BIGINT) AS jacc_milli
      |FROM j WHERE 1000 * inter >= 800 * uni
      |ORDER BY doc_a, doc_b""".stripMargin

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_dedup_prefix_join", prefixJoin, Some(prefixJoinSql)),
    CatalogEntry("q_dedup_containment", containmentPairs, Some(containmentPairsSql)),
    CatalogEntry("q_dedup_exact_apply", exactDedupApply, Some(exactDedupApplySql)),
    CatalogEntry("q_dedup_incremental", incrementalIngest, Some(incrementalIngestSql)),
    CatalogEntry("q_dedup_keep_best", keepBest, Some(keepBestSql)),
    CatalogEntry("q_dedup_exact", exact, Some(exactSql)),
    CatalogEntry("q_dedup_minhash", minhashLsh, Some(minhashLshSql)),
    CatalogEntry("q_dedup_stream_lsh", streamLsh, Some(streamLshSql)),
    CatalogEntry("q_dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    CatalogEntry("q_dedup_cc", ccClusters, Some(ccClustersSql)),
    CatalogEntry("q_dedup_apply", dedupApply, Some(dedupApplySql)),
    CatalogEntry("q_dedup_simhash", simhash, Some(simhashSql)),
    CatalogEntry("q_dedup_simhash_hamming", simhashHamming, Some(simhashHammingSql)),
    CatalogEntry("q_dedup_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    CatalogEntry("q_dedup_editdist", editDistancePairs, Some(editDistancePairsSql)),
    CatalogEntry("q_dedup_damerau", damerauPairs, Some(damerauPairsSql)),
    CatalogEntry("q_dedup_length_routed", lengthRoutedPairs, Some(lengthRoutedPairsSql)),
    CatalogEntry("q_dedup_cc_star", ccClustersStar, Some(ccStarSql)),
    CatalogEntry("q_dedup_cluster_split", clusterSplit, Some(clusterSplitSql)),
    CatalogEntry("q_text_contamination", contamination, Some(contaminationSql)),
    CatalogEntry("q_dedup_bloom", bloomDecontamination, Some(bloomDecontaminationSql)),
    CatalogEntry("q_dedup_embedding", embeddingNearDup, Some(embeddingNearDupSql)))
}
