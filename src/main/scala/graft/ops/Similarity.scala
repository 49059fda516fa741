package graft.ops

import graft.{CatalogEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.Scoped

/** Similarity search over the embedding column (builder-prompt north
  * star). Baseline = brute-force cosine top-k; scale path = sign-LSH
  * bucketing (coarse quantization) so candidates shrink from N to
  * N/2^bits per query, and an IVF index with a trained k-means
  * codebook. All pair math goes through the quantize-once integer
  * bridge: vectors become 1e4-scaled longs once, pair scores are the
  * `dot64`/`sqdist64` codegen expressions — exact long accumulation,
  * order-independent, bit-identical to the DuckDB oracle.
  */
object Similarity {

  /** Exact scaled dot product of two float arrays: Σ round(a·b·1e8) as
    * a long, via the custom codegen expression
    * [[graft.functions.BridgedDot]] (`bridged_dot`) — one fused
    * primitive loop in whole-stage codegen instead of the interpreted
    * zip_with+aggregate fold, with bit-identical values (same decimal
    * HALF_UP rounding). Callers must have run
    * `GraftExtensions.register`, which every catalog query using it
    * does. No explode, no shuffle — pure map-side work.
    */
  def bridgedDot(a: Column, b: Column): Column =
    call_function("bridged_dot", a, b)

  /** Per-element 1e4 quantization of a float vector (round(x·1e4) as
    * long). The similarity queries quantize each vector ONCE — N·dim
    * decimal roundings — and then all N² pair work is [[dot64]]'s pure
    * integer multiply-add: the product scale (1e4)² is the bridge's
    * standard 1e8, so cosineFromDots is unchanged, and the oracle
    * mirrors quantize-then-multiply exactly. (Rounding per PAIR instead
    * — round(x·y·1e8) — costs N²·dim BigDecimal roundings, which
    * dominated the whole scan.)
    */
  /** A vector with ANY non-finite or grid-overflowing component is
    * DEGENERATE AS A WHOLE and quantizes to all-zeros — zero norm, so
    * [[cosineFromDots]] scores it 0 against everything: inert, never a
    * dup anchor, never decontaminated away. Without the guard a single
    * NaN/Inf float (a corrupted encoder output) is an ANSI
    * CAST_OVERFLOW at `round(...).cast("long")` and kills the job —
    * the same failure class as the zero-norm division, one layer
    * earlier. Zeroing per-component instead would FABRICATE a valid-
    * looking vector from the finite remainder (which could then dup-
    * match real rows); whole-vector inertness is the conservative
    * choice.
    *
    * The magnitude bound is NORM-SAFE, not merely cast-safe: every
    * component must satisfy |x·1e4| ≤ √(Long.Max/dims), so the
    * squared-norm fold Σ(x·1e4)² cannot wrap a Long — and by
    * Cauchy-Schwarz every pair dot Σa·b (and each of its partial
    * sums, since Σ|aᵢbᵢ| ≤ ‖a‖·‖b‖) is then bounded too, so the
    * dot64 accumulation cannot wrap either. The r16 guard bounded
    * only the cast (|x| ≤ 9e14); a finite component above
    * ~√(Long.Max/dims)/1e4 (~3.8e4 at 64 dims) passed it and then
    * silently wrapped inside dot64/n2, producing wrong cosines with
    * no error (r16 advice). For unit-scale embeddings the bound still
    * leaves ~4 orders of magnitude of headroom; fixture embeddings
    * are all finite and unit-scale, so the oracles' raw
    * round-and-cast still hash-matches every gate row.
    */
  def quantize1e4(emb: Column): Column =
    // the native codegen expression [[graft.functions.Quantize1e4]]:
    // one fused pass (guard + round) inside whole-stage codegen. The
    // HOF chain it replaced — kept below as the differential reference
    // — evaluated interpreted (higher-order functions are
    // CodegenFallback) and broke codegen at the FIRST operator of
    // every similarity/PCA/semantic-dedup scan. Built directly (no
    // session registration dependency — several PCA/outlier call
    // sites quantize without ever touching dot64's register path).
    org.apache.spark.sql.graftaccess.ColumnBridge.column(
      graft.functions.Quantize1e4(
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(emb)))

  /** The declarative formulation of [[quantize1e4]]'s semantics, in
    * Spark built-ins — the reference the native expression is
    * differentially pinned against (Quantize1e4Spec: element-wise
    * equality across finite/degenerate/null/empty regimes). Reads as
    * the specification: ONE fold computes the peak |x| (greatest()
    * ranks NaN above every value and skips nulls), the norm-safe
    * threshold evaluates once per vector, the bad branch zeroes the
    * whole vector, the good branch is Spark Round's decimal HALF_UP.
    */
  private[graft] def quantize1e4Reference(emb: Column): Column = {
    // per-component bound so Σ round(x·1e4)² fits a Long; the -1
    // absorbs the ≤0.5 rounding step of round(x·1e4). The greatest(n,1)
    // keeps the EMPTY array out of the division: ANSI mode throws
    // DIVIDE_BY_ZERO even for doubles, so the un-guarded form crashed
    // on a zero-length embedding — found by this reference's own
    // differential spec on its FIRST run against the native
    // expression (which loops zero times and returns empty); the
    // clamped bound is irrelevant to the empty case (peak over no
    // elements is 0, the good branch maps nothing).
    val maxAbs =
      (sqrt(lit(Long.MaxValue.toDouble) /
        greatest(size(emb).cast("double"), lit(1.0))) - lit(1.0)) / lit(1e4)
    val peak = aggregate(emb, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val bad = isnan(peak) || peak > maxAbs
    when(bad, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb, x => round(x.cast("double") * lit(1e4)).cast("long")))
  }

  /** Integer dot of two pre-quantized vectors (custom codegen
    * expression [[graft.functions.Dot64]]).
    */
  def dot64(a: Column, b: Column): Column = call_function("dot64", a, b)

  /** cosine = (dot/1e8) / (√(na/1e8)·√(nb/1e8)) — all from exact longs,
    * expression shape mirrored exactly in the oracle SQL.
    *
    * Zero-norm vectors (a dead encoder's all-zero embedding) define
    * cos = 0: similar to nothing, never a dup, never decontaminated
    * away. Without the guard the raw division is an ANSI
    * DIVIDE_BY_ZERO — one degenerate row would kill an entire 100 TB
    * admission/dedup/probe job (found by probing, not in production:
    * every fixture row has nonzero norm, which is also why the
    * oracles' unguarded division still hash-matches on every gate
    * row). The guard is two long comparisons before the fused dot —
    * nothing against the O(dims) loop it gates.
    */
  def cosineFromDots(dot: Column, normA: Column, normB: Column): Column =
    when(normA === 0L || normB === 0L, lit(0.0))
      .otherwise((dot / lit(1e8)) / (sqrt(normA / lit(1e8)) * sqrt(normB / lit(1e8))))

  /** Brute-force cosine top-5 neighbors for the query subset
    * (vec_id % 50 == 0). Queries are broadcast; candidates stream —
    * at scale this is the exact-rescore baseline every ANN variant is
    * checked against.
    */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    // quantize + norm once per row; per-pair work is one integer dot
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", quantize1e4($"embedding").as("xq"))
      .withColumn("n2", dot64($"xq", $"xq"))
    val q = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"xq".as("qxq"), $"n2".as("qn2"))
    val scored = broadcast(q).join(e, $"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("cid"),
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"qid", $"rank")
  }

  private val bruteForceTopKSql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |           unnest(embedding) AS x FROM embeddings),
      |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
      |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT qid, cid, CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
      |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id),
      |ranked AS (
      |  SELECT qid, cid, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** Prefix-truncation dims / stage-2 shortlist — the r12 study's
    * operating point: 16 of 64 dims (4× candidate-side compression)
    * with R=64 exact rescores per query recovered 0.99+ recall on the
    * clustered corpus (tools/trunc_recall_r12.jsonl). */
  val prefixDims = 16
  val prefixShortlist = 64

  /** Matryoshka-style prefix-truncation ANN, two-stage: shortlist
    * [[prefixShortlist]] candidates per query by cosine over only the
    * FIRST [[prefixDims]] dims, then exact full-dim rescore → top-3.
    * The productized form of the r12 truncation study: the candidate
    * representation is d·8 bytes instead of 512, and only R rows per
    * query ever touch full vectors.
    *
    * Scale shape and when to use it: stage 1 compresses BYTES, not
    * CANDIDATES — it still scans every corpus prefix per query batch
    * (queries broadcast, corpus streams; one shuffle for the
    * per-query head). That is the right trade when the candidate set
    * is already bounded (per-shard search, re-ranking a batch) or the
    * corpus is cache-resident at d·8 B/row; for open-corpus ANN the
    * probed-list pruning of [[ivfPq]] is the 100 TB path (reads
    * nprobe/k of the index instead of all of it). Rotate onto PCA
    * components first when the corpus is clustered — the study
    * measured prefix recall 0.573 → 0.633 (R=16, d=16) from the
    * rotation alone; raw order is kept here because the GATE needs an
    * engine-portable oracle and the rotation is the composition
    * `pcaTopKOn` already covers.
    */
  def prefixTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    val e = embBase(s, Tables.t(s, dir, "embeddings"))
    val ep = e
      .withColumn("pq", slice($"xq", 1, prefixDims))
      .withColumn("pn2", dot64($"pq", $"pq"))
      .persistScoped() // stage 1 and both stage-2 joins read it
    val q = ep.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"xq".as("qxq"), $"n2".as("qn2"),
        $"pq".as("qpq"), $"pn2".as("qpn2"))
    val stage1 = broadcast(q.select($"qid", $"qpq", $"qpn2"))
      .join(ep.select($"vec_id", $"pq", $"pn2"), $"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("cid"),
        cosineFromDots(dot64($"qpq", $"pq"), $"qpn2", $"pn2").as("pcos"))
    val w1 = Window.partitionBy($"qid").orderBy($"pcos".desc, $"cid".asc)
    val cand = stage1.withColumn("rn", row_number().over(w1))
      .filter($"rn" <= prefixShortlist).select($"qid", $"cid")
    val rescored = cand
      .join(ep.select($"vec_id".as("cid"), $"xq", $"n2"), Seq("cid"))
      .join(broadcast(q.select($"qid", $"qxq", $"qn2")), Seq("qid"))
      .select($"qid", $"cid",
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val w2 = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    rescored.withColumn("rank", row_number().over(w2).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"qid", $"rank")
  }

  private val prefixTopKSql =
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, i,
       |  CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |pnorms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS pn2
       |           FROM q WHERE i <= $prefixDims GROUP BY 1),
       |pdots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON a.i = b.i AND a.i <= $prefixDims
       |       AND a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |pscored AS (
       |  SELECT qid, cid, CASE WHEN pa.pn2 = 0 OR pb.pn2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(pa.pn2 / 1e8) * sqrt(pb.pn2 / 1e8)) END AS pcos
       |  FROM pdots JOIN pnorms pa ON qid = pa.vec_id JOIN pnorms pb ON cid = pb.vec_id),
       |cand AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, cid ASC) AS rn
       |    FROM pscored) t WHERE rn <= $prefixShortlist),
       |fdots AS (
       |  SELECT c.qid, c.cid, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
       |  FROM cand c JOIN q a ON a.vec_id = c.qid
       |       JOIN q b ON b.vec_id = c.cid AND a.i = b.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT qid, cid, CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM fdots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  /** Materialized prefix INDEX — the serving split of [[prefixTopK]],
    * making the byte-compression claim physical: (vec_id, pq, pn2)
    * where `pq` is the quantized [[prefixDims]]-dim prefix. Building
    * is one map-side pass over the corpus (zero shuffle — encoding
    * against a fixed dim count is a pure per-row function, so append
    * ≡ full rebuild, same property as [[appendIvfPqIndex]]; the
    * streaming shape is `foreachBatch { (b, _) =>
    * appendPrefixIndex(buildPrefixIndex(b.sparkSession, b), path) }` —
    * pass the BATCH's session: foreachBatch analyzes against a cloned
    * session where later outer-session registrations don't resolve).
    * A probe
    * then scans ONLY the index — dims/64 of the vector bytes — and
    * touches full vectors for shortlist rows per query via the
    * rescore join. Unlike the IVF-PQ layout there is no list pruning:
    * every index ROW is still read per batch (stage 1 compresses
    * bytes, not candidates — [[prefixTopK]]'s scaladoc trade).
    */
  def buildPrefixIndex(s: SparkSession, emb: DataFrame,
      dims: Int = prefixDims): DataFrame = {
    import s.implicits._
    embBase(s, emb)
      .withColumn("pq", slice($"xq", 1, dims))
      .withColumn("pn2", dot64($"pq", $"pq"))
      .select($"vec_id", $"pq", $"pn2")
  }

  def savePrefixIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  def appendPrefixIndex(index: DataFrame, path: String): Unit =
    index.write.mode("append").parquet(path)

  /** Serve prefix-shortlist ANN over a prebuilt index: stage 1 scores
    * query prefixes against the INDEX (broadcast queries, index
    * streams — the corpus's full vectors are not read), stage 2
    * exact-rescores the per-query shortlist against `corpus`.
    * Bit-identical to the fused [[prefixTopK]] on the same frames
    * (PrefixIndexSpec pins it, including through a parquet
    * round-trip of the index).
    *
    * @param excludeSelf drop the corpus vector whose `vec_id` equals
    *   a query's id — the gate's shape (queries ARE corpus rows).
    *   Pass false for an external query batch in its own id space.
    */
  def probePrefixIndex(s: SparkSession, corpus: DataFrame, queries: DataFrame,
      index: DataFrame, dims: Int = prefixDims,
      shortlist: Int = prefixShortlist, k: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    val qbase = embBase(s, queries)
      .select($"vec_id".as("qid"), $"xq".as("qxq"), $"n2".as("qn2"))
      .withColumn("qpq", slice($"qxq", 1, dims))
      .withColumn("qpn2", dot64($"qpq", $"qpq"))
      .persistScoped()
    twoStageProbe(s, qbase, index, embBase(s, corpus), shortlist, k, excludeSelf)
  }

  /** Shared shortlist/rescore core: stage 1 scores the broadcast query
    * representation (qid, qpq, qpn2) against the index's (vec_id, pq,
    * pn2), stage 2 exact-rescores the per-query head against the full
    * corpus vectors. The query frame carries BOTH representations so
    * one persist serves both stages.
    */
  private def twoStageProbe(s: SparkSession, qbase: DataFrame,
      index: DataFrame, corpusBase: DataFrame,
      shortlist: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    import s.implicits._
    val selfFilter = if (excludeSelf) $"qid" =!= $"vec_id" else lit(true)
    val stage1 = broadcast(qbase.select($"qid", $"qpq", $"qpn2"))
      .join(index, selfFilter)
      .select($"qid", $"vec_id".as("cid"),
        cosineFromDots(dot64($"qpq", $"pq"), $"qpn2", $"pn2").as("pcos"))
    val w1 = Window.partitionBy($"qid").orderBy($"pcos".desc, $"cid".asc)
    val cand = stage1.withColumn("rn", row_number().over(w1))
      .filter($"rn" <= shortlist).select($"qid", $"cid")
    val rescored = cand
      .join(corpusBase.select($"vec_id".as("cid"), $"xq", $"n2"), Seq("cid"))
      .join(broadcast(qbase.select($"qid", $"qxq", $"qn2")), Seq("qid"))
      .select($"qid", $"cid",
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val w2 = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    rescored.withColumn("rank", row_number().over(w2).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"qid", $"rank")
  }

  /** PCA-ROTATED prefix index — the productized form of the r12
    * truncation-study composition: project every vector onto a frozen
    * [[PcaModel]] basis first ([[pcaServeOn]], stateless map-side),
    * and index the leading `dims` integer PROJECTIONS instead of the
    * leading stored coordinates. PCA orders dims by explained
    * variance, so the rotated prefix carries strictly more of the
    * corpus's similarity structure than the raw prefix at the same
    * byte budget whenever energy is NOT already axis-concentrated —
    * the study measured 0.573 → 0.633 recall from the rotation alone
    * (R=16, d=16, clustered corpus), and RotatedPrefixSpec pins the
    * win on a planted low-rank corpus. Same scale shape as
    * [[buildPrefixIndex]]: one zero-shuffle pass, append ≡ rebuild.
    *
    * The projections stay on their integer grid (no float round-trip):
    * cosine is scale-invariant and [[cosineFromDots]]'s 1e8 factors
    * cancel, so [[dot64]] arithmetic carries over unchanged — with
    * |proj| ≤ 64·200·1000 the stage-1 dot is ≤ dims·1.7e14, safely
    * inside int64 for any dims ≤ 16.
    */
  def buildRotatedPrefixIndex(s: SparkSession, emb: DataFrame,
      model: PcaModel, dims: Int): DataFrame = {
    import s.implicits._
    require(dims >= 1 && dims <= model.k,
      s"dims must be in [1, model.k=${model.k}]: $dims")
    graft.functions.GraftExtensions.register(s)
    graft.functions.GraftExtensions.register(emb.sparkSession) // see embBase
    val projCols = (1 to dims).map(c => col(s"pca_proj$c"))
    pcaServeOn(emb, model)
      .select($"vec_id", array(projCols: _*).as("pq"))
      .withColumn("pn2", dot64($"pq", $"pq"))
      .select($"vec_id", $"pq", $"pn2")
  }

  /** Probe a [[buildRotatedPrefixIndex]] layout: stage 1 rotates the
    * QUERY vectors through the same frozen model and scores them
    * against the rotated index; stage 2 exact-rescores against the
    * ORIGINAL full-dim corpus vectors — rotation only ever steers
    * candidate generation, never the final ranking.
    */
  def probeRotatedPrefixIndex(s: SparkSession, corpus: DataFrame,
      queries: DataFrame, model: PcaModel, index: DataFrame, dims: Int,
      shortlist: Int = prefixShortlist, k: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    require(dims >= 1 && dims <= model.k,
      s"dims must be in [1, model.k=${model.k}]: $dims")
    graft.functions.GraftExtensions.register(s)
    graft.functions.GraftExtensions.register(queries.sparkSession) // see embBase
    val projCols = (1 to dims).map(c => col(s"pca_proj$c"))
    val qbase = pcaServeOn(queries, model)
      .select($"vec_id".as("qid"), quantize1e4($"embedding").as("qxq"),
        array(projCols: _*).as("qpq"))
      .withColumn("qn2", dot64($"qxq", $"qxq"))
      .withColumn("qpn2", dot64($"qpq", $"qpq"))
      .persistScoped()
    twoStageProbe(s, qbase, index, embBase(s, corpus), shortlist, k, excludeSelf)
  }

  /** Sign-LSH bucket for the first `bits` dimensions (coarse quantizer):
    * bucket = Σ [x_i > 0]·2^(i-1). Deterministic — no RNG needed.
    */
  def signBucket(emb: Column, bits: Int): Column =
    (1 to bits).map { i =>
      when(element_at(emb, i).cast("double") > 0.0, lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)

  private def signBucketSql(bits: Int): String =
    (1 to bits).map { i =>
      s"(CASE WHEN embedding[$i] > 0 THEN ${1L << (i - 1)} ELSE 0 END)"
    }.mkString(" + ")

  /** Bucketed (IVF/LSH-style) ANN: candidates restricted to the query's
    * sign bucket, then exact bridged-cosine top-3 within the bucket.
    * The bucket is the shuffle/partition key — at 100 TB each probe
    * touches 1/2^bits of the corpus instead of all of it.
    */
  def lshBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val bits = 6
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", signBucket($"embedding", bits).as("bucket"),
        quantize1e4($"embedding").as("xq"))
      .withColumn("n2", dot64($"xq", $"xq"))
    val q = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"xq".as("qxq"), $"bucket", $"n2".as("qn2"))
    val scored = broadcast(q).join(e, Seq("bucket"))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("cid"), $"bucket",
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"qid", $"rank")
  }

  private val lshBucketedSql = {
    val b = signBucketSql(6)
    s"""WITH eb AS (SELECT vec_id, embedding, CAST($b AS BIGINT) AS bucket FROM embeddings),
       |e AS (SELECT vec_id, bucket, generate_subscripts(embedding, 1) AS i,
       |      unnest(embedding) AS x FROM eb),
       |q AS (SELECT vec_id, bucket, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid, a.bucket,
       |    CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON a.i = b.i AND a.bucket = b.bucket
       |    AND a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT qid, cid, bucket, CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id),
       |ranked AS (
       |  SELECT qid, cid, bucket, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, cid, bucket, cos, rank FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** IVF codebook size, k-means refinement rounds, and probe width. */
  val ivfK = 16
  val ivfIters = 2
  val ivfNprobe = 2

  /** IVF ANN with a TRAINED codebook: k-means (k=16, 2 refinement
    * rounds, seeded by the vectors with vec_id < 16) run entirely in
    * DataFrame ops, then inverted-list search probing the nprobe=2
    * nearest lists per query with exact bridged-cosine rescoring.
    *
    * Cross-engine determinism of the training loop: vectors are
    * quantized to 1e4-scaled longs; L2 distances are exact integer
    * sums of squared deltas (≤ 64·(1.2e5)² ≈ 9e11, no overflow);
    * updated centroid components are re-quantized to the same grid
    * with a single round(sum/count) — one IEEE double division of
    * exact integers, bit-identical in Spark and DuckDB. Ties in the
    * argmin break by centroid id. A cluster that loses all members
    * drops out (k shrinks) — same rule on both sides.
    *
    * At 100 TB: each assignment pass is one broadcast of the ≤16-row
    * codebook and a map-side argmin; the update is one shuffle keyed
    * by (centroid, dim); probing broadcasts the query set and touches
    * nprobe/k of the corpus via the inverted-list equi-join.
    */
  def ivf(s: SparkSession, dir: String): DataFrame = ivfWithNprobe(s, dir, ivfNprobe)

  /** [[ivf]] with an explicit probe width — IvfSpec sweeps nprobe and
    * asserts recall@3 vs brute force is monotonically non-decreasing,
    * documenting the recall/cost curve instead of a single pinned point.
    */
  private[graft] def ivfWithNprobe(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfWithParams(s, dir, ivfK, ivfIters, nprobe)

  /** Fully parameterized IVF — codebook size and refinement rounds are
    * deployment knobs (k=16 is fixture scale; a 100 TB corpus wants
    * k ≈ √N lists so each probe touches ~nprobe·N/k vectors). The
    * catalog query pins (k=16, iters=2) so the DuckDB oracle's unrolled
    * k-means CTE stays its exact twin; IvfSpec exercises larger k
    * through this entry point (PLANS.md, "IVF recall/cost at deployment
    * k on the 10× fixture").
    */
  /** The k-means front end shared by [[ivf]] and [[semanticDedup]]:
    * quantized embedding table (persisted — every training pass and
    * downstream rescore reads it), trained coarse codebook (persisted,
    * ≤k tiny rows), and the final inverted-list assignment.
    * Identical op-for-op to the loop the `q_sim_ivf` oracle unrolls
    * ([[ivfPq]] inlines the same loop alongside its PQ training).
    */
  /** Quantized corpus base frame — (vec_id, xq grid-1e4 longs, n2
    * exact squared norm), persisted (read by every k-means pass, the
    * probes, and the rescore).
    */
  private[graft] def embBase(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    // register on the FRAME's session, not (only) the passed one:
    // inside foreachBatch the micro-batch analyzes against a cloned
    // session, and a function registered on the outer session after
    // the clone was taken does not resolve there (caught live by
    // StreamingPipelineSpec's ANN-maintenance case)
    graft.functions.GraftExtensions.register(s)
    graft.functions.GraftExtensions.register(emb.sparkSession)
    emb.select($"vec_id", quantize1e4($"embedding").as("xq"))
      .withColumn("n2", dot64($"xq", $"xq"))
      .persistScoped()
  }

  // custom codegen expression: fused integer loop (see SqDist64)
  private def sqd(xq: Column, cq: Column): Column = call_function("sqdist64", xq, cq)

  /** The pqM×pqSub subvector slices of a quantized vector via the
    * native codegen [[graft.functions.SubvecSlicesExpr]] — one fused
    * loop instead of the interpreted `transform(sequence, slice)` HOF
    * chain (CodegenFallback broke whole-stage codegen at the head of
    * every PQ encode scan — the Quantize1e4/MinHash6 failure mode).
    * SubvecSlicesSpec pins parity with the HOF reference.
    */
  private def subvSlices(xq: Column): Column =
    org.apache.spark.sql.graftaccess.ColumnBridge.column(
      graft.functions.SubvecSlicesExpr(
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(xq), pqM, pqSub))

  /** Residual (xq − ccq) subvector slices in ONE fused loop — the
    * intermediate difference array of the zip_with+transform reference
    * is never materialized. SubvecSlicesSpec pins parity with the
    * zip_with+transform reference, as for [[subvSlices]].
    */
  private def residualSubvSlices(xq: Column, ccq: Column): Column =
    org.apache.spark.sql.graftaccess.ColumnBridge.column(
      graft.functions.ResidualSubvecSlicesExpr(
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(xq),
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(ccq),
        pqM, pqSub))

  /** Nearest centroid per vector (exact integer L2, ties by cid):
    * min_by over the (d, cid) pair ≡ a row_number window's ORDER BY
    * d, cid LIMIT 1, but as a HASH aggregate with map-side partial
    * min — no sort, no full shuffle of the k·N scored rows (the
    * scored table is map-side from the broadcast, so the only
    * exchange is the partial-aggregated per-vector minima).
    */
  private def coarseAssign(base: DataFrame, cents: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    base.select($"vec_id", $"xq").crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", sqd($"xq", $"cq").as("d"))
      .groupBy($"vec_id")
      .agg(min_by($"cid", struct($"d", $"cid")).as("centroid"))
  }

  /** [[coarseAssign]] that KEEPS the vector payload: (vec_id, xq, n2,
    * centroid) in one aggregation, for consumers that would otherwise
    * join the assignment straight back to `base` on vec_id (the
    * semantic-dedup/admission pair stages). The payload rides the
    * scored rows into the same map-side partial min — `first(xq)` over
    * rows that all carry the SAME xq/n2 per vec_id is value-
    * deterministic — so the join-back exchange (and at scale, a full
    * batch-sized shuffle per admission tick) disappears from the plan.
    */
  private def coarseAssignWith(base: DataFrame, cents: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    base.select($"vec_id", $"xq", $"n2").crossJoin(broadcast(cents))
      .select($"vec_id", $"xq", $"n2", $"cid", sqd($"xq", $"cq").as("d"))
      .groupBy($"vec_id")
      .agg(min_by($"cid", struct($"d", $"cid")).as("centroid"),
        first($"xq").as("xq"), first($"n2").as("n2"))
      .select($"vec_id", $"xq", $"n2", $"centroid")
  }

  /** Deterministic k-means codebook: seed = first k vectors, `iters`
    * (assign, per-dimension member mean re-quantized to the grid)
    * rounds. Returns the persisted ≤k-row codebook (cid, cq).
    */
  private def kmeansTrain(base: DataFrame, k: Int, iters: Int): DataFrame = {
    import base.sparkSession.implicits._
    kmeansTrainSeeded(base,
      base.filter($"vec_id" < k).select($"vec_id".as("cid"), $"xq".as("cq")), iters)
  }

  /** [[kmeansTrain]] with an EXPLICIT seed codebook (cid, cq) — the
    * rebucket path seeds on the first-k roster vectors BY RANK instead
    * of `vec_id < k` (an admitted roster's ids are an arbitrary
    * subset, so the id-based seed rule could yield fewer than k — or
    * zero — seeds there). Same refinement loop either way.
    */
  private[ops] def kmeansTrainSeeded(base: DataFrame, seed: DataFrame,
      iters: Int): DataFrame = {
    import base.sparkSession.implicits._
    import graft.CacheScope._
    def update(assigned: DataFrame): DataFrame = {
      val dims = assigned.join(
        base.select($"vec_id", posexplode($"xq").as(Seq("pos", "v"))), Seq("vec_id"))
      dims.groupBy($"centroid", $"pos")
        .agg(round(sum($"v").cast("double") / count(lit(1))).cast("long").as("cq1"))
        .groupBy($"centroid")
        .agg(transform(array_sort(collect_list(struct($"pos", $"cq1"))), p => p("cq1")).as("cq"))
        .select($"centroid".as("cid"), $"cq")
    }
    var cents = seed
    for (_ <- 1 to iters) cents = update(coarseAssign(base, cents))
    // persist the trained codebook (tiny): the final list assignment
    // AND the query probes both read it — without the cache each
    // reference re-executes the whole training DAG
    cents.persistScoped()
  }

  private[graft] def coarseFrontEnd(s: SparkSession, dir: String, k: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = embBase(s, Tables.t(s, dir, "embeddings"))
    // (rescore is dot64 over the same quantized vectors — scale
    // (1e4)^2 = 1e8, so cosineFromDots is unchanged)
    val cents = kmeansTrain(base, k, iters)
    (base, cents, coarseAssign(base, cents))
  }

  private[graft] def ivfWithParams(
      s: SparkSession, dir: String, k: Int, iters: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    def sqDist(xq: Column, cq: Column): Column = call_function("sqdist64", xq, cq)
    val (base, cents, assigned) = coarseFrontEnd(s, dir, k, iters)
    // probe the nprobe nearest inverted lists per query
    val qScored = base.filter($"vec_id" % 50 === 0).select($"vec_id".as("qid"), $"xq")
      .crossJoin(broadcast(cents))
      .select($"qid", $"cid", sqDist($"xq", $"cq").as("d"))
    val wp = Window.partitionBy($"qid").orderBy($"d".asc, $"cid".asc)
    val probes = qScored.withColumn("rn", row_number().over(wp)).filter($"rn" <= nprobe)
      .select($"qid", $"cid".as("centroid"))
    val cand = broadcast(probes).join(assigned, Seq("centroid"))
      .filter($"vec_id" =!= $"qid")
    val scored = cand
      .join(base.select($"vec_id".as("qid"), $"xq".as("qxq"), $"n2".as("qn2")), Seq("qid"))
      .join(base.select($"vec_id", $"xq", $"n2"), Seq("vec_id"))
      .select($"qid", $"vec_id".as("cid"), $"centroid",
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val wr = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    scored.withColumn("rank", row_number().over(wr).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"qid", $"rank")
  }

  private val ivfSql = {
    // one (distance, argmin-assign, centroid-update) round per iteration,
    // mirroring the DataFrame loop CTE-for-CTE
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $ivfK),
       |$iters,
       |d$fin AS (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin WHERE vec_id % 50 = 0) t WHERE rn <= $ivfNprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid, p.centroid
       |  FROM probes p JOIN a$fin a ON p.centroid = a.centroid AND a.vec_id <> p.qid),
       |dots AS (
       |  SELECT c.qid, c.cid, c.centroid, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.qid
       |  JOIN q qb ON qb.vec_id = c.cid AND qa.i = qb.i
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT qid, cid, centroid,
       |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id),
       |ranked AS (
       |  SELECT qid, cid, centroid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, cid, centroid, cos, rank FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** Product-quantization parameters: m subspaces of dim/m components,
    * k codes per subspace, one k-means refinement round (seeded by the
    * first k vectors' subvectors — deterministic, the [[ivf]]
    * convention). 8×16 codes = 8 half-byte codes = 4 bytes/vector at
    * 64 dims — the 16× compression tier below [[int8Quantize]]'s 64
    * bytes. m=8 (8 dims per subspace) rather than m=4: the SAME
    * storage (m·log2 k = 32 bits either way) buys finer subspace
    * resolution where it matters — ordering NEAR neighbors. Measured
    * (PLANS.md round-8): [[ivfPq]]'s shortlist recall@3 vs
    * exact-on-the-same-candidates went 0.40 (m=4) → 0.47 (m=8) at
    * R=10 and clears the spec's 0.5 floor at R=20, putting end-to-end
    * IVF-PQ at 0.43 vs brute force at sf0.01 — right at the 0.47
    * candidate ceiling of nprobe=2 probing.
    */
  val pqM = 8
  val pqSub = 8 // dims per subspace (64 / pqM)
  val pqK = 16

  /** PQ-ADC approximate nearest neighbors — the third rung of the
    * ANN-at-scale ladder after [[lshBucketed]] (coarse candidate
    * pruning) and [[int8Quantize]] (per-vector scalar compression):
    * per-SUBSPACE codebooks quantize each vector to [[pqM]] byte codes,
    * and query-to-vector distance becomes an asymmetric-distance
    * (ADC) TABLE LOOKUP — Σ_sub qd[query, sub, code(v, sub)] — instead
    * of a 64-component dot product. Candidates come from the proven
    * sign-bucket equi-join (never an all-pairs scan), so this row is
    * the bucket+PQ HYBRID a real 100 TB serving stack runs: buckets
    * bound candidates, PQ makes scoring them ~m adds each, and the
    * stored index is codes (4 B/vector) + one k·m-row codebook — the
    * corpus's float vectors never page in at query time.
    *
    * Cross-engine determinism mirrors [[ivf]]: subvectors live on the
    * 1e4 integer grid, L2 distances are exact integer sums, the one
    * centroid-mean division is a single IEEE round(sum/count), argmin
    * ties break by code id, ADC sums are exact longs. The one
    * all-(vector,code) distance table `d2` deliberately serves BOTH
    * the encoding argmin and the query ADC tables — computed once,
    * broadcast twice.
    */
  def pqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    def sqDist(a: Column, b: Column): Column = call_function("sqdist64", a, b)
    val bits = 6
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", signBucket($"embedding", bits).as("bucket"),
        quantize1e4($"embedding").as("xq"))
      .persistScoped()
    // subvector slices, map-side: (vec_id, sub, sxq[pqSub]) — native
    // fused slicing (SubvecSlicesSpec pins it against the HOF slice shape)
    val subv = e.select($"vec_id", posexplode(subvSlices($"xq")).as(Seq("sub", "sxq")))
      .persistScoped()
    // seed codebook: first pqK vectors' subvectors
    val c0 = subv.filter($"vec_id" < pqK)
      .select($"sub", $"vec_id".as("cid"), $"sxq".as("cq"))
    def assign(cents: DataFrame): DataFrame =
      subv.join(broadcast(cents), Seq("sub"))
        .select($"vec_id", $"sub", $"cid", sqDist($"sxq", $"cq").as("d"))
        .groupBy($"vec_id", $"sub")
        .agg(min_by($"cid", struct($"d", $"cid")).as("code"))
    // one refinement round: per-(sub, code, spos) member mean on the grid
    val c1 = assign(c0)
      .join(subv, Seq("vec_id", "sub"))
      .select($"sub", $"code".as("cid"), posexplode($"sxq").as(Seq("spos", "v")))
      .groupBy($"sub", $"cid", $"spos")
      .agg(round(sum($"v").cast("double") / count(lit(1))).cast("long").as("cq1"))
      .groupBy($"sub", $"cid")
      .agg(transform(array_sort(collect_list(struct($"spos", $"cq1"))), p => p("cq1")).as("cq"))
      .persistScoped()
    // d2: every (vector, sub, code) distance vs the trained codebook —
    // one table, two consumers (encoding argmin + query ADC lookups)
    val d2 = subv.join(broadcast(c1), Seq("sub"))
      .select($"vec_id", $"sub", $"cid", sqDist($"sxq", $"cq").as("d"))
      .persistScoped()
    val codes = d2.groupBy($"vec_id", $"sub")
      .agg(min_by($"cid", struct($"d", $"cid")).as("code"))
    val qd = d2.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"sub", $"cid".as("code"), $"d")
    val cand = broadcast(e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"bucket"))
      .join(e.select($"vec_id", $"bucket"), Seq("bucket"))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id")
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qd), Seq("qid", "sub", "code"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d").as("adc"))
    val w = Window.partitionBy($"qid").orderBy($"adc".asc, $"vec_id".asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"vec_id".as("cid"), $"adc")
      .orderBy($"qid", $"rank")
  }

  private val pqAdcSql = {
    val b = signBucketSql(6)
    s"""WITH eb AS (SELECT vec_id, CAST($b AS BIGINT) AS bucket FROM embeddings),
       |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |       unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, (i - 1) // $pqSub AS sub, (i - 1) % $pqSub AS spos,
       |       CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |c0 AS (SELECT sub, vec_id AS cid, spos, xq AS cq FROM q WHERE vec_id < $pqK),
       |d1 AS (
       |  SELECT v.vec_id, v.sub, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c0 c ON v.sub = c.sub AND v.spos = c.spos GROUP BY 1, 2, 3),
       |a1 AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cid ASC) AS rn
       |    FROM d1) t WHERE rn = 1),
       |c1 AS (
       |  SELECT v.sub, a.code AS cid, v.spos,
       |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |  FROM a1 a JOIN q v ON a.vec_id = v.vec_id AND a.sub = v.sub
       |  GROUP BY 1, 2, 3),
       |d2 AS (
       |  SELECT v.vec_id, v.sub, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c1 c ON v.sub = c.sub AND v.spos = c.spos GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cid ASC) AS rn
       |    FROM d2) t WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS qid, b.vec_id
       |  FROM eb a JOIN eb b ON a.bucket = b.bucket
       |    AND a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
       |adc AS (
       |  SELECT c.qid, c.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc
       |  FROM cand c
       |  JOIN codes cv ON cv.vec_id = c.vec_id
       |  JOIN d2 qd ON qd.vec_id = c.qid AND qd.sub = cv.sub AND qd.cid = cv.code
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, vec_id, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rank
       |  FROM adc)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS cid, adc
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** IVF-PQ — the composition every public ANN serving stack (FAISS
    * IndexIVFPQ) converged on, at a MEASURED operating point: the
    * trained coarse quantizer ([[coarseFrontEnd]], the exact
    * `q_sim_ivf` k-means arithmetic, but at its own catalog constants
    * [[ivfPqK]]/[[ivfPqNprobe]] — k ≈ √N lists, probe fraction
    * nprobe/k) generates candidates; scoring is TWO-STAGE: table-lookup
    * ADC over [[pqM]] RESIDUAL byte codes shortlists
    * [[ivfPqShortlist]] candidates per query, then an exact
    * integer-dot rescore ranks only the shortlist.
    *
    * RESIDUAL encoding (the r8→r9 fix): PQ codes quantize
    * `x − c(x)` — each vector's offset from its assigned coarse
    * centroid — not `x` itself. Within one inverted list every member
    * shares the same coarse centroid, so codes spent on the shared
    * component are wasted; coding the residual is what makes the fine
    * codes informative INSIDE a list (the standard FAISS IVFPQ
    * composition). The query side mirrors it: ADC tables are built
    * per (query, probed list) from the query's residual against THAT
    * list's centroid, so ADC(q,v) = Σ_sub ‖(q−c)_sub − code(v)_sub‖²
    * estimates ‖q − x_v‖² exactly as FAISS does. Measured at sf0.1
    * (PLANS.md r9 "IVF-PQ operating envelope"): recall@3 vs brute
    * force 0.26 (r8 constants) → 0.583 at the shipped
    * (k=128, nprobe=32, R=64), with probe fraction nprobe/k = 25 %
    * and the IVF candidate ceiling at 0.817 — on near-random
    * synthetic embeddings, the hardest case for ANN. On clustered
    * corpora the same path needs only a 1.6–4.7 % probe fraction for
    * recall@3 0.98–1.0 — MEASURED on mixture-of-Gaussians fixtures at
    * three separations (PLANS.md r11 table), vs 0.24–0.41 at those
    * fractions on the isotropic fixture.
    *
    * At 100 TB this is the index layout that actually serves: inverted
    * lists bound candidates to ~nprobe·N/k vectors, the stored index
    * is 4 B codes + two tiny codebooks, the ADC stage touches code
    * tables only, and the float corpus is hit for exactly R rows per
    * query (the shortlist rescore). Every training/encoding step
    * reuses the exact integer-grid arithmetic the `q_sim_ivf` and
    * `q_sim_pq` gates already pin (deterministic seeds, integer L2 —
    * residuals are exact long differences — argmin ties by id, one
    * IEEE division per centroid mean), so the composed row stays
    * hash-identical to the DuckDB oracle.
    */
  /** The `q_sim_ivfpq` catalog row, in its PRODUCTION shape (r12):
    * train the codebooks and build the list-partitioned index ONCE
    * per (JVM, fixture dir) — frozen to parquet exactly as a
    * deployment would — then serve the query batch by
    * [[probeIvfPq]] over the frozen artifacts. Results are
    * bit-identical to the fused in-row training
    * ([[ivfPqWithParams]]; IvfPqModelSpec pins the equivalence
    * including parquet round-trips), so the DuckDB oracle — which
    * recomputes the full training chain — still checks the composed
    * training arithmetic differentially on the gate's single
    * execution (the cache MISS trains). What changes is what the
    * min-of-N BENCH row measures: warm iterations hit the cached
    * artifacts, so the board number is the directory-pruned
    * index-load + probe cost a serving fleet actually pays per query
    * batch, not a per-query codebook retraining that no deployment
    * runs (r11 verdict #8). Training stays on the board via
    * `q_sim_ivf` (coarse k-means chain) and `q_sim_pq` (PQ chain).
    */
  def ivfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = (dir, embeddingsFingerprint(s, dir))
    val (modelPath, indexPath) = ivfPqArtifacts.getOrElseUpdate(key, {
      val base = java.nio.file.Files.createTempDirectory("graft-ivfpq-served").toString
      val emb = Tables.t(s, dir, "embeddings")
      val model = trainIvfPq(s, emb)
      saveIvfPqModel(model, s"$base/model")
      // grouped layout at the k-adaptive width — the r14 default;
      // width from the model's own list count (r15 advice: the
      // increment's max centroid under-counts on skewed assignments)
      saveIvfPqIndexGroupedAuto(indexIvfPq(s, emb, model), s"$base/index",
        Some(model.coarse.count()))
      (s"$base/model", s"$base/index")
    })
    val emb = Tables.t(s, dir, "embeddings")
    val (idx, width) = loadIvfPqIndexLayout(s, indexPath)
    probeIvfPq(s, emb, emb.filter($"vec_id" % 50 === 0),
      loadIvfPqModel(s, modelPath), idx, listsPerDir = width)
  }

  /** How many vec_ids the FIXED serving batch of [[ivfPqServe]] draws
    * from: `vec_id % 50 = 0 AND vec_id < 20000` — at most 400 queries
    * however large the corpus grows. */
  val ivfPqServeIdCeiling = 20000L

  /** The `q_sim_ivfpq_serve` catalog row (r15): [[ivfPq]]'s frozen
    * artifacts probed by a FIXED-SIZE query batch. The original gate
    * row's batch is every-50th-vector, so it grows ∝ N by construction
    * and its 100× exponent reads ≈ 1.0 no matter how well the index
    * prunes (r13 diagnosis) — a deployment serves a bounded QPS
    * against a growing corpus, which is exactly this row's shape: the
    * batch is capped at 400 queries ([[ivfPqServeIdCeiling]]), so the
    * scale-up exponent measures the SERVING design (directory-pruned
    * probe cost per query as the index grows) rather than the gate's
    * N² batch. Shares the frozen model/index cache with [[ivfPq]]
    * (same key), so the board pays training once across both rows.
    */
  def ivfPqServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = (dir, embeddingsFingerprint(s, dir))
    val (modelPath, indexPath) = ivfPqArtifacts.getOrElseUpdate(key, {
      val base = java.nio.file.Files.createTempDirectory("graft-ivfpq-served").toString
      val emb = Tables.t(s, dir, "embeddings")
      val model = trainIvfPq(s, emb)
      saveIvfPqModel(model, s"$base/model")
      saveIvfPqIndexGroupedAuto(indexIvfPq(s, emb, model), s"$base/index",
        Some(model.coarse.count()))
      (s"$base/model", s"$base/index")
    })
    val emb = Tables.t(s, dir, "embeddings")
    val (idx, width) = loadIvfPqIndexLayout(s, indexPath)
    probeIvfPq(s, emb,
      emb.filter($"vec_id" % 50 === 0 && $"vec_id" < ivfPqServeIdCeiling),
      loadIvfPqModel(s, modelPath), idx, listsPerDir = width)
  }

  /** Frozen-artifact cache for [[ivfPq]], keyed by (fixture dir,
    * content fingerprint) — model + index parquet PATHS (never
    * DataFrames: cached plans would be invalidated by the bench's
    * per-query cache drains). The fingerprint half of the key is what
    * keeps the cache HONEST within one JVM: a fixture regenerated in
    * place (ScaleUp/SignalFixture reruns, tests reusing a tmp path)
    * changes the file listing/sizes/mtimes, so the stale codebooks
    * train fresh instead of silently serving wrong neighbors.
    */
  private val ivfPqArtifacts =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, String)]

  /** Listing-level fingerprint of `<dir>/embeddings.parquet` —
    * [[graft.connect.Hfs.listingFingerprint]]: metadata-only, one
    * namenode listing per [[ivfPq]] call.
    */
  private def embeddingsFingerprint(s: SparkSession, dir: String): String =
    graft.connect.Hfs.listingFingerprint(s, s"$dir/embeddings.parquet")

  /** Drop all frozen [[ivfPq]] artifacts — the explicit invalidation
    * hook for fixture-regenerating tools and tests (belt to the
    * fingerprint key's suspenders).
    */
  private[graft] def clearIvfPqArtifacts(): Unit = ivfPqArtifacts.clear()

  /** The fused train-in-row form of the gate row — the differential
    * twin [[ivfPq]]'s first call reproduces; kept callable for specs
    * and parameter sweeps. */
  private[graft] def ivfPqFused(s: SparkSession, dir: String): DataFrame =
    ivfPqWithParams(s, dir, ivfPqK, ivfIters, ivfPqNprobe, ivfPqShortlist)

  /** [[ivfPq]] with explicit deployment knobs — the (k, nprobe, R)
    * sweeps in PLANS.md ran through this entry point; the catalog row
    * pins the named constants so the oracle chain stays its twin.
    */
  private[graft] def ivfPqWithParams(s: SparkSession, dir: String,
      k: Int, iters: Int, nprobe: Int, shortlist: Int): DataFrame = {
    import s.implicits._
    val (e, cents, assigned0) = coarseFrontEnd(s, dir, k, iters)
    val assigned = assigned0.persistScoped() // read by residuals AND candidates
    val subv = residualSubv(e, cents, assigned).persistScoped()
    val c1 = pqTrain(subv).persistScoped()
    val codes = pqAssign(subv, c1)
    val queries = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"xq", $"n2")
    ivfPqProbe(e, cents, c1, assigned, codes, queries, nprobe, shortlist)
  }

  /** Residual subvector slices, map-side: (vec_id, sub, sxq[pqSub]).
    * The residual x − c(x) is an exact long difference on the grid.
    */
  private def residualSubv(e: DataFrame, cents: DataFrame,
      assigned: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val centCols = cents.select($"cid".as("centroid"), $"cq".as("ccq"))
    val joined = assigned.join(e.select($"vec_id", $"xq"), Seq("vec_id"))
      .join(broadcast(centCols), Seq("centroid"))
    joined.select($"vec_id",
      posexplode(residualSubvSlices($"xq", $"ccq")).as(Seq("sub", "sxq")))
  }

  /** PQ encoding: per-(vector, subspace) argmin code against a
    * codebook, ties by code id — hash aggregate, no window.
    */
  private def pqAssign(subv: DataFrame, cb: DataFrame): DataFrame = {
    import subv.sparkSession.implicits._
    subv.join(broadcast(cb), Seq("sub"))
      .select($"vec_id", $"sub", $"cid", sqd($"sxq", $"cq").as("d"))
      .groupBy($"vec_id", $"sub")
      .agg(min_by($"cid", struct($"d", $"cid")).as("code"))
  }

  /** PQ codebook over residual subvectors: seed = first pqK vectors'
    * residual subvectors, one refinement round (the q_sim_pq
    * convention).
    */
  private def pqTrain(subv: DataFrame): DataFrame = {
    import subv.sparkSession.implicits._
    val c0 = subv.filter($"vec_id" < pqK)
      .select($"sub", $"vec_id".as("cid"), $"sxq".as("cq"))
    pqAssign(subv, c0)
      .join(subv, Seq("vec_id", "sub"))
      .select($"sub", $"code".as("cid"), posexplode($"sxq").as(Seq("spos", "v")))
      .groupBy($"sub", $"cid", $"spos")
      .agg(round(sum($"v").cast("double") / count(lit(1))).cast("long").as("cq1"))
      .groupBy($"sub", $"cid")
      .agg(transform(array_sort(collect_list(struct($"spos", $"cq1"))), p => p("cq1")).as("cq"))
  }

  /** The IVF-PQ serving path over a trained model and an encoded
    * corpus: probe → per-(query, list) residual ADC tables → ADC
    * shortlist → exact rescore of the shortlist only. `e` is the
    * corpus base (vec_id, xq, n2); `queries` is (qid, xq, n2).
    */
  /** nprobe nearest inverted lists per query (same integer argmin as
    * ivf) — (qid, centroid).
    */
  private def probeLists(cents: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame = {
    import cents.sparkSession.implicits._
    val qScored = queries.select($"qid", $"xq")
      .crossJoin(broadcast(cents))
      .select($"qid", $"cid", sqd($"xq", $"cq").as("d"))
    val wp = Window.partitionBy($"qid").orderBy($"d".asc, $"cid".asc)
    qScored.withColumn("rn", row_number().over(wp)).filter($"rn" <= nprobe)
      .select($"qid", $"cid".as("centroid"))
  }

  private def ivfPqProbe(e: DataFrame, cents: DataFrame, c1: DataFrame,
      assigned: DataFrame, codes: DataFrame, queries: DataFrame,
      nprobe: Int, shortlist: Int,
      probesOpt: Option[DataFrame] = None,
      excludeSelf: Boolean = true,
      topK: Int = 3): DataFrame = {
    import e.sparkSession.implicits._
    val centCols = cents.select($"cid".as("centroid"), $"cq".as("ccq"))
    val probes = probesOpt.getOrElse(probeLists(cents, queries, nprobe))
    // per-(query, probed list) residual ADC tables: the query's
    // residual is against THAT list's centroid — nprobe tables per
    // query, each pqM·pqK entries (tiny, broadcast)
    val qres = broadcast(probes)
      .join(queries.select($"qid", $"xq"), Seq("qid"))
      .join(broadcast(centCols), Seq("centroid"))
    val qsub = qres.select($"qid", $"centroid",
      posexplode(residualSubvSlices($"xq", $"ccq")).as(Seq("sub", "sq")))
    val qd = qsub.join(broadcast(c1), Seq("sub"))
      .select($"qid", $"centroid", $"sub", $"cid".as("code"), sqd($"sq", $"cq").as("d"))
    // IVF candidates carry their list id so ADC joins the MATCHING
    // per-list query table. Self-match exclusion is only meaningful
    // when queries ARE corpus rows (the gate's corpus-self-query
    // shape) — an external query batch in its own id space must NOT
    // drop the corpus vector that happens to share an id.
    val cand0 = broadcast(probes).join(assigned, Seq("centroid"))
    val cand = (if (excludeSelf) cand0.filter($"vec_id" =!= $"qid") else cand0)
      .select($"qid", $"centroid", $"vec_id")
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qd), Seq("qid", "centroid", "sub", "code"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d").as("adc"))
    // stage 1 — ADC shortlist, scored in the FINAL metric: the ADC L2
    // estimate plus exact stored norms give 2·dot ≈ |q|² + |v|² − d
    // (polarization identity, exact longs), i.e. a cosine estimate.
    // Codes are deliberately too coarse to ORDER intra-list neighbors
    // but plenty to SHORTLIST them — ADC prunes the probed lists to
    // `shortlist` candidates per query and only those R vectors are
    // fetched for stage 2's exact rescore. That is the two-stage
    // serving pattern: codes bound the scan, exact floats touch R
    // rows per query, never the corpus.
    val scoredAdc = adc
      .join(queries.select($"qid", $"n2".as("qn2")), Seq("qid"))
      .join(e.select($"vec_id", $"n2"), Seq("vec_id"))
      .select($"qid", $"vec_id",
        (cosineFromDots($"qn2" + $"n2" - $"adc", $"qn2", $"n2") / 2).as("cos_adc"))
    val wAdc = Window.partitionBy($"qid").orderBy($"cos_adc".desc, $"vec_id".asc)
    val shortlistDf = scoredAdc.withColumn("rn", row_number().over(wAdc))
      .filter($"rn" <= shortlist)
      .select($"qid", $"vec_id")
    // stage 2 — exact integer-dot rescore of the shortlist only
    val rescored = shortlistDf
      .join(queries.select($"qid", $"xq".as("qxq"), $"n2".as("qn2")), Seq("qid"))
      .join(e.select($"vec_id", $"xq", $"n2"), Seq("vec_id"))
      .select($"qid", $"vec_id".as("cid"),
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= topK)
      .select($"qid", $"rank", $"cid", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** Persistable IVF-PQ model: the two tiny trained codebooks —
    * `coarse` (cid, cq) inverted-list centroids and `pq` (sub, cid,
    * cq) residual subspace codes. Together a few KB: the entire
    * serving-side artifact besides the per-vector codes.
    */
  final case class IvfPqModel(coarse: DataFrame, pq: DataFrame)

  /** OFFLINE codebook training — the production split of the
    * [[ivfPq]] gate row (whose in-row training cost is a gate
    * artifact; a deployment trains once on a sample, then indexes and
    * serves any number of corpora/batches with the frozen model).
    * Same deterministic arithmetic as the gate: train → index →
    * probe with the same constants reproduces the gate row EXACTLY
    * (IvfPqModelSpec pins it, including through a parquet
    * save/load round-trip).
    */
  def trainIvfPq(s: SparkSession, emb: DataFrame,
      k: Int = ivfPqK, iters: Int = ivfIters): IvfPqModel = {
    import s.implicits._
    import graft.CacheScope._
    val base = embBase(s, emb)
    val cents = kmeansTrain(base, k, iters)
    val assigned = coarseAssign(base, cents).persistScoped()
    val subv = residualSubv(base, cents, assigned).persistScoped()
    IvfPqModel(cents, pqTrain(subv))
  }

  /** Persist a trained model (two parquet dirs under `path`). */
  def saveIvfPqModel(model: IvfPqModel, path: String): Unit = {
    model.coarse.write.mode("overwrite").parquet(s"$path/coarse")
    model.pq.write.mode("overwrite").parquet(s"$path/pq")
  }

  def loadIvfPqModel(s: SparkSession, path: String): IvfPqModel =
    IvfPqModel(s.read.parquet(s"$path/coarse"), s.read.parquet(s"$path/pq"))

  /** Encode a corpus against a FROZEN model: inverted-list assignment
    * + residual PQ codes — (vec_id, centroid, sub, code), the
    * persistable serving index (4 B of codes per vector at the
    * catalog constants). One broadcast of each codebook; the corpus
    * never shuffles.
    */
  def indexIvfPq(s: SparkSession, emb: DataFrame, model: IvfPqModel): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    val base = embBase(s, emb)
    val assigned = coarseAssign(base, model.coarse).persistScoped()
    val subv = residualSubv(base, model.coarse, assigned).persistScoped()
    assigned.join(pqAssign(subv, model.pq), Seq("vec_id"))
      .select($"vec_id", $"centroid", $"sub", $"code")
  }

  /** Group-directory budget for k-ADAPTIVE default widths: new grouped
    * layouts target ≤ this many directories. 64 keeps namenode/listing
    * rent trivial at any k while preserving directory-level pruning
    * granularity close to the flat layout's for k ≤ 64·nprobe.
    */
  val DefaultIndexDirBudget = 64L

  /** k-adaptive default group width for NEW index layouts
    * ([[maintainIvfPqIndex]] and the declarative/streaming
    * `annIndex=ivfpq` paths): `max(1, k / 64)` lists per directory.
    * Both fixed extremes are measured scale killers: one-dir-per-list
    * pays per-file rent at large k (k=2048: 193.9 s write / 43.3 s
    * probe vs 4.2 / 6.95 grouped, `tools/ivfscale_r13.jsonl`), while a
    * FIXED width collapses small k into too few directories and kills
    * probe pruning (round 14 measured width=32 at k=128 → 4 dirs, the
    * nprobe=32 probe set hits every dir → the 100× gate leg inflated
    * 312 → 498 s before this function replaced the constant). The
    * k/64 rule keeps ≥64-way pruning at every k ≥ 64 and degrades to
    * one-list-per-dir (flat granularity, grouped bookkeeping) below.
    */
  def defaultListsPerDir(nLists: Long): Int =
    math.max(1L, nLists / DefaultIndexDirBudget).toInt

  /** Persist a serving index laid out for LIST PRUNING: hive-partition
    * by `centroid`, so each inverted list is its own directory and a
    * probe touching nprobe of k lists can skip the rest at the SCAN
    * (partition pruning / DPP), not after reading them. At the catalog
    * constants that is 32/128 of the index bytes per query batch; on a
    * 100 TB corpus it is the difference between reading the whole code
    * table and reading only the probed lists.
    *
    * This is the EXPLICIT-FLAT writer (kept readable/appendable for
    * existing artifacts); new saves through [[maintainIvfPqIndex]] and
    * the declarative paths default to the GROUPED layout
    * ([[saveIvfPqIndexGroupedAuto]], k-adaptive width) since
    * round 14 — flat's one-directory-per-list fan-out is the measured
    * large-k scale killer.
    */
  def saveIvfPqIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("centroid").parquet(path)

  /** Extend a [[saveIvfPqIndex]] layout with newly-encoded vectors —
    * existing list directories gain files, none are rewritten (the
    * same append-only property as `Sharding.appendToShards`; encoding
    * against a frozen model is a pure per-row function, so append ≡
    * full rebuild — IvfPqModelSpec pins it). The streaming shape is
    * `foreachBatch { (b, _) =>
    * appendIvfPqIndex(indexIvfPq(b.sparkSession, b, m), path) }` —
    * pass the BATCH's session (cloned-session function resolution;
    * see [[embBase]]).
    */
  def appendIvfPqIndex(index: DataFrame, path: String): Unit = {
    // appending centroid= directories into a list_group= layout would
    // silently corrupt it (two partition schemes in one dir) — route
    // grouped layouts to their own append
    val fs = graft.connect.Hfs.fs(index.sparkSession, path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, "_lists_per_dir")),
      s"$path is a GROUPED index layout (has _lists_per_dir) — " +
        "use appendIvfPqIndexGrouped")
    index.write.mode("append").partitionBy("centroid").parquet(path)
  }

  /** [[appendIvfPqIndex]] for a [[saveIvfPqIndexGrouped]] layout: the
    * increment gets the SAME pure `centroid div listsPerDir` group
    * column (width read from the layout's own marker), so append ≡
    * rebuild exactly as on the flat layout; group directories gain
    * files, none are rewritten. Maintenance stays the stock
    * partition-preserving compaction on `list_group`.
    */
  def appendIvfPqIndexGrouped(index: DataFrame, path: String): Unit = {
    val fs = graft.connect.Hfs.fs(index.sparkSession, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_lists_per_dir")
    require(fs.exists(marker),
      s"$path is not a grouped index layout (no _lists_per_dir) — " +
        "use appendIvfPqIndex")
    val g = graft.connect.Hfs.readSmall(fs, marker).trim.toInt
    index.withColumn("list_group", expr(s"centroid div $g"))
      .write.mode("append").partitionBy("list_group").parquet(path)
  }

  /** List-GROUPED sibling of [[saveIvfPqIndex]] for large-k codebooks —
    * the layout fix for the fan-out the round-13 100× probe measured:
    * at k = 2048 the one-directory-per-list layout wrote ~k·tasks tiny
    * files and the probe scan's per-file open cost INVERTED the ADC
    * savings of the bigger codebook (43.3 s vs 18.7 s at k = 512,
    * `tools/ivfscale_r13.jsonl`). Grouping `listsPerDir` consecutive
    * centroids per directory caps the directory count at k/listsPerDir
    * and the repartition-on-group + in-task sort collapses each group
    * to ~one file with `centroid` runs sorted inside it — so directory
    * pruning still skips unprobed GROUPS at the scan, and parquet
    * row-group min/max stats on the sorted centroid column skip
    * unprobed lists INSIDE a read group. A `_lists_per_dir` marker
    * makes the layout self-describing ([[loadIvfPqIndexLayout]]);
    * [[probeIvfPq]] takes the group width and derives the group
    * predicate from the probed set (group = centroid div listsPerDir —
    * a pure function, so no second metadata lookup at serve time).
    */
  def saveIvfPqIndexGrouped(index: DataFrame, path: String,
      listsPerDir: Int): Unit = {
    require(listsPerDir > 0, s"listsPerDir must be positive: $listsPerDir")
    val s = index.sparkSession
    index
      .withColumn("list_group", expr(s"centroid div $listsPerDir"))
      .repartition(col("list_group"))
      .sortWithinPartitions(col("list_group"), col("centroid"), col("vec_id"))
      .write.mode("overwrite").partitionBy("list_group").parquet(path)
    val fs = graft.connect.Hfs.fs(s, path)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_lists_per_dir"),
      listsPerDir.toString, overwrite = true)
  }

  /** [[saveIvfPqIndexGrouped]] at the k-adaptive default width
    * ([[defaultListsPerDir]]) — the create path of
    * [[maintainIvfPqIndex]] and the declarative loads when no explicit
    * `listsPerDir` is given. Pass `nLists` = the MODEL's list count
    * whenever the caller holds the model (every maintenance path
    * does): the fallback infers max(centroid)+1 from the increment,
    * and a first increment that is small or skewed under a large-k
    * model under-counts — freezing a too-narrow width that recreates
    * the large-k directory fan-out on every later append, with no way
    * to correct short of a rebuild (the `_lists_per_dir` marker is
    * fixed at creation by design). When inferring, the frame is
    * persisted for the duration (one extra aggregate, paid ONCE at
    * layout creation, never on appends — those route off the marker).
    */
  def saveIvfPqIndexGroupedAuto(index: DataFrame, path: String,
      nLists: Option[Long] = None): Unit = nLists match {
    case Some(k) =>
      require(k > 0, s"nLists must be positive: $k")
      saveIvfPqIndexGrouped(index, path, defaultListsPerDir(k))
    case None =>
      import graft.CacheScope._
      val idx = index.persistScoped()
      val inferred = Option(
        idx.agg(org.apache.spark.sql.functions.max("centroid")).head().get(0))
        .map(_.toString.toLong + 1L).getOrElse(0L)
      saveIvfPqIndexGrouped(idx, path, defaultListsPerDir(inferred))
  }

  /** Create-or-extend an IVF-PQ index layout, routing by what's on
    * disk — the maintenance entry the declarative `annIndex=ivfpq`
    * load step and its streaming twin call per increment/tick:
    *
    *  - layout absent → create it GROUPED (explicit `listsPerDir` or
    *    the k-adaptive [[defaultListsPerDir]]); `flat = true` requests the legacy
    *    one-directory-per-list layout instead (and a width alongside
    *    it is a contradiction → loud error);
    *  - grouped layout present → grouped append; a CONFLICTING
    *    explicit width errors (changing the group function would
    *    split lists across directories and break group pruning), as
    *    does `flat = true` (regrouping is a rebuild);
    *  - flat layout present → flat append (old artifacts stay
    *    serviceable); an explicit width errors (regrouping is a
    *    rebuild — one overwrite write — not an append).
    *
    * So a pipeline states its intended layout ONCE and every later
    * tick self-routes off the `_lists_per_dir` marker; mis-stated
    * intent fails the step loudly instead of corrupting the layout.
    */
  def maintainIvfPqIndex(index: DataFrame, path: String,
      listsPerDir: Option[Int] = None, flat: Boolean = false,
      nLists: => Option[Long] = None): Unit = {
    val fs = graft.connect.Hfs.fs(index.sparkSession, path)
    val dir = new org.apache.hadoop.fs.Path(path)
    val marker = new org.apache.hadoop.fs.Path(path, "_lists_per_dir")
    // a pre-created EMPTY directory (a mount point, a mkdir'd target)
    // is "no layout yet", not a flat layout to defend
    val hasLayout = fs.exists(dir) && fs.listStatus(dir).nonEmpty
    if (!hasLayout) {
      require(!flat || listsPerDir.isEmpty,
        s"flat=true contradicts listsPerDir=${listsPerDir.getOrElse(0)} — " +
          "a flat layout has no group width")
      if (flat) saveIvfPqIndex(index, path)
      else listsPerDir match {
        case Some(g) => saveIvfPqIndexGrouped(index, path, g)
        // nLists (by-name: evaluated only here, at layout creation) is
        // the MODEL's list count from the call site — the increment's
        // own max centroid under-counts on a small/skewed first tick
        case None => saveIvfPqIndexGroupedAuto(index, path, nLists)
      }
    } else if (fs.exists(marker)) {
      require(!flat,
        s"$path is a GROUPED index layout but the step asks for flat — " +
          "changing the layout is a rebuild (overwrite mode), not an append")
      val g = graft.connect.Hfs.readSmall(fs, marker).trim.toInt
      require(listsPerDir.forall(_ == g),
        s"$path is grouped at $g lists/dir but the step asks for " +
          s"${listsPerDir.get} — changing the group width needs a rebuild " +
          "(overwrite mode), not an append")
      appendIvfPqIndexGrouped(index, path)
    } else {
      require(listsPerDir.isEmpty,
        s"$path is a FLAT index layout but the step asks for " +
          s"listsPerDir=${listsPerDir.getOrElse(0)} — regrouping an " +
          "existing layout is a rebuild (overwrite mode), not an append")
      appendIvfPqIndex(index, path)
    }
  }

  /** Read an IVF-PQ index layout back with its group width: `Some(g)`
    * for a [[saveIvfPqIndexGrouped]] layout (pass it to
    * [[probeIvfPq]]'s `listsPerDir`), `None` for the flat
    * one-directory-per-list layout.
    */
  def loadIvfPqIndexLayout(s: SparkSession, path: String): (DataFrame, Option[Int]) = {
    val fs = graft.connect.Hfs.fs(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_lists_per_dir")
    val g = if (fs.exists(marker))
      Some(graft.connect.Hfs.readSmall(fs, marker).trim.toInt)
    else None
    (s.read.parquet(path), g)
  }

  /** Serve ANN queries over a frozen model + prebuilt index: the
    * two-stage ADC-shortlist/exact-rescore path of the gate row, with
    * the corpus and query frames supplied by the caller. `index` is
    * [[indexIvfPq]]'s output (possibly read back from parquet).
    */
  /** @param excludeSelf drop the corpus vector whose `vec_id` equals a
    *   query's id — the right semantics when the queries ARE corpus
    *   rows (near-duplicate / hard-negative mining; the gate's shape).
    *   Pass false for an external query batch in its own id space, or
    *   the corpus vector sharing an id would be silently dropped from
    *   that query's candidates.
    */
  def probeIvfPq(s: SparkSession, corpus: DataFrame, queries: DataFrame,
      model: IvfPqModel, index: DataFrame,
      nprobe: Int = ivfPqNprobe, shortlist: Int = ivfPqShortlist,
      excludeSelf: Boolean = true,
      listsPerDir: Option[Int] = None,
      topK: Int = 3): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    val base = embBase(s, corpus)
    val qbase = embBase(s, queries).select($"vec_id".as("qid"), $"xq", $"n2")
    // LIST PRUNING: resolve the batch's probed-list union up front
    // (≤ k tiny values, one driver hop — k-means-style control flow)
    // and filter the index on it. On a [[saveIvfPqIndex]] layout the
    // isin on the PARTITION column prunes whole list directories at
    // the scan; the unprobed (k − |union|)/k of the index is never
    // read. On a flat layout it is still a pushed data filter.
    // The probes frame is persisted and reused by the serving path so
    // the queries×k scoring pass runs ONCE per batch.
    val probes = probeLists(model.coarse, qbase, nprobe).persistScoped()
    val probed = probes.select($"centroid").distinct().collect().map(_.getLong(0))
    // on a grouped layout the directory-pruning predicate is on the
    // GROUP partition column (derived from the probed set — a pure
    // function of it); the centroid isin stays as the in-file filter
    // that parquet row-group stats satisfy on the sorted column
    val grouped = listsPerDir match {
      case Some(g) =>
        require(g > 0, s"listsPerDir must be positive: $g")
        require(index.columns.contains("list_group"),
          "listsPerDir given but the index has no list_group column — " +
            "this is a flat saveIvfPqIndex layout; omit listsPerDir")
        index.filter($"list_group".isin(probed.map(_ / g).distinct: _*))
      case None => index
    }
    val pruned = grouped.filter($"centroid".isin(probed: _*))
    // every code row of a vector carries the same list assignment, so
    // sub=0 projects it without a distinct (which would shuffle the
    // full pqM·N index)
    val assigned = pruned.filter($"sub" === 0).select($"vec_id", $"centroid")
    val codes = pruned.select($"vec_id", $"sub", $"code")
    ivfPqProbe(base, model.coarse, model.pq, assigned, codes, qbase,
      nprobe, shortlist, Some(probes), excludeSelf, topK)
  }

  /** IVF-PQ catalog constants — the r9 operating point (PLANS.md
    * "IVF-PQ operating envelope"): k ≈ √N inverted lists, nprobe/k =
    * 25 % probe fraction on the near-random synthetic fixture, ADC
    * shortlist R = stage-2 exact fetches per query.
    */
  val ivfPqK = 128
  val ivfPqNprobe = 32
  val ivfPqShortlist = 64

  /** Oracle: the ivf training CTE chain (at [[ivfPqK]]) composed with
    * the RESIDUAL pq chain (p-prefixed) and per-(query, list) ADC
    * tables — block-for-block the DataFrame plan above.
    */
  private def ivfPqSqlFor(k: Int, nprobe: Int, shortlist: Int,
      queryPred: String = "vec_id % 50 = 0"): String = {
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS MATERIALIZED (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS MATERIALIZED (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS MATERIALIZED (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, i,
       |  CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $k),
       |$iters,
       |d$fin AS MATERIALIZED (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS qid, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin WHERE $queryPred) t WHERE rn <= $nprobe),
       |res AS MATERIALIZED (
       |  SELECT v.vec_id, v.i, v.xq - c.cq AS rq
       |  FROM q v JOIN a$fin a ON v.vec_id = a.vec_id
       |       JOIN c$ivfIters c ON a.centroid = c.cid AND v.i = c.i),
       |pq AS MATERIALIZED (
       |  SELECT vec_id, (i - 1) // $pqSub AS sub, (i - 1) % $pqSub AS spos,
       |         rq AS xq FROM res),
       |pc0 AS (SELECT sub, vec_id AS cid, spos, xq AS cq FROM pq WHERE vec_id < $pqK),
       |pd1 AS MATERIALIZED (
       |  SELECT v.vec_id, v.sub, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM pq v JOIN pc0 c ON v.sub = c.sub AND v.spos = c.spos GROUP BY 1, 2, 3),
       |pa1 AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cid ASC) AS rn
       |    FROM pd1) t WHERE rn = 1),
       |pc1 AS MATERIALIZED (
       |  SELECT v.sub, a.code AS cid, v.spos,
       |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |  FROM pa1 a JOIN pq v ON a.vec_id = v.vec_id AND a.sub = v.sub
       |  GROUP BY 1, 2, 3),
       |pd2 AS MATERIALIZED (
       |  SELECT v.vec_id, v.sub, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM pq v JOIN pc1 c ON v.sub = c.sub AND v.spos = c.spos GROUP BY 1, 2, 3),
       |pcodes AS MATERIALIZED (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cid ASC) AS rn
       |    FROM pd2) t WHERE rn = 1),
       |qres AS MATERIALIZED (
       |  SELECT p.qid, p.centroid, v.i, v.xq - c.cq AS rq
       |  FROM probes p JOIN q v ON v.vec_id = p.qid
       |       JOIN c$ivfIters c ON p.centroid = c.cid AND v.i = c.i),
       |qsub AS (
       |  SELECT qid, centroid, (i - 1) // $pqSub AS sub, (i - 1) % $pqSub AS spos,
       |         rq FROM qres),
       |qdt AS MATERIALIZED (
       |  SELECT v.qid, v.centroid, v.sub, c.cid AS code,
       |    SUM((v.rq - c.cq) * (v.rq - c.cq)) AS d
       |  FROM qsub v JOIN pc1 c ON v.sub = c.sub AND v.spos = c.spos
       |  GROUP BY 1, 2, 3, 4),
       |cand AS (
       |  SELECT p.qid, p.centroid, a.vec_id
       |  FROM probes p JOIN a$fin a ON p.centroid = a.centroid AND a.vec_id <> p.qid),
       |adc AS MATERIALIZED (
       |  SELECT c.qid, c.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc
       |  FROM cand c
       |  JOIN pcodes cv ON cv.vec_id = c.vec_id
       |  JOIN qdt qd ON qd.qid = c.qid AND qd.centroid = c.centroid
       |             AND qd.sub = cv.sub AND qd.code = cv.code
       |  GROUP BY 1, 2),
       |scored_adc AS (
       |  SELECT a.qid, a.vec_id,
       |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (((na.n2 + nb.n2 - a.adc) / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8))) / 2 END AS cos_adc
       |  FROM adc a JOIN norms na ON a.qid = na.vec_id JOIN norms nb ON a.vec_id = nb.vec_id),
       |sl AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos_adc DESC, vec_id ASC) AS rn
       |    FROM scored_adc) t WHERE rn <= $shortlist),
       |dots AS (
       |  SELECT s.qid, s.vec_id AS cid, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM sl s
       |  JOIN q qa ON qa.vec_id = s.qid
       |  JOIN q qb ON qb.vec_id = s.vec_id AND qa.i = qb.i
       |  GROUP BY 1, 2),
       |rescored AS (
       |  SELECT qid, cid,
       |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM rescored)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, cos
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  private val ivfPqSql = ivfPqSqlFor(ivfPqK, ivfPqNprobe, ivfPqShortlist)

  private val ivfPqServeSql = ivfPqSqlFor(ivfPqK, ivfPqNprobe, ivfPqShortlist,
    s"vec_id % 50 = 0 AND vec_id < $ivfPqServeIdCeiling")

  /** Cosine threshold for [[semanticDedup]]. The synthetic fixture's
    * embeddings are near-random (top within-bucket cosine ≈ 0.4,
    * PLANS.md), so a production-style 0.95+ threshold would drop
    * nothing and gate nothing; 0.2 exercises the full drop/keep
    * mechanics differentially. A real corpus sets this per model
    * (SemDeDup used ~0.95+ on OPT embeddings). */
  val semanticTau = 0.2

  /** SemDeDup-style semantic deduplication (public method: Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", 2023): documents whose EMBEDDINGS are
    * near-parallel are semantic duplicates even when no n-gram
    * overlaps — the dedup family's complement to the lexical
    * minhash/simhash rows. Shape:
    *
    *  1. cluster the corpus with the TRAINED coarse quantizer
    *     ([[coarseFrontEnd]], the exact `q_sim_ivf` k-means — k=16,
    *     2 refinement rounds, integer-grid determinism);
    *  2. within each cluster only, score pairs (id_a < id_b) by exact
    *     bridged cosine;
    *  3. greedy keep-lowest-id: a vector is DROPPED iff some
    *     lower-id vector in its cluster has cos ≥ τ — deterministic,
    *     order-free, no iteration (the standard SemDeDup
    *     keep-one-per-group approximation).
    *
    * Output: one row per vector — (vec_id, centroid, kept 1/0,
    * dup_of = the smallest such anchor, self when kept).
    *
    * At 100 TB: the pairwise stage is bounded by cluster size — k
    * scales as ~√N (deployment knob on [[coarseFrontEnd]]) so each
    * cluster's self-join is ~N/k² of the naive all-pairs, and the
    * join key IS the centroid id, so clusters merge independently
    * (one shuffle on centroid). A skew-guard composes exactly like
    * the graph hub cap: an oversized cluster (degenerate codebook)
    * can be excluded and reported rather than joined.
    */
  /** Semantic DECONTAMINATION — the embedding-space sibling of the
    * shingle-space `Dedup.bloomClean`/`q_text_contamination` family:
    * drop every corpus row whose embedding lies within cosine
    * `tauMilli/1000` of ANY benchmark vector. N-gram overlap misses
    * paraphrased test leakage; this catches it at the representation
    * level (standard practice before LLM evals). The comparison is
    * EXACT full-dim cosine (no recall loss — a decontamination pass
    * must not have false negatives within its threshold), which is
    * affordable precisely because benchmarks are small: the bench side
    * broadcasts (bench·dims longs), the corpus streams map-side
    * through one fused integer-dot scan, and the only shuffle is the
    * anti-join against the flagged id set — contamination-sized, which
    * AQE broadcasts in practice. The corpus frame's own columns pass
    * through untouched.
    *
    * Ids are never compared across the two frames — a corpus row
    * identical to a bench row is exactly what must be dropped, even
    * (especially) if they share an id.
    */
  def semanticDecontaminate(s: SparkSession, corpus: DataFrame,
      bench: DataFrame, tauMilli: Long,
      maxBenchRows: Long = 1000000L): DataFrame = {
    import s.implicits._
    require(tauMilli >= -1000L && tauMilli <= 1000L,
      s"tauMilli is cosine·1000, must be in [-1000, 1000]: $tauMilli")
    require(maxBenchRows > 0, s"maxBenchRows must be positive: $maxBenchRows")
    val cb = embBase(s, corpus)
    val bb0 = embBase(s, bench)
    // Loud size guard (r12 verdict #6): the exactness argument RESTS
    // on the bench side broadcasting (bench·dims longs to every
    // executor) — a caller passing a corpus-sized frame as `bench`
    // would OOM executors instead of erroring. bb0 is persistScoped,
    // so this count is a cheap scan of the already-quantized frame,
    // not a second read of the input. 1M rows × 64 dims ≈ 0.5 GB
    // broadcast — already past what a default executor should carry;
    // real eval benchmarks are orders of magnitude smaller.
    val benchRows = bb0.count()
    require(benchRows <= maxBenchRows,
      s"semanticDecontaminate: bench side has $benchRows rows, past " +
        s"maxBenchRows=$maxBenchRows — the exact full-dim pass " +
        s"broadcasts bench·dims longs and is sized for benchmark " +
        s"sets, not corpora; for corpus-scale contamination lists use " +
        s"the bloom/shingle path (Dedup.bloomClean / q_text_contamination)")
    val bb = bb0.select($"xq".as("bxq"), $"n2".as("bn2"))
    val flagged = broadcast(bb).join(cb,
        cosineFromDots(dot64($"bxq", $"xq"), $"bn2", $"n2")
          >= lit(tauMilli.toDouble / 1000.0))
      .select($"vec_id").distinct()
    corpus.join(flagged, Seq("vec_id"), "left_anti")
  }

  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // join-back formulation, deliberately: the narrow assignment
    // broadcasts and the payload attaches MAP-SIDE from the cached
    // base, so xq never crosses an exchange — carrying the payload
    // through the assignment aggregation (coarseAssignWith) pushed it
    // through the agg shuffle instead and measured ~9% slower
    // same-window (OPTIMIZATION_r18.md §2). The admission path keeps
    // coarseAssignWith because its composite A/B measured faster.
    val (base, _, assigned0) = coarseFrontEnd(s, dir, ivfK, ivfIters)
    val assigned = assigned0.persistScoped() // read 3×: two pair sides + final roster
    val withVec = assigned.join(base, Seq("vec_id"))
    val pairs = withVec.as("a").join(withVec.as("b"),
        col("a.centroid") === col("b.centroid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosineFromDots(dot64(col("a.xq"), col("b.xq")),
          col("a.n2"), col("b.n2")).as("cos"))
    val dups = pairs.filter($"cos" >= semanticTau)
      .groupBy($"v2").agg(min($"v1").as("dup_of"))
      .withColumnRenamed("v2", "vec_id")
    assigned.join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"centroid",
        when($"dup_of".isNull, 1L).otherwise(0L).as("kept"),
        coalesce($"dup_of", $"vec_id").as("dup_of"))
      .orderBy($"vec_id")
  }

  /** Oracle: the proven ivf coarse-training CTE chain, then the
    * within-cluster pair scoring and greedy keep-lowest-id rule. */
  private val semanticDedupSql = {
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $ivfK),
       |$iters,
       |d$fin AS (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM a$fin a JOIN a$fin b
       |    ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.v1, c.v2, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.v1
       |  JOIN q qb ON qb.vec_id = c.v2 AND qa.i = qb.i
       |  GROUP BY 1, 2),
       |sim AS (
       |  SELECT v1, v2,
       |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM dots JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id),
       |dups AS (
       |  SELECT v2 AS vec_id, MIN(v1) AS dup_of
       |  FROM sim WHERE cos >= $semanticTau GROUP BY v2)
       |SELECT a.vec_id, a.centroid,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  COALESCE(d.dup_of, a.vec_id) AS dup_of
       |FROM a$fin a LEFT JOIN dups d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Cluster-size caps for [[semanticCappedQuery]]. Binding cap:
    * pigeonhole guarantees some cluster exceeds ⌈N/k⌉−1 = 31 at the
    * sf0.01 gate (500 vectors / 16 lists), so the exclusion branch is
    * always exercised there; at larger SFs it binds even harder. Loose
    * cap: larger than the corpus at every test SF, so nothing is ever
    * excluded and the branch must reproduce plain [[semanticDedup]].
    */
  val semanticCapBinding = 31L
  val semanticCapLoose = 1000000L

  /** [[semanticDedup]] with the oversized-cluster guard the uncapped
    * scaladoc documents (the `q_graph_triangles_capped` pattern): a
    * degenerate codebook can assign a huge fraction of the corpus to
    * one list, making that cluster's self-join quadratic in N rather
    * than (N/k)². Clusters with more than maxClusterSize members are
    * EXCLUDED from the pair join and REPORTED (`excluded_cluster =
    * true`, `kept = -1` sentinel — never a real value, which is 0/1)
    * so the pipeline sees exactly what the cap dropped instead of
    * silently keeping everything in a cluster it never scored.
    *
    * At 100 TB: the oversized list is tiny (few clusters exceed any
    * sane cap), so the exclusion is two broadcast anti/semi-joins on
    * the centroid id — no extra shuffle beyond the cluster-size
    * aggregation, which is map-side combinable on the assignment.
    */
  def semanticDedupCapped(s: SparkSession, dir: String, maxClusterSize: Long): DataFrame = {
    import s.implicits._
    val (base, _, assigned0) = coarseFrontEnd(s, dir, ivfK, ivfIters)
    val assigned = assigned0.persistScoped() // pair sides + roster + size agg
    semanticCappedCore(assigned, base, maxClusterSize).orderBy($"vec_id")
  }

  /** Core of [[semanticDedupCapped]] over any (vec_id, centroid)
    * assignment and quantized (vec_id, xq, n2) base — separated so the
    * cap semantics are unit-testable on a hand-built degenerate
    * codebook, not just the trained fixture. */
  private[ops] def semanticCappedCore(
      assigned: DataFrame, base: DataFrame, cap: Long): DataFrame = {
    import assigned.sparkSession.implicits._
    val oversized = assigned.groupBy($"centroid").agg(count(lit(1)).as("csize"))
      .filter($"csize" > cap).select($"centroid").persistScoped()
    val ok = assigned.join(broadcast(oversized), Seq("centroid"), "left_anti")
    val okVec = ok.join(base, Seq("vec_id"))
    val pairs = okVec.as("a").join(okVec.as("b"),
        col("a.centroid") === col("b.centroid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosineFromDots(dot64(col("a.xq"), col("b.xq")),
          col("a.n2"), col("b.n2")).as("cos"))
    val dups = pairs.filter($"cos" >= semanticTau)
      .groupBy($"v2").agg(min($"v1").as("dup_of"))
      .withColumnRenamed("v2", "vec_id")
    ok.join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"centroid",
        when($"dup_of".isNull, 1L).otherwise(0L).as("kept"),
        coalesce($"dup_of", $"vec_id").as("dup_of"),
        lit(false).as("excluded_cluster"))
      .unionByName(assigned.join(broadcast(oversized), Seq("centroid"), "left_semi")
        .select($"vec_id", $"centroid", lit(-1L).as("kept"),
          $"vec_id".as("dup_of"), lit(true).as("excluded_cluster")))
  }

  /** Gate row: [[semanticDedupCapped]] at BOTH a binding and a
    * non-binding cap, tagged by `max_cluster` — one row differentially
    * checks the exclusion branch, the oversized report, AND that the
    * loose branch reproduces plain [[semanticDedup]] (the
    * `q_graph_triangles_capped` differential shape).
    *
    * The trained assignment and the full within-cluster pair scores
    * are cap-INDEPENDENT (exclusion is cluster-atomic — both endpoints
    * of every pair share the centroid — so each cap's pair set is a
    * FILTER of the full table, not a recompute); build and persist
    * both once, then derive each cap by a broadcast anti-join on its
    * oversized-centroid list. Without the sharing the k-means training
    * and the quadratic-in-cluster pair scoring would run twice (the
    * triangleCappedQuery lesson, measured ~2× there). The production
    * entry point [[semanticDedupCapped]] applies the cap BEFORE the
    * pair join — that is the point of the guard; the gate can share
    * because its loose branch needs the full pair table anyway.
    */
  def semanticCappedQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, _, assigned0) = coarseFrontEnd(s, dir, ivfK, ivfIters)
    val assigned = assigned0.persistScoped()
    val withVec = assigned.join(base, Seq("vec_id"))
    val pairs = withVec.as("a").join(withVec.as("b"),
        col("a.centroid") === col("b.centroid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.centroid").as("centroid"),
        col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosineFromDots(dot64(col("a.xq"), col("b.xq")),
          col("a.n2"), col("b.n2")).as("cos"))
      .filter($"cos" >= semanticTau)
      .persistScoped() // both caps filter this, never recompute it
    val sizes = assigned.groupBy($"centroid").agg(count(lit(1)).as("csize"))
      .persistScoped()
    Seq(semanticCapBinding, semanticCapLoose).map { cap =>
      val oversized = sizes.filter($"csize" > cap).select($"centroid")
      val dups = pairs.join(broadcast(oversized), Seq("centroid"), "left_anti")
        .groupBy($"v2").agg(min($"v1").as("dup_of"))
        .withColumnRenamed("v2", "vec_id")
      assigned.join(broadcast(oversized), Seq("centroid"), "left_anti")
        .join(dups, Seq("vec_id"), "left")
        .select($"vec_id", $"centroid",
          when($"dup_of".isNull, 1L).otherwise(0L).as("kept"),
          coalesce($"dup_of", $"vec_id").as("dup_of"),
          lit(false).as("excluded_cluster"))
        .unionByName(assigned.join(broadcast(oversized), Seq("centroid"), "left_semi")
          .select($"vec_id", $"centroid", lit(-1L).as("kept"),
            $"vec_id".as("dup_of"), lit(true).as("excluded_cluster")))
        .withColumn("max_cluster", lit(cap))
    }.reduce(_ unionByName _)
      .select($"max_cluster", $"vec_id", $"centroid", $"kept", $"dup_of",
        $"excluded_cluster")
      .orderBy($"max_cluster", $"vec_id")
  }

  /** Oracle: the proven coarse-training chain, the full within-cluster
    * pair scores once (centroid carried — exclusion is cluster-atomic),
    * then one WHERE-filtered block per cap. NOT IN is NULL-safe here:
    * centroid ids come from the assignment, never NULL. */
  private val semanticCappedSql = {
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    def capBlock(cap: Long) =
      s"""ov$cap AS (SELECT centroid FROM sizes WHERE csize > $cap),
         |dups$cap AS (
         |  SELECT v2 AS vec_id, MIN(v1) AS dup_of FROM sim
         |  WHERE centroid NOT IN (SELECT centroid FROM ov$cap) GROUP BY 1)""".stripMargin
    def capSelect(cap: Long) =
      s"""SELECT CAST($cap AS BIGINT) AS max_cluster, a.vec_id, a.centroid,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
         |  COALESCE(d.dup_of, a.vec_id) AS dup_of, FALSE AS excluded_cluster
         |FROM a$fin a LEFT JOIN dups$cap d ON a.vec_id = d.vec_id
         |WHERE a.centroid NOT IN (SELECT centroid FROM ov$cap)
         |UNION ALL
         |SELECT CAST($cap AS BIGINT), vec_id, centroid, CAST(-1 AS BIGINT),
         |  vec_id, TRUE
         |FROM a$fin WHERE centroid IN (SELECT centroid FROM ov$cap)""".stripMargin
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $ivfK),
       |$iters,
       |d$fin AS (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |sizes AS (SELECT centroid, COUNT(*) AS csize FROM a$fin GROUP BY 1),
       |cand AS (
       |  SELECT a.centroid, a.vec_id AS v1, b.vec_id AS v2
       |  FROM a$fin a JOIN a$fin b
       |    ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.centroid, c.v1, c.v2, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.v1
       |  JOIN q qb ON qb.vec_id = c.v2 AND qa.i = qb.i
       |  GROUP BY 1, 2, 3),
       |sim AS MATERIALIZED (
       |  SELECT centroid, v1, v2 FROM (
       |    SELECT d.centroid, d.v1, d.v2,
       |      CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |    FROM dots d JOIN norms na ON d.v1 = na.vec_id
       |                JOIN norms nb ON d.v2 = nb.vec_id) t
       |  WHERE cos >= $semanticTau),
       |${capBlock(semanticCapBinding)},
       |${capBlock(semanticCapLoose)}
       |${capSelect(semanticCapBinding)}
       |UNION ALL
       |${capSelect(semanticCapLoose)}
       |ORDER BY max_cluster, vec_id""".stripMargin
  }

  /** Create an arrival-order SEMANTIC dedup admission index at `path` —
    * the embedding-space sibling of [[graft.ops.Dedup.createExactDedupIndex]]:
    * where the exact index admits documents whose shingle Jaccard
    * clears τ against nothing already admitted, this admits VECTORS
    * whose cosine clears τ against nothing already admitted, under the
    * SemDeDup within-cluster comparison discipline ([[semanticDedup]]).
    * "Dedup embeddings as they arrive" is the streaming form of the
    * semantic dedup every training pipeline runs offline.
    *
    * Layout:
    *  - `centroids/` — the frozen coarse codebook (cid, cq): the exact
    *    `q_sim_ivf` k-means ([[kmeansTrain]] — seed = first k vectors
    *    of `corpusRef`, `iters` refinement rounds, integer-grid
    *    determinism), trained ONCE at creation. Every admitted batch
    *    assigns against this codebook; moving it would re-bucket
    *    history and silently change which pairs are ever compared
    *    (the IVF-PQ maintenance rule).
    *  - `vecs/batch=<id>/centroid=<c>/` — admitted (vec_id, xq, n2),
    *    hive-partitioned by the coarse centroid (the comparison unit),
    *    in per-batch generations (the replay/idempotence unit).
    *  - `_sem_tau_milli` — cosine·1000 admission threshold.
    *
    * This is the overwrite verb: any prior index at `path` is replaced.
    */
  def createSemanticDedupIndex(s: SparkSession, path: String,
      corpusRef: DataFrame, tauMilli: Long,
      k: Int = ivfK, iters: Int = ivfIters): Unit = {
    require(tauMilli >= -1000L && tauMilli <= 1000L,
      s"tauMilli is cosine·1000, must be in [-1000, 1000]: $tauMilli")
    require(k >= 1 && iters >= 1,
      s"k and iters must be positive: k=$k iters=$iters")
    val base = embBase(s, corpusRef)
    val cents = kmeansTrain(base, k, iters)
    // loud, not silent: the deterministic k-means seeds on vec_id < k,
    // so a reference corpus without those ids trains an EMPTY codebook
    // — every later assignment would produce nothing and admission
    // would quietly admit everything uncompared
    require(cents.count() >= 1,
      s"createSemanticDedupIndex: trained codebook is empty — corpusRef " +
        s"must contain rows with vec_id < k=$k (the deterministic " +
        "k-means seeds)")
    val fs = graft.connect.Hfs.fs(s, path)
    // the marker is deleted FIRST and rewritten LAST: a create torn
    // anywhere in between leaves "not a semantic-dedup index" (the
    // loud admit-time error), never a stale marker over missing
    // centroids (which would surface as a raw path error instead)
    Seq("_sem_tau_milli", "_sem_k", "vecs", "centroids").foreach(sub =>
      graft.connect.Hfs.deleteIfExists(
        fs, new org.apache.hadoop.fs.Path(path, sub)))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    // the TARGET width, recorded for the rebucket no-op check (the
    // trained codebook can hold fewer than k centroids, so its row
    // count cannot stand in for the create-time k)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_sem_k"),
      k.toString, overwrite = true)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "_sem_tau_milli"),
      tauMilli.toString, overwrite = true)
  }

  /** Admit a batch of embeddings against (and into) a
    * [[createSemanticDedupIndex]] layout: arrival-order semantic
    * dedup. Within the batch, [[semanticDedup]]'s exact pair rule
    * under the FROZEN codebook — a vector is dropped iff some
    * lower-id batch vector in its coarse cluster has cos ≥ τ (the
    * anchor may itself be dropped: the standard SemDeDup greedy
    * approximation, and exactly what admitting the whole corpus as
    * one batch must reproduce — spec-pinned against `q_dedup_semantic`).
    * Against the index, an in-batch survivor is rejected iff some
    * already-ADMITTED vector in its cluster has cos ≥ τ. Survivors
    * land in `vecs/batch=<id>/centroid=<c>/` so the next tick sees
    * them; returns the admitted rows with the batch's original
    * columns.
    *
    * Replay semantics are IDEMPOTENT PER BATCH ID (the
    * [[graft.ops.Dedup.admitExactDedup]] discipline): the batch's own
    * generation is deleted up front, so a replay after a partial
    * failure recomputes the SAME admitted set instead of self-
    * rejecting against its own orphaned rows. Duplicate index rows
    * from a compaction crash window are candidate-volume rent, never
    * corruption — a duplicate admitted vector flags exactly what the
    * single row flags (unlike BM25's additive stats, which is why THAT
    * family needs a write-ahead intent and this one does not).
    *
    * At 100 TB: the batch assigns map-side against the ≤k-row
    * broadcast codebook; the index scan prunes at planning time to the
    * ≤k centroid partitions the batch touches; the pair work is
    * within-cluster only (the SemDeDup bound — k scales ~√N as a
    * deployment knob), and only batch-sized frames ever shuffle. The
    * centroid list is driver-collected but bounded by the codebook
    * size, not the corpus.
    *
    * The k knob is MEASURED at high cluster occupancy, not asserted
    * (`tools/semadmit_occupancy_r17.json`, 40 ticks ×
    * 4k vectors): once the cosine term dominates, late per-tick wall
    * scales exactly 1/k (k=4 → k=16 cut it 4.43× against a 4× cosine
    * ratio), and at k=64 a 40×-grown index runs at the fixed per-tick
    * layout floor (~5 s on the rig) — cosines sub-dominant again. Two
    * deployment consequences: (1) size k for the TARGET corpus at
    * create time — the codebook is frozen, per-tick cost at fixed k
    * grows linearly in admitted N, and k ≈ √N keeps the cosine term
    * at the floor; (2) small k ALSO caps the within-cluster join's
    * parallelism at k partitions, so an undersized codebook hurts
    * twice. No PQ-shortlist pre-stage is warranted: the exact
    * within-cluster test already sits at the layout floor under a
    * properly sized codebook.
    */
  def admitSemanticDedup(batch: DataFrame, path: String,
      batchId: Long): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    import graft.CacheScope._
    graft.connect.GenerationalIndex.requireLiveBatchId(batchId,
      "compactSemanticDedupIndex")
    val fs = graft.connect.Hfs.fs(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_sem_tau_milli")
    require(fs.exists(marker),
      s"$path is not a semantic-dedup index (no _sem_tau_milli marker) — " +
        "create one with createSemanticDedupIndex")
    // replay a crashed rebucket before ANY read: its commit sequence
    // deletes folded generations and swaps the codebook, and admitting
    // against the half-migrated middle could re-admit a duplicate
    recoverSemanticRebucket(s, path)
    val tauD = graft.connect.Hfs.readSmall(fs, marker).trim.toLong.toDouble / 1000.0
    // idempotence: drop this batch's own generation before anything reads
    graft.connect.GenerationalIndex.clearGeneration(fs, path,
      Seq("vecs"), batchId)
    val cents = s.read.parquet(s"$path/centroids")
    val base = embBase(s, batch)
    val rows = coarseAssignWith(base, cents)
      .persistScoped() // both pair sides + the survivor roster
    // in-batch phase: semanticDedup's pair rule, frozen codebook
    val inDrop = rows.as("a").join(rows.as("b"),
        col("a.centroid") === col("b.centroid") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(cosineFromDots(dot64(col("a.xq"), col("b.xq")),
        col("a.n2"), col("b.n2")) >= lit(tauD))
      .select(col("b.vec_id").as("vec_id")).distinct()
    val inKept = rows.join(inDrop, Seq("vec_id"), "left_anti").persistScoped()
    val hasVecs = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(path, "vecs")).nonEmpty
    val admitted0 = if (!hasVecs) inKept else {
      // planning-time prune: the index is scanned ONLY through the
      // centroid partitions the batch's survivors occupy (≤k ids)
      val touched = inKept.select($"centroid").distinct()
        .as[Long].collect().toSeq
      if (touched.isEmpty) inKept else {
        val idx = s.read.option("basePath", s"$path/vecs")
          .parquet(s"$path/vecs")
          .filter($"centroid".isin(touched: _*))
          .select($"centroid".cast("long").as("centroid"),
            $"xq".as("ixq"), $"n2".as("in2"))
        val flagged = inKept.join(idx, Seq("centroid"))
          .filter(cosineFromDots(dot64($"xq", $"ixq"), $"n2", $"in2")
            >= lit(tauD))
          .select($"vec_id").distinct()
        inKept.join(flagged, Seq("vec_id"), "left_anti")
      }
    }
    // localCheckpoint BEFORE the write: the admitted frame reads the
    // index, and the write below mutates it — an unpinned plan
    // re-evaluated by the caller would see its own rows and
    // self-reject (the admitExactDedup lesson)
    val keep = admitted0.select($"vec_id", $"xq", $"n2", $"centroid")
      .localCheckpoint()
    // an all-rejected or empty batch writes NOTHING: a file-less batch
    // directory would break schema inference on later reads
    if (!keep.isEmpty) {
      keep.repartition(col("centroid"))
        .write.mode("overwrite").partitionBy("centroid")
        .parquet(s"$path/vecs/batch=$batchId")
    }
    batch.join(keep.select($"vec_id"), Seq("vec_id"), "left_semi")
  }

  /** Compact a [[createSemanticDedupIndex]] layout: fold every batch
    * generation except the newest live one into a consolidated
    * negative generation, deduplicating vectors on the way. Lifecycle
    * + crash-window contract: [[graft.connect.GenerationalIndex]],
    * ADMISSION (rename-first) mode — a leftover duplicate vector flags
    * exactly what the single row flags. Run between drains (or from
    * the scheduler via `compact_semantic_dedup_index`), never
    * concurrently with an active admission. Returns the number of
    * generations folded.
    */
  def compactSemanticDedupIndex(s: SparkSession, path: String): Int = {
    import graft.connect.{GenerationalIndex => GI}
    val fs = graft.connect.Hfs.fs(s, path)
    recoverSemanticRebucket(s, path) // entry point: finish a crashed rebucket first
    val plan = GI.foldPlan(GI.generations(fs, path, "vecs"))
      .getOrElse(return 0)
    val tmp = GI.staging(fs, path, "vecs")
    s.read.option("basePath", s"$path/vecs")
      .parquet(plan.fold.map(b => s"$path/vecs/batch=$b"): _*)
      .drop("batch").dropDuplicates("vec_id")
      .repartition(col("centroid")).write.mode("overwrite")
      .partitionBy("centroid").parquet(tmp.toString)
    GI.commitRenameFirst(fs, path, "vecs", plan.gen, plan.fold,
      s"semantic-dedup-index compaction for $path/vecs")
    plan.fold.size
  }

  private val semRebucketMarker = "_sem_rebucket_intent"

  /** The family-specific tail of a semantic rebucket's commit, run by
    * [[graft.connect.GenerationalIndex.applyMigrate]] after the shared
    * generation renames: the codebook swap (guarded by the staged
    * dir's existence — idempotent on replay) and the target-k marker
    * rewrite (plain overwrite — idempotent; param absent on
    * early-format markers, in which case the k record just stays
    * stale until the next successful rebucket).
    */
  private def semanticRebucketFinish(fs: org.apache.hadoop.fs.FileSystem,
      path: String, param: Option[String]): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.connect.Hfs
    val centsTmp = new Path(path, ".rebucket-centroids")
    if (fs.exists(centsTmp)) {
      Hfs.deleteIfExists(fs, new Path(path, "centroids"))
      Hfs.renameChecked(fs, centsTmp, new Path(path, "centroids"),
        s"semantic-rebucket codebook commit for $path")
    }
    param.foreach(k => Hfs.writeSmall(fs, new Path(path, "_sem_k"), k,
      overwrite = true))
  }

  /** Replay a crashed [[rebucketSemanticDedupIndex]] to completion if
    * its write-ahead intent exists (one existence check otherwise).
    * Every family entry point calls this first — the commit sequence
    * deletes folded generations and swaps the codebook, so a reader
    * that skipped recovery could observe a half-migrated layout (old
    * codebook over missing vectors) and wrongly re-admit a duplicate.
    * Protocol: [[graft.connect.GenerationalIndex.recoverMigrate]].
    */
  private def recoverSemanticRebucket(s: SparkSession, path: String): Unit = {
    val fs = graft.connect.Hfs.fs(s, path)
    graft.connect.GenerationalIndex.recoverMigrate(fs, path, Seq("vecs"),
      semRebucketMarker, "semantic-rebucket") { (_, param) =>
      semanticRebucketFinish(fs, path, param)
    }
  }

  /** Migrate a [[createSemanticDedupIndex]] layout to a LARGER (or
    * otherwise re-sized) frozen codebook — the escape hatch for the
    * one scale cliff the occupancy sweep proved
    * (`tools/semadmit_occupancy_r17.json`): a codebook undersized for
    * a corpus that outgrew its create-time estimate degrades per-tick
    * admission by N/k cosines AND caps pair-stage parallelism at k
    * partitions, and the codebook is frozen by design (moving it
    * re-buckets history). Rebucketing is that move made SAFE:
    *
    *  - the new codebook trains on the ADMITTED roster (rank-seeded
    *    [[kmeansTrainSeeded]] — roster ids are an arbitrary subset,
    *    so the id-based seed rule doesn't apply), every admitted
    *    vector re-assigns against it, and the layout is rewritten
    *    under the new partitioning;
    *  - the admitted SET is history, never re-litigated: no pair rule
    *    runs, no vector is dropped or added — only `centroid`
    *    changes (the spec pins roster byte-equality across the
    *    migration). Near-duplicates that BOTH survived admission
    *    under the old clustering stay admitted — rebucketing moves
    *    the comparison geometry forward, it does not rewrite past
    *    decisions (exactly like a fresh index created at the new k
    *    and bulk-loaded with the same roster);
    *  - generation structure: all folded generations consolidate into
    *    one new negative generation (compaction-crash duplicate rows
    *    fold away on the way, like [[compactSemanticDedupIndex]]);
    *    the NEWEST LIVE generation is reassigned IN PLACE under its
    *    own batch id — a restarted stream replaying that batch still
    *    deletes its own generation and recomputes, so replay safety
    *    survives the migration;
    *  - crash safety: staging is dot-prefixed and invisible; the
    *    commit point is a write-ahead intent (the
    *    [[graft.connect.GenerationalIndex]] intent discipline,
    *    family-shaped here because the codebook swap joins the fold
    *    in one atomic protocol) committed by temp+rename; every entry
    *    point replays a pending intent first, so readers can never
    *    observe the half-migrated middle.
    *
    * Run between drains (or from the scheduler), never concurrently
    * with an active admission. Returns the number of vectors
    * reassigned.
    */
  def rebucketSemanticDedupIndex(s: SparkSession, path: String,
      newK: Int, iters: Int = ivfIters): Long = {
    import s.implicits._
    import graft.CacheScope._
    import org.apache.hadoop.fs.Path
    import graft.connect.Hfs
    require(newK >= 1 && iters >= 1,
      s"newK and iters must be positive: newK=$newK iters=$iters")
    val fs = Hfs.fs(s, path)
    require(fs.exists(new Path(path, "_sem_tau_milli")),
      s"$path is not a semantic-dedup index (no _sem_tau_milli marker) — " +
        "create one with createSemanticDedupIndex")
    recoverSemanticRebucket(s, path)
    // already at the target width: a SCHEDULED rebucket pipeline must
    // be a cheap no-op after the migration, not a full re-train +
    // re-assign per run. The target k is recorded in the `_sem_k`
    // marker (k-means can legitimately train FEWER than k centroids,
    // so the codebook's row count cannot stand in for the target);
    // indexes predating the marker fall back to the count check. (A
    // deliberate same-k geometry refresh is a different operation —
    // re-training at the same k would still move comparison geometry
    // every run, which a scheduled step must never do silently.)
    val kMarker = new Path(path, "_sem_k")
    val atTarget =
      if (fs.exists(kMarker))
        Hfs.readSmall(fs, kMarker).trim.toInt == newK
      else s.read.parquet(s"$path/centroids").count() == newK.toLong
    if (atTarget) return 0L
    val gens = graft.connect.GenerationalIndex.generations(fs, path, "vecs")
    require(gens.nonEmpty,
      s"rebucketSemanticDedupIndex: $path holds no admitted vectors — " +
        "recreate the index at the right k instead of migrating an empty one")
    val plan = graft.connect.GenerationalIndex.migratePlan(gens)
    val (live, fold) = (plan.live, plan.fold)
    // clear stale staging from any prior abandoned attempt
    Seq("vecs/.compact-tmp", "vecs/.rebucket-live-tmp", ".rebucket-centroids")
      .foreach(sub => Hfs.deleteIfExists(fs, new Path(path, sub)))
    val roster = s.read.option("basePath", s"$path/vecs")
      .parquet(s"$path/vecs")
      .select($"vec_id", $"xq", $"n2", $"batch".cast("long").as("batch"))
      .persistScoped() // read for training, assignment, and both writes
    // train on the deduped roster: duplicates are compaction-crash
    // rent, and double-weighting a vector in the member means would
    // make the migrated codebook depend on crash history
    val base = roster.select($"vec_id", $"xq", $"n2").dropDuplicates("vec_id")
      .persistScoped()
    val seed = base.orderBy($"vec_id").limit(newK)
      .withColumn("cid",
        row_number().over(Window.orderBy($"vec_id")).cast("long") - 1L)
      .select($"cid", $"xq".as("cq"))
    val cents = kmeansTrainSeeded(base, seed, iters)
    require(cents.count() >= 1,
      "rebucketSemanticDedupIndex: trained codebook is empty")
    val assigned = coarseAssignWith(base, cents)
      .localCheckpoint() // pin: the writes below mutate what it reads
    val liveIds = live.map { lid =>
      roster.filter($"batch" === lid).select($"vec_id")
    }
    val foldPart = liveIds match {
      case Some(lv) => assigned.join(lv, Seq("vec_id"), "left_anti")
      case None => assigned
    }
    val keep = Seq($"vec_id", $"xq", $"n2", $"centroid")
    if (fold.nonEmpty && !foldPart.isEmpty) {
      foldPart.select(keep: _*).repartition(col("centroid"))
        .write.mode("overwrite").partitionBy("centroid")
        .parquet(s"$path/vecs/.compact-tmp")
    }
    liveIds.foreach { lv =>
      assigned.join(lv, Seq("vec_id"), "left_semi")
        .select(keep: _*).repartition(col("centroid"))
        .write.mode("overwrite").partitionBy("centroid")
        .parquet(s"$path/vecs/.rebucket-live-tmp")
    }
    cents.write.mode("overwrite").parquet(s"$path/.rebucket-centroids")
    // COMMIT POINT: everything after the intent is replayable
    // (GenerationalIndex migration protocol — shared renames + the
    // family's codebook/k-marker finish)
    graft.connect.GenerationalIndex.writeMigrateIntent(fs, path,
      semRebucketMarker, plan, Some(newK.toString))
    graft.connect.GenerationalIndex.applyMigrate(fs, path, Seq("vecs"),
      semRebucketMarker, plan, "semantic-rebucket") {
      semanticRebucketFinish(fs, path, Some(newK.toString))
    }
    assigned.count()
  }

  /** Fixed temp index dirs for [[semanticAdmitRow]], keyed by
    * (fixture dir, content fingerprint) — the path is reused so
    * repeated executions do not strand directories, but the index is
    * RECREATED inside the row each time (admission mutates it, so
    * unlike the frozen serving artifacts it cannot be served warm).
    */
  private val semanticAdmitDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Drop the per-JVM admission-row dir cache — the
    * [[graft.ops.TextAnalysis.clearBm25Artifacts]] convention, for
    * specs that regenerate fixtures in place. `deleteDirs = true` also
    * removes the temp index directories. */
  private[graft] def clearSemanticAdmitDirs(deleteDirs: Boolean = false): Unit = {
    if (deleteDirs) semanticAdmitDirs.values.foreach { p =>
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        val it = java.nio.file.Files.walk(root)
        try it.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally it.close()
      }
    }
    semanticAdmitDirs.clear()
  }

  /** The `q_dedup_semantic_admit` catalog row: the full admission
    * lifecycle through the DuckDB hash gate. Create the index with the
    * corpus-trained frozen codebook at τ = [[semanticTau]], admit the
    * three disjoint `vec_id mod 3` slices IN ORDER, then read the
    * result straight OFF THE PERSISTED LAYOUT — (vec_id, batch,
    * centroid) of every admitted vector — so the oracle differentially
    * checks the codebook training, per-batch assignment, in-batch pair
    * rule, cross-generation index test, and the physical layout's
    * contents in one hash.
    */
  def semanticAdmitRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.t(s, dir, "embeddings")
    val key = (s"$dir#semadmit",
      graft.connect.Hfs.listingFingerprint(s, s"$dir/embeddings.parquet"))
    val path = semanticAdmitDirs.getOrElseUpdate(key,
      java.nio.file.Files.createTempDirectory("graft-sem-admit").toString)
    createSemanticDedupIndex(s, path, emb, (semanticTau * 1000).toLong)
    (0 to 2).foreach { r =>
      // the admission is applied EAGERLY inside admitSemanticDedup (the
      // survivor roster is localCheckpoint-ed and written before it
      // returns); the returned batch-filtered frame is presentation for
      // streaming callers, and counting it here only re-ran the
      // batch ⋈ roster semi-join — one wasted job per admit (3/row)
      admitSemanticDedup(emb.filter($"vec_id" % 3 === r), path, r.toLong)
    }
    s.read.option("basePath", s"$path/vecs").parquet(s"$path/vecs")
      .select($"vec_id", $"batch".cast("long").as("batch"),
        $"centroid".cast("long").as("centroid"))
      .orderBy($"vec_id")
  }

  /** Oracle: the proven ivf coarse-training chain, all same-centroid
    * pair cosines once (v1 < v2), then the three admission stages
    * unrolled — per batch, in-batch drops are sim edges inside the
    * batch (lower id is the anchor), and cross-batch flags are sim
    * edges in EITHER direction against the union of previously
    * admitted vectors.
    */
  private val semanticAdmitSql = {
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $ivfK),
       |$iters,
       |d$fin AS (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM a$fin a JOIN a$fin b
       |    ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.v1, c.v2, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.v1
       |  JOIN q qb ON qb.vec_id = c.v2 AND qa.i = qb.i
       |  GROUP BY 1, 2),
       |sim AS MATERIALIZED (
       |  SELECT v1, v2 FROM dots
       |  JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id
       |  WHERE CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END >= $semanticTau),
       |b0 AS (SELECT vec_id FROM a$fin WHERE vec_id % 3 = 0),
       |b1 AS (SELECT vec_id FROM a$fin WHERE vec_id % 3 = 1),
       |b2 AS (SELECT vec_id FROM a$fin WHERE vec_id % 3 = 2),
       |adm0 AS (SELECT vec_id FROM b0 WHERE vec_id NOT IN (
       |  SELECT s.v2 FROM sim s JOIN b0 x ON s.v1 = x.vec_id
       |    JOIN b0 y ON s.v2 = y.vec_id)),
       |s1 AS (SELECT vec_id FROM b1 WHERE vec_id NOT IN (
       |  SELECT s.v2 FROM sim s JOIN b1 x ON s.v1 = x.vec_id
       |    JOIN b1 y ON s.v2 = y.vec_id)),
       |flag1 AS (
       |  SELECT s.v2 AS vec_id FROM sim s JOIN adm0 a ON s.v1 = a.vec_id
       |  UNION
       |  SELECT s.v1 FROM sim s JOIN adm0 a ON s.v2 = a.vec_id),
       |adm1 AS (SELECT vec_id FROM s1
       |  WHERE vec_id NOT IN (SELECT vec_id FROM flag1)),
       |s2 AS (SELECT vec_id FROM b2 WHERE vec_id NOT IN (
       |  SELECT s.v2 FROM sim s JOIN b2 x ON s.v1 = x.vec_id
       |    JOIN b2 y ON s.v2 = y.vec_id)),
       |prev2 AS (SELECT vec_id FROM adm0 UNION ALL SELECT vec_id FROM adm1),
       |flag2 AS (
       |  SELECT s.v2 AS vec_id FROM sim s JOIN prev2 a ON s.v1 = a.vec_id
       |  UNION
       |  SELECT s.v1 FROM sim s JOIN prev2 a ON s.v2 = a.vec_id),
       |adm2 AS (SELECT vec_id FROM s2
       |  WHERE vec_id NOT IN (SELECT vec_id FROM flag2)),
       |adm AS (
       |  SELECT vec_id, CAST(0 AS BIGINT) AS batch FROM adm0
       |  UNION ALL SELECT vec_id, CAST(1 AS BIGINT) FROM adm1
       |  UNION ALL SELECT vec_id, CAST(2 AS BIGINT) FROM adm2)
       |SELECT v.vec_id, v.batch, a.centroid
       |FROM adm v JOIN a$fin a ON v.vec_id = a.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }

  /** ANN-mined hard negatives — the contrastive-training data op
    * (public method: ANCE, Xiong et al. 2021, mines negatives from an
    * ANN index over the current embeddings; DPR's in-batch negatives
    * are the weaker fallback). For each query vector, probe the
    * trained IVF lists exactly as `q_sim_ivf` does, keep only
    * candidates whose LABEL differs from the query's, and rank by
    * exact bridged cosine — the top-3 most-similar-yet-differently-
    * labeled vectors are the hard negatives a contrastive batch
    * builder would pair with the query.
    *
    * Same 100 TB shape as the ivf row (broadcast ≤16-row codebook,
    * inverted-list equi-join bounds candidates to ~nprobe/k of the
    * corpus); the label joins the vector payload once (only the narrow
    * (vec_id, label) side is broadcast), and that merged
    * (vec_id, xq, n2, label) table attaches once per candidate
    * endpoint, its join strategy left to the planner — it is corpus
    * sized, so a forced broadcast would hit the broadcast size limit.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegativesImpl(s, dir, fourJoinRef = false)

  /** [[hardNegatives]] with the attach formulation explicit:
    * HardNegativesJoinSpec pins the shipped merged two-join attach
    * against the four-join reference (`fourJoinRef = true`). */
  private[ops] def hardNegativesImpl(s: SparkSession, dir: String,
      fourJoinRef: Boolean): DataFrame = {
    import s.implicits._
    def sqDist(xq: Column, cq: Column): Column = call_function("sqdist64", xq, cq)
    val (base, cents, assigned) = coarseFrontEnd(s, dir, ivfK, ivfIters)
    val labels = Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"))
    val qScored = base.filter($"vec_id" % 50 === 0).select($"vec_id".as("qid"), $"xq")
      .crossJoin(broadcast(cents))
      .select($"qid", $"cid", sqDist($"xq", $"cq").as("d"))
    val wp = Window.partitionBy($"qid").orderBy($"d".asc, $"cid".asc)
    val probes = qScored.withColumn("rn", row_number().over(wp)).filter($"rn" <= ivfNprobe)
      .select($"qid", $"cid".as("centroid"))
    // vector payload + label attach: ONE (vec_id, xq, n2, label) side
    // table joined once per endpoint instead of four separate joins
    // over the candidate stream (base and labels are key-unique on
    // vec_id, so merging the 1:1 attaches is row-identical; the merge
    // halves the join builds and per-candidate hash probes).
    // HardNegativesJoinSpec pins it against the four-join reference.
    val candidates = broadcast(probes).join(assigned, Seq("centroid"))
      .filter($"vec_id" =!= $"qid")
    val scored0 =
      if (fourJoinRef) // HardNegativesJoinSpec's reference
        candidates
          .join(base.select($"vec_id".as("qid"), $"xq".as("qxq"), $"n2".as("qn2")), Seq("qid"))
          .join(base.select($"vec_id", $"xq", $"n2"), Seq("vec_id"))
          .join(labels.select($"vec_id".as("qid"), $"label".as("q_label")), Seq("qid"))
          .join(labels.select($"vec_id", $"label".as("neg_label")), Seq("vec_id"))
      else {
        val withLab = base.join(broadcast(labels), Seq("vec_id"))
        candidates
          .join(withLab.select($"vec_id".as("qid"), $"xq".as("qxq"),
            $"n2".as("qn2"), $"label".as("q_label")), Seq("qid"))
          .join(withLab.select($"vec_id", $"xq", $"n2",
            $"label".as("neg_label")), Seq("vec_id"))
      }
    val scored = scored0
      .filter($"neg_label" =!= $"q_label")
      .select($"qid", $"q_label", $"vec_id".as("cid"), $"neg_label",
        cosineFromDots(dot64($"qxq", $"xq"), $"qn2", $"n2").as("cos"))
    val wr = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    scored.withColumn("rank", row_number().over(wr).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"q_label", $"rank", $"cid", $"neg_label", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** Oracle: the ivf probe chain with the different-label filter. */
  private val hardNegativesSql = {
    val iters = (1 to ivfIters).map { it =>
      val prevC = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
         |  FROM q v JOIN $prevC c ON v.i = c.i GROUP BY 1, 2),
         |a$it AS (
         |  SELECT vec_id, cid AS centroid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM d$it) t WHERE rn = 1),
         |c$it AS (
         |  SELECT a.centroid AS cid, v.i,
         |    CAST(round(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         |  FROM a$it a JOIN q v ON a.vec_id = v.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin = ivfIters + 1
    s"""WITH ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |           generate_subscripts(embedding, 1) AS i,
       |           unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM ex),
       |lab AS (SELECT DISTINCT vec_id, label FROM ex),
       |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, xq AS cq FROM q WHERE vec_id < $ivfK),
       |$iters,
       |d$fin AS (
       |  SELECT v.vec_id, c.cid, SUM((v.xq - c.cq) * (v.xq - c.cq)) AS d
       |  FROM q v JOIN c$ivfIters c ON v.i = c.i GROUP BY 1, 2),
       |a$fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid AS centroid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM d$fin WHERE vec_id % 50 = 0) t WHERE rn <= $ivfNprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id
       |  FROM probes p JOIN a$fin a ON p.centroid = a.centroid AND a.vec_id <> p.qid),
       |dots AS (
       |  SELECT c.qid, c.vec_id AS cid, CAST(SUM(qa.xq * qb.xq) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.qid
       |  JOIN q qb ON qb.vec_id = c.vec_id AND qa.i = qb.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, lq.label AS q_label, d.cid, lc.label AS neg_label,
       |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(na.n2 / 1e8) * sqrt(nb.n2 / 1e8)) END AS cos
       |  FROM dots d
       |  JOIN norms na ON d.qid = na.vec_id JOIN norms nb ON d.cid = nb.vec_id
       |  JOIN lab lq ON d.qid = lq.vec_id JOIN lab lc ON d.cid = lc.vec_id
       |  WHERE lq.label <> lc.label),
       |ranked AS (
       |  SELECT qid, q_label, cid, neg_label, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, q_label, CAST(rank AS BIGINT) AS rank, cid, neg_label, cos
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** Per-label centroids, one row per (label, dim) — the class-mean
    * table behind nearest-centroid classifiers, cluster drift
    * monitoring, and IVF-style codebook seeding. Vectors quantize to
    * the exact 1e4 integer grid ONCE (map-side), a posexplode turns
    * each into dim rows, and one (label, dim) hash aggregate sums the
    * grid values — exact longs — so the final mean (sum/(n·1e4)) is a
    * single cross-engine-stable IEEE division. Shuffle volume is
    * N·dim narrow rows on a key whose cardinality is labels×dim; at
    * 100 TB the partial aggregation collapses each map task to at
    * most labels×dim rows before the wire.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "embeddings")
      .select($"label".cast("long").as("label"),
        posexplode(quantize1e4($"embedding")).as(Seq("dim0", "xq")))
      .groupBy($"label", ($"dim0" + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum($"xq").as("sum_q"))
      .select($"label", $"dim", $"n",
        ($"sum_q".cast("double") / ($"n" * 10000)).as("centroid"))
      .orderBy($"label", $"dim")
  }

  private val labelCentroidsSql =
    """WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS xq
      |  FROM embeddings)
      |SELECT label, dim, COUNT(*) AS n,
      |  CAST(SUM(xq) AS DOUBLE) / (COUNT(*) * 10000) AS centroid
      |FROM e GROUP BY 1, 2 ORDER BY label, dim""".stripMargin

  /** Int8 embedding quantization — the storage-scale path for a 100 TB
    * embedding corpus (float32 → 1 byte/dim + one scale per vector,
    * the symmetric per-tensor scheme every public int8 ANN/serving
    * stack uses). Runs entirely on the repo's integer bridge: floats
    * are first quantized to exact 1e-4 longs ([[quantize1e4]], the
    * gate-proven step), then the int8 code is computed with INTEGER
    * round-half-away rounding — sign(v)·((254·|v|+maxq) div (2·maxq))
    * — so no engine's float division or rounding mode is anywhere near
    * the result. Zero vectors (maxq=0) code to all-zero. Pure map-side
    * projection, zero shuffles; emits the codes (csv-serialized — the
    * driver's pandas compare cannot hash raw array cells, same
    * constraint [[Aggregates.collectAgg]] documents) plus the scale
    * and an L1 checksum so the gate hash pins every byte.
    */
  def int8Quantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "embeddings")
      .select($"vec_id", quantize1e4($"embedding").as("xq"))
      .withColumn("maxq", array_max(transform($"xq", v => abs(v))))
      .withColumn("codes", expr(
        """transform(xq, v -> CASE WHEN maxq = 0 THEN 0L
          |  ELSE (CASE WHEN v < 0 THEN -1L ELSE 1L END)
          |       * ((abs(v) * 254 + maxq) div (2 * maxq)) END)""".stripMargin))
      .select($"vec_id", $"maxq",
        concat_ws(",", $"codes".cast("array<string>")).as("codes"),
        aggregate($"codes", lit(0L), (a, c) => a + abs(c)).as("l1"))
      .orderBy($"vec_id")
  }

  private val int8QuantizeSql =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT)) AS xq
      |  FROM embeddings),
      |m AS (SELECT vec_id, xq,
      |    list_max(list_transform(xq, v -> abs(v))) AS maxq FROM q),
      |c AS (SELECT vec_id, maxq,
      |    list_transform(xq, v -> CASE WHEN maxq = 0 THEN 0
      |      ELSE (CASE WHEN v < 0 THEN -1 ELSE 1 END)
      |           * ((abs(v) * 254 + maxq) // (2 * maxq)) END) AS codes
      |  FROM m)
      |SELECT vec_id, maxq,
      |  array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',') AS codes,
      |  CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS l1
      |FROM c ORDER BY vec_id""".stripMargin

  private[graft] val pcaRounds = 3

  def pcaPower(s: SparkSession, dir: String): DataFrame =
    pcaPowerOn(s, Tables.t(s, dir, "embeddings"), pcaRounds)

  /** Top principal direction of the embedding corpus by DISTRIBUTED
    * power iteration — the PCA/whitening preprocessing step embedding
    * pipelines run before ANN indexing or drift monitoring (dominant
    * directions hurt inner-product search; projecting them out is the
    * standard fix, cf. the all-but-the-top observation for word
    * vectors). The full covariance never materializes: each round is
    * two matvecs expressed as aggregations — s_i = xᵢ·v (a per-vector
    * rollup) and u = Σᵢ xᵢ·sᵢ (a per-dim rollup), both map-side
    * combinable; only the 64-component MODEL crosses the driver per
    * round (k-means-style control flow), so the shape is unchanged at
    * any corpus size.
    *
    * Exactness: everything is integers. Vectors quantize to the 1e4
    * grid, center against the integer mean (sign-decomposed division,
    * so Spark-truncate and DuckDB-floor agree), then coarsen to a
    * ~2e2 grid — the deterministic precision/capacity trade that
    * keeps every later product in int64: |x| ≤ 200, |s| ≤ 64·200·1000,
    * |u| ≤ N·200·|s| ⇒ safe to N ≈ 3.6e9 vectors (past that, shard
    * the u rollup and merge, or accept double precision off the gate
    * path). Renormalization is L∞ on a 1e3 grid —
    * sign(u)·min(1000, |u| div max(maxabs div 1000, 1)) — division-
    * free of floats; the sign is canonicalized per round (flip so the
    * first dim attaining max |u| is positive), fixing the eigenvector
    * sign ambiguity deterministically. Fixed [[pcaRounds]] rounds —
    * the differential gate needs a pinned prefix, and 3 rounds from
    * the all-ones start already separate a dominant direction (spec:
    * anisotropic fixture converges to the planted axis).
    */
  def pcaPowerOn(s: SparkSession, embeddings: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    val (_, v) = pcaCore(s, embeddings, rounds)
    v.toSeq.sortBy(_._1).toDF("dim", "v").orderBy($"dim")
  }

  /** Shared power-iteration core: returns the persisted centered
    * integer matrix (vec_id, dim, x) and the trained component map.
    */
  private def pcaCore(s: SparkSession, embeddings: DataFrame,
      rounds: Int): (DataFrame, Map[Long, Long]) = {
    import s.implicits._
    import graft.CacheScope._
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e0 = embeddings
      .select($"vec_id", posexplode(quantize1e4($"embedding")).as(Seq("dim0", "q")))
      .select($"vec_id", ($"dim0" + 1).cast("long").as("dim"), $"q")
    val stats = e0.groupBy($"dim").agg(sum($"q").as("sq"), count(lit(1)).as("n"))
    // center on the integer mean, then coarsen to the ~2e2 grid; both
    // divisions sign-decomposed so truncate (Spark) ≡ floor (DuckDB)
    val cx = e0.join(broadcast(stats), Seq("dim"))
      .withColumn("c", expr(
        "q - (CASE WHEN sq < 0 THEN -1L ELSE 1L END) * (abs(sq) div n)"))
      .select($"vec_id", $"dim", expr(
        "(CASE WHEN c < 0 THEN -1L ELSE 1L END) * (abs(c) div 100)").as("x"))
      .persistScoped()
    val dims = stats.select($"dim").collect().map(_.getLong(0)).sorted
    require(dims.nonEmpty,
      "pcaPower: embeddings frame is empty — nothing to train a component on")
    var v: Map[Long, Long] = dims.map(_ -> 1000L).toMap
    for (_ <- 1 to rounds) {
      val vDf = broadcast(v.toSeq.toDF("dim", "v"))
      val si = cx.join(vDf, Seq("dim"))
        .groupBy($"vec_id").agg(sum($"x" * $"v").as("si"))
      val u = cx.join(si, Seq("vec_id"))
        .groupBy($"dim").agg(sum($"x" * $"si").as("u"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val maxabs = u.values.map(math.abs).max
      val jstar = u.filter { case (_, x) => math.abs(x) == maxabs }.keys.min
      val fl = if (u(jstar) < 0) -1L else 1L
      val denom = math.max(maxabs / 1000L, 1L)
      v = u.map { case (j, x) =>
        j -> fl * (if (x < 0) -1L else 1L) * math.min(1000L, math.abs(x) / denom)
      }
    }
    (cx, v)
  }

  /** Top-k principal directions by power iteration WITH DEFLATION —
    * the multi-component extension of [[pcaPowerOn]] (whose single
    * component is the differential gate row). After component c is
    * trained, every vector is deflated in integer space:
    * r = x·S − v(x·v) with S = Σ v_j² (exact longs; r/S is x minus
    * its projection), then re-coarsened to x's grid by the integer
    * division r div S — deterministic, at the cost of ~1-unit grid
    * rounding per deflation, so later components are progressively
    * coarser estimates (documented, spec-bounded). Returns
    * (component, dim, v) for components 1..k. Per component the cost
    * is one [[pcaCore]] run plus one map-side deflation pass; nothing
    * about the shape changes with corpus size.
    */
  def pcaTopKOn(s: SparkSession, embeddings: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    import s.implicits._
    import graft.CacheScope._
    require(k >= 1 && k <= 16, s"k components must be in [1,16]: $k")
    var frame = embeddings.select($"vec_id", $"embedding")
    val comps = Seq.newBuilder[(Long, Long, Long)]
    for (c <- 1 to k) {
      val (cx, v) = pcaCore(s, frame, rounds)
      comps ++= v.toSeq.map { case (dim, w) => (c.toLong, dim, w) }
      if (c < k) {
        val sNorm = v.values.map(w => w * w).sum.max(1L)
        val vDf = broadcast(v.toSeq.toDF("dim", "v"))
        // r = x·S − v·(x·v); re-coarsen by div S back onto x's grid.
        // pcaCore re-centers and re-quantizes (÷100) its input, so the
        // deflated frame is handed back as a float "embedding" on the
        // original 1e-4 scale: r/S · 100 (the cx grid is 1e-2 of it).
        val proj = cx.join(vDf, Seq("dim"))
          .groupBy($"vec_id").agg(sum($"x" * $"v").as("xv"))
        val defl = cx.join(vDf, Seq("dim")).join(proj, Seq("vec_id"))
          .select($"vec_id", $"dim",
            ($"x" * sNorm - $"v" * $"xv").as("r"))
          .select($"vec_id", $"dim", expr(
            s"(CASE WHEN r < 0 THEN -1L ELSE 1L END) * (abs(r) div $sNorm)").as("rx"))
          .groupBy($"vec_id")
          .agg(transform(array_sort(collect_list(struct($"dim", $"rx"))),
            p => p("rx").cast("float") / lit(100.0f)).as("embedding"))
        // lineageCut (localCheckpoint), not persist+count: each
        // deflation nests another join+rollup level onto the plan, and
        // by k=16 the driver OOMs just STRINGIFYING the accumulated
        // lineage (hit in the r12 truncation study) — the cut
        // materializes the frame AND truncates the plan, so per-round
        // driver work stays constant like the converge loops'
        frame = lineageCut(defl, reliable = false)
      }
      cx.unpersist()
    }
    comps.result().toDF("component", "dim", "v").orderBy($"component", $"dim")
  }

  def pcaScores(s: SparkSession, dir: String): DataFrame =
    pcaScoresOn(s, Tables.t(s, dir, "embeddings"), pcaRounds)

  /** Principal-component SCORES — [[pcaPowerOn]]'s downstream use:
    * each vector's exact integer projection onto the trained top
    * direction, ranked by magnitude. This is the whitening/drift
    * primitive ("all-but-the-top"): the top-|proj| vectors are the
    * ones the dominant direction explains most — candidates for
    * projection-removal before ANN indexing, or the drift monitor's
    * watchlist. One extra map-side-combinable per-vector rollup after
    * training; the ranking is a global top-k (TakeOrdered), not a
    * full sort.
    */
  def pcaScoresOn(s: SparkSession, embeddings: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    val (cx, v) = pcaCore(s, embeddings, rounds)
    val vDf = broadcast(v.toSeq.toDF("dim", "v"))
    cx.join(vDf, Seq("dim"))
      .groupBy($"vec_id").agg(sum($"x" * $"v").as("proj"))
      .orderBy(abs($"proj").desc, $"vec_id".asc)
      .limit(20)
  }

  /** Frozen PCA model — the deployable artifact that completes the
    * model-as-artifact lifecycle for the last trained model without
    * one (perceptron → QualityModel, IVF-PQ → IvfPqModel, BPE →
    * BpeModel, and now power-iteration PCA). Contents: the per-dim
    * integer MEANS of the training corpus (the centering statistic —
    * frozen so serving-corpus drift cannot silently shift the basis)
    * plus the k trained components on the 1e3 grid. ≤ 64 + 16·64
    * longs — KBs, model-sized driver traffic only.
    */
  final case class PcaModel(means: Vector[Long], components: Vector[Vector[Long]]) {
    def dims: Int = means.length
    def k: Int = components.length
  }

  /** Train a frozen [[PcaModel]]: the original corpus's integer dim
    * means (same sign-decomposed division as [[pcaCore]]'s centering,
    * so served component-1 projections are bit-identical to the
    * gate-pinned training path) + [[pcaTopKOn]]'s deflated top-k
    * components.
    */
  def trainPcaModel(s: SparkSession, embeddings: DataFrame, k: Int,
      rounds: Int = pcaRounds): PcaModel = {
    import s.implicits._
    val stats = embeddings
      .select(posexplode(quantize1e4($"embedding")).as(Seq("dim0", "q")))
      .groupBy(($"dim0" + 1).cast("long").as("dim"))
      .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(CASE WHEN sq < 0 THEN -1L ELSE 1L END) * (abs(sq) div n)"))
      .select($"dim", $"m")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(stats.nonEmpty, "trainPcaModel: embeddings frame is empty")
    val d = stats.keys.max.toInt
    val means = Vector.tabulate(d)(j => stats(j + 1L))
    val comps = pcaTopKOn(s, embeddings, k, rounds).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        val byDim = rows.map(t => t._2 -> t._3).toMap
        Vector.tabulate(d)(j => byDim.getOrElse(j + 1L, 0L))
      }.toVector
    PcaModel(means, comps)
  }

  /** Freeze to parquet: rows (component, dim, v), component 0 = the
    * centering means. One file; rank order is explicit in the rows so
    * the round-trip is bit-identical regardless of read order.
    */
  def savePcaModel(s: SparkSession, model: PcaModel, path: String): Unit = {
    import s.implicits._
    val rows = model.means.zipWithIndex
      .map { case (m, j) => (0L, (j + 1).toLong, m) } ++
      model.components.zipWithIndex.flatMap { case (vs, c) =>
        vs.zipWithIndex.map { case (v, j) => ((c + 1).toLong, (j + 1).toLong, v) }
      }
    rows.toDF("component", "dim", "v").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadPcaModel(s: SparkSession, path: String): PcaModel = {
    val rows = s.read.parquet(path).collect().map(r =>
      (r.getLong(r.fieldIndex("component")), r.getLong(r.fieldIndex("dim")),
        r.getLong(r.fieldIndex("v"))))
    val byComp = rows.groupBy(_._1)
    require(byComp.contains(0L), s"no component-0 (means) rows in PCA model at $path")
    def vec(c: Long): Vector[Long] = {
      val byDim = byComp(c).map(t => t._2 -> t._3).toMap
      Vector.tabulate(byDim.keys.max.toInt)(j => byDim.getOrElse(j + 1L, 0L))
    }
    PcaModel(vec(0L), byComp.keys.filter(_ > 0L).toSeq.sorted.map(vec).toVector)
  }

  /** Project a frame onto a FROZEN model as a pure per-row fold —
    * appends `pca_proj1..pca_projK` (exact integer projections of the
    * centered, 1e-2-coarsened vector onto each component) with the
    * model as LITERAL arrays inside zip_with/aggregate. No explode,
    * no join, no shuffle, and therefore no streaming STATE: the same
    * columns run unchanged on batch and readStream frames (the
    * train-offline/serve-in-stream split the other three models
    * already have). Component 1 is bit-identical by construction to
    * [[pcaScoresOn]]'s gate-pinned training projections (same
    * quantize → frozen-mean center → div-100 coarsen → dot chain);
    * spec-pinned in PcaModelSpec. Input vectors must have exactly
    * `model.dims` dims — zip_with null-pads a mismatch into null
    * projections rather than silently truncating. Columns are
    * `pca_`-prefixed (annotation transforms must never shadow source
    * columns).
    */
  def pcaServeOn(frame: DataFrame, model: PcaModel): DataFrame = {
    require(model.k >= 1, "pcaServeOn: model has no components")
    val meansSql = model.means.map(_ + "L").mkString("array(", ",", ")")
    val withCx = frame
      .withColumn("_pca_xq", quantize1e4(col("embedding")))
      .withColumn("_pca_cx", expr(
        s"""zip_with(_pca_xq, $meansSql, (q, m) ->
           |  (CASE WHEN q < m THEN -1L ELSE 1L END) * (abs(q - m) div 100))"""
          .stripMargin))
    val served = model.components.zipWithIndex.foldLeft(withCx) {
      case (f, (vs, i)) =>
        val vSql = vs.map(_ + "L").mkString("array(", ",", ")")
        f.withColumn(s"pca_proj${i + 1}", expr(
          s"aggregate(zip_with(_pca_cx, $vSql, (x, v) -> x * v), 0L, (a, p) -> a + p)"))
    }
    served.drop("_pca_xq", "_pca_cx")
  }

  private val pcaCtes = {
    // one unrolled power-iteration round: (cx ⋈ v_prev) per-vec rollup,
    // per-dim rollup, L∞ renormalize + canonical sign
    def round(i: Int, prevV: String): String =
      s"""s$i AS (SELECT vec_id, CAST(SUM(x * v) AS BIGINT) AS si
         |        FROM cx JOIN $prevV USING (dim) GROUP BY 1),
         |u$i AS (SELECT dim, CAST(SUM(x * si) AS BIGINT) AS u
         |        FROM cx JOIN s$i USING (vec_id) GROUP BY 1),
         |n$i AS (SELECT MAX(ABS(u)) AS ma FROM u$i),
         |f$i AS (SELECT CASE WHEN (SELECT u FROM u$i CROSS JOIN n$i
         |                          WHERE ABS(u) = ma ORDER BY dim LIMIT 1) < 0
         |               THEN -1 ELSE 1 END AS fl,
         |               GREATEST(ma // 1000, 1) AS dn FROM n$i),
         |v$i AS (SELECT dim, fl * (CASE WHEN u < 0 THEN -1 ELSE 1 END)
         |               * LEAST(1000, ABS(u) // dn) AS v
         |        FROM u$i CROSS JOIN f$i)""".stripMargin
    val rounds = (1 to pcaRounds)
      .map(i => round(i, if (i == 1) "v0" else s"v${i - 1}")).mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS q
       |  FROM embeddings),
       |st AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS sq, COUNT(*) AS n
       |       FROM e GROUP BY 1),
       |c0 AS (SELECT vec_id, dim,
       |         q - (CASE WHEN sq < 0 THEN -1 ELSE 1 END) * (ABS(sq) // n) AS c
       |       FROM e JOIN st USING (dim)),
       |cx AS (SELECT vec_id, dim,
       |         (CASE WHEN c < 0 THEN -1 ELSE 1 END) * (ABS(c) // 100) AS x
       |       FROM c0),
       |v0 AS (SELECT dim, 1000 AS v FROM st),
       |$rounds""".stripMargin
  }

  private val pcaPowerSql =
    s"""WITH $pcaCtes
       |SELECT dim, CAST(v AS BIGINT) AS v FROM v$pcaRounds ORDER BY dim""".stripMargin

  private val pcaScoresSql =
    s"""WITH $pcaCtes,
       |sc AS (SELECT vec_id, CAST(SUM(x * v) AS BIGINT) AS proj
       |       FROM cx JOIN v$pcaRounds USING (dim) GROUP BY 1)
       |SELECT vec_id, proj FROM sc
       |ORDER BY ABS(proj) DESC, vec_id LIMIT 20""".stripMargin

  /** Embedding outlier detection — the "noisy / mislabeled vector"
    * curation pass: for every vector, its squared distance to its own
    * label's centroid, top-3 farthest flagged per label. Division-free
    * integer bridge: with S_d = Σ xq_d over the label (exact longs) and
    * n the label count, the per-dim deviation of vector x is
    * n·xq_d − S_d, and sqn = Σ_d (n·xq_d − S_d)² ranks identically to
    * true centroid distance (both factors constant within a label) with
    * ZERO divisions — sidestepping the Spark-`div`-truncates vs
    * DuckDB-`//`-floors mismatch on negative sums entirely. The emitted
    * `dist` rescales sqn by n² (non-negative operands, so truncation
    * and floor agree); ranking stays on raw sqn. Capacity: |n·xq| ≤
    * label_rows·1e4, so sqn fits int64 up to ~10⁵-row labels per the
    * bridge capacity note — past that, rank within label SHARDS (salt
    * the label, take per-shard top-k, re-rank the k·shards survivors
    * exactly) rather than switching to float division. Plan: one
    * map-side explode feeding a (label, dim) hash agg (640 rows out),
    * broadcast back over the re-exploded scan, one (vec_id) rollup,
    * one bounded per-label window.
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        quantize1e4($"embedding").as("xq"))
    val cent = e
      .select($"label", posexplode($"xq").as(Seq("dim", "q")))
      .groupBy($"label", $"dim")
      .agg(sum($"q").as("sd"), count(lit(1)).as("n"))
    val sqn = e
      .select($"vec_id", $"label", posexplode($"xq").as(Seq("dim", "q")))
      .join(broadcast(cent), Seq("label", "dim"))
      .groupBy($"vec_id", $"label")
      .agg(sum(($"n" * $"q" - $"sd") * ($"n" * $"q" - $"sd")).as("sqn"),
        first($"n").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy($"sqn".desc, $"vec_id".asc)
    sqn.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"label", $"rn", $"vec_id", expr("sqn div (n * n)").as("dist"))
      .orderBy($"label", $"rn")
  }

  private val embOutliersSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS q
      |  FROM embeddings),
      |c AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sd,
      |        COUNT(*) AS n
      |      FROM e GROUP BY 1, 2),
      |s AS (SELECT e.vec_id, e.label,
      |        CAST(SUM((c.n * e.q - c.sd) * (c.n * e.q - c.sd)) AS BIGINT) AS sqn,
      |        any_value(c.n) AS n
      |      FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
      |      GROUP BY 1, 2),
      |r AS (SELECT label, vec_id, sqn, n,
      |        row_number() OVER (PARTITION BY label ORDER BY sqn DESC, vec_id) AS rn
      |      FROM s)
      |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id,
      |  CAST(sqn // (n * n) AS BIGINT) AS dist
      |FROM r WHERE rn <= 3 ORDER BY label, rn""".stripMargin

  /** Gate row for [[semanticDecontaminate]]: the %50 query subset
    * plays the benchmark, τ = 0.95 — bench members drop themselves
    * (cos = 1 against their own corpus row; ids are never compared)
    * plus any genuine near-dup, and the surviving id list is the
    * deterministic output the oracle re-derives pair-for-pair.
    */
  def embDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding")
    semanticDecontaminate(s, emb, emb.filter($"vec_id" % 50 === 0), tauMilli = 950L)
      .select($"vec_id").orderBy($"vec_id")
  }

  private val embDecontamSql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |           unnest(embedding) AS x FROM embeddings),
      |q AS MATERIALIZED (SELECT vec_id, i,
      |  CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT) AS xq FROM e),
      |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY 1),
      |dots AS (
      |  SELECT b.vec_id AS bid, c.vec_id AS cid, CAST(SUM(b.xq * c.xq) AS BIGINT) AS dot
      |  FROM q b JOIN q c ON b.i = c.i AND b.vec_id % 50 = 0
      |  GROUP BY 1, 2),
      |flagged AS (
      |  SELECT DISTINCT cid FROM dots
      |  JOIN norms nb ON bid = nb.vec_id JOIN norms nc ON cid = nc.vec_id
      |  WHERE CASE WHEN nb.n2 = 0 OR nc.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(nb.n2 / 1e8) * sqrt(nc.n2 / 1e8)) END >= 0.95)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT cid FROM flagged)
      |ORDER BY vec_id""".stripMargin

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_emb_decontam", embDecontam, Some(embDecontamSql)),
    CatalogEntry("q_emb_pca", pcaPower, Some(pcaPowerSql)),
    CatalogEntry("q_emb_pca_scores", pcaScores, Some(pcaScoresSql)),
    CatalogEntry("q_emb_outlier", embOutliers, Some(embOutliersSql)),
    CatalogEntry("q_emb_quantize", int8Quantize, Some(int8QuantizeSql)),
    CatalogEntry("q_sim_topk", bruteForceTopK, Some(bruteForceTopKSql)),
    CatalogEntry("q_sim_lsh_bucketed", lshBucketed, Some(lshBucketedSql)),
    CatalogEntry("q_sim_prefix", prefixTopK, Some(prefixTopKSql)),
    CatalogEntry("q_sim_ivf", ivf, Some(ivfSql)),
    CatalogEntry("q_sim_pq", pqAdc, Some(pqAdcSql)),
    CatalogEntry("q_sim_ivfpq", ivfPq, Some(ivfPqSql)),
    CatalogEntry("q_sim_ivfpq_serve", ivfPqServe, Some(ivfPqServeSql)),
    CatalogEntry("q_dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    CatalogEntry("q_dedup_semantic_capped", semanticCappedQuery, Some(semanticCappedSql)),
    CatalogEntry("q_dedup_semantic_admit", semanticAdmitRow, Some(semanticAdmitSql)),
    CatalogEntry("q_emb_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    CatalogEntry("q_emb_centroid", labelCentroids, Some(labelCentroidsSql)))
}
