package graft.ops

import graft.{CatalogEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.Scoped

/** Text-analysis operators for training-data pipelines (builder-prompt
  * north star): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. Pure per-row map work — built-in string /
  * array higher-order functions, fully codegen'd, no shuffle at all
  * (embarrassingly parallel at 100 TB).
  */
object TextAnalysis {

  /** HOF reference formulation of the sliding word bigrams, superseded
    * in the query paths by the native codegen
    * [[graft.functions.WordNgramsExpr]] — kept as the independently
    * derived twin WordNgramsSpec pins the native expression against
    * (the [[graft.ops.Dedup.shinglesFromWords]] convention). zip_with
    * pads the shorter slice with null, concat-null yields null, filter
    * drops it — so windows containing a null word vanish.
    */
  private[graft] def wordBigramsRef(ws: Column): Column =
    filter(zip_with(ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (x, y) => concat(x, lit(" "), y)), x => x.isNotNull)

  /** Sliding word n-grams via the native codegen expression — one
    * fused loop per row instead of the interpreted zip_with/transform
    * chains (HOFs are CodegenFallback and broke whole-stage codegen at
    * the head of every gram-exploding corpus scan — the
    * [[graft.functions.MinHashShingles]] failure mode). Built directly
    * via the ColumnBridge, no session registration dependency.
    */
  private[graft] def wordNgrams(ws: Column, n: Int): Column =
    org.apache.spark.sql.graftaccess.ColumnBridge.column(
      graft.functions.WordNgramsExpr(
        org.apache.spark.sql.graftaccess.ColumnBridge.expression(ws), n))

  /** The bigram front end every bigram row shares ([[bigramStats]],
    * [[repetition]], [[lmRarity]], the DSIR token stream, the BPE
    * merge loop). WordNgramsSpec pins it against the HOF reference
    * [[wordBigramsRef]].
    */
  private[graft] def wordBigrams(ws: Column): Column = wordNgrams(ws, 2)

  /** Per-document statistics: lengths, word counts, type-token ratio,
    * average word length (exact int arithmetic → deterministic double).
    */
  def stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // words and the distinct set tokenized/computed once per row (their
    // own multi-referenced projection aliases), not once per reference
    val words = $"__ws"
    val sumLen = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    Tables.t(s, dir, "documents")
      .withColumn("__ws", split($"text", " "))
      .withColumn("__wd", array_distinct($"__ws"))
      .select(
        $"doc_id", $"lang", $"source", $"n_chars",
        length($"text").cast("long").as("n_chars_calc"),
        size(words).cast("long").as("n_words"),
        size($"__wd").cast("long").as("n_distinct"),
        (size($"__wd").cast("double") / size(words)).as("ttr"),
        (sumLen.cast("double") / size(words)).as("avg_word_len"))
      .orderBy($"doc_id")
  }

  private val statsSql =
    """SELECT doc_id, lang, source, n_chars,
      |  CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS ttr,
      |  CAST(CAST(list_sum(list_transform(string_split(text, ' '),
      |      w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_word_len
      |FROM documents ORDER BY doc_id""".stripMargin

  private val enStop = Seq("the", "a", "of", "and", "in", "to", "is")

  /** N-gram-heuristic language ID: stopword-hit ratio over the word
    * multiset → 'en' above threshold. (The fixture's lang labels are
    * random w.r.t. tokens, so `predicted` vs `lang` also demonstrates
    * an accuracy-audit join.)
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = $"__ws"
    val hits = aggregate(
      transform(words, w => when(w.isin(enStop: _*), 1L).otherwise(0L)),
      lit(0L), (a, x) => a + x)
    Tables.t(s, dir, "documents")
      .withColumn("__ws", split($"text", " "))
      // the stopword fold itself is materialized once: en_ratio and the
      // threshold both read it
      .withColumn("__hits", hits)
      .select(
        $"doc_id", $"lang",
        ($"__hits".cast("double") / size(words)).as("en_ratio"),
        when($"__hits".cast("double") / size(words) >= 0.08, "en")
          .otherwise("other").as("predicted"))
      .orderBy($"doc_id")
  }

  private val langIdSql = {
    val set = enStop.map(w => s"'$w'").mkString("(", ",", ")")
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
       |h AS (SELECT doc_id, lang,
       |  CAST(CAST(list_sum(list_transform(words,
       |    w -> CASE WHEN w IN $set THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE)
       |    / len(words) AS en_ratio
       |FROM d)
       |SELECT doc_id, lang, en_ratio,
       |  CASE WHEN en_ratio >= 0.08 THEN 'en' ELSE 'other' END AS predicted
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Quality score: weighted blend of length saturation, stopword ratio
    * and long-word ratio — the filter-threshold shape used to gate
    * training corpora. Fixed expression order → deterministic double.
    */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tokenization and both count folds materialized once per row;
    // the two derived ratios and the blended score read the aliases
    val words = $"__ws"
    val nw = size(words).cast("double")
    val stopHits = aggregate(
      transform(words, w => when(w.isin(enStop: _*), 1L).otherwise(0L)),
      lit(0L), (a, x) => a + x).cast("double")
    val longWords = aggregate(
      transform(words, w => when(length(w) >= 6, 1L).otherwise(0L)),
      lit(0L), (a, x) => a + x).cast("double")
    val lenSat = least($"n_chars".cast("double") / 500.0, lit(1.0))
    val score = $"len_sat" * 0.4 + $"stop_ratio" * 0.3 + $"long_ratio" * 0.3
    Tables.t(s, dir, "documents")
      .withColumn("__ws", split($"text", " "))
      .withColumn("len_sat", lenSat)
      .withColumn("stop_ratio", stopHits / nw)
      .withColumn("long_ratio", longWords / nw)
      .select($"doc_id", $"len_sat", $"stop_ratio", $"long_ratio",
        score.as("quality"),
        (score >= 0.2).as("keep"))
      .orderBy($"doc_id")
  }

  private val qualitySql = {
    val set = enStop.map(w => s"'$w'").mkString("(", ",", ")")
    s"""WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents),
       |m AS (SELECT doc_id,
       |  least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_sat,
       |  CAST(CAST(list_sum(list_transform(words,
       |    w -> CASE WHEN w IN $set THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE)
       |    / CAST(len(words) AS DOUBLE) AS stop_ratio,
       |  CAST(CAST(list_sum(list_transform(words,
       |    w -> CASE WHEN length(w) >= 6 THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE)
       |    / CAST(len(words) AS DOUBLE) AS long_ratio
       |FROM d)
       |SELECT doc_id, len_sat, stop_ratio, long_ratio,
       |  len_sat * 0.4 + stop_ratio * 0.3 + long_ratio * 0.3 AS quality,
       |  len_sat * 0.4 + stop_ratio * 0.3 + long_ratio * 0.3 >= 0.2 AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (words | single punctuation) + chars-per-token. The token count is
    * computed as word-run count plus non-word-non-space char count —
    * the same number the `\w+|[^\w\s]` alternation produces (a maximal
    * \w run is one alternation match; every other non-space char
    * matches alone), but each part is a single linear regex pass where
    * the alternation backtracked per character (it was the slowest
    * projection in the whole bench). Counted once in its own
    * projection, referenced twice.
    */
  def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .withColumn("re0",
        (regexp_count($"text", lit("\\w+")) +
          length(regexp_replace($"text", "[\\w\\s]", ""))).cast("long"))
      .select(
        $"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        $"re0".as("re_tokens"),
        ($"n_chars".cast("double") / $"re0").as("chars_per_token"))
      .orderBy($"doc_id")
  }

  private val tokensSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS re_tokens,
      |  CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '\w+|[^\w\s]'))
      |    AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: whole-doc md5 + min-hash of 3-word
    * shingles (winnowing-style sketch) + duplicate-fingerprint count.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // normalized text and its words materialized once (multi-referenced
    // aliases survive CollapseProject); shingles via the native fused
    // Shingles3 (order/null parity with the zip_with reference pinned
    // by MinHashNativeSpec) — min over the DISTINCT shingle set equals
    // min over all shingles, with fewer md5 calls. The per-shingle md5
    // + array_min stay declarative: this row needs the full 32-hex
    // minimum (winnowing sketch), not the MinHash6 chunk layout.
    Tables.t(s, dir, "documents")
      .withColumn("__norm", lower(trim($"text")))
      .withColumn("__ws", split($"__norm", " "))
      .select(
        $"doc_id",
        md5($"__norm").as("fp"),
        array_min(transform(Dedup.shingles3($"__ws"), sh => md5(sh)))
          .as("min_shingle"),
        (size($"__ws") - 2).cast("long").as("n_shingles"))
      .withColumn("n_same_fp",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .orderBy($"doc_id")
  }

  private val fingerprintSql =
    """WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS fp,
      |  string_split(lower(trim(text)), ' ') AS words FROM documents),
      |s AS (SELECT doc_id, fp,
      |  list_min([md5(array_to_string(words[i:i+2], ' '))
      |            FOR i IN generate_series(1, len(words) - 2)]) AS min_shingle,
      |  CAST(len(words) - 2 AS BIGINT) AS n_shingles
      |FROM d)
      |SELECT doc_id, fp, min_shingle, n_shingles,
      |  COUNT(*) OVER (PARTITION BY fp) AS n_same_fp
      |FROM s ORDER BY doc_id""".stripMargin

  /** TF-IDF-style term ranking: top-3 terms per document by
    * tf · N / df (inverse document frequency without the logarithm —
    * log is monotone, so the RANKING is the classic TF-IDF ranking,
    * while the score stays one exact integer product and ONE IEEE
    * division, bit-identical across engines; ln() is libm-dependent
    * and would not hash-match). Shuffle shape at 100 TB: one shuffle
    * of exploded tokens to (doc, term) tf, one narrow shuffle of the
    * tf table to per-term df (df counts tf ROWS — one row per
    * (doc, term), so it IS the document frequency), a term-keyed join
    * (df side is vocabulary-sized → broadcast/AQE), and a per-doc
    * window for the top-k.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    // tf feeds BOTH the df aggregate and the score join — persist it,
    // or the tokenize+explode+per-(doc,term) shuffle lineage executes
    // twice (measured 2.9 s → 1.5 s min at the 10× fixture)
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .persistScoped()
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf", $"df",
        (($"tf" * $"n").cast("double") / $"df").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"doc_id", $"rank")
  }

  private val tfidfSql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.term, tf, df, CAST(tf * n AS DOUBLE) / df AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  score, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** BM25 lexical retrieval — the sparse top-k search a training
    * pipeline runs for benchmark decontamination and targeted data
    * selection (reference's pandas filter surface has no retrieval at
    * all; this is the standard Okapi shape, Robertson & Walker 1994).
    * Query batch is FIXED (replica-0 doc_ids ≡ 3 mod 97, first 8
    * distinct tokens each): retrieval is a SERVING op, so the batch
    * must not grow with the corpus — same discipline as
    * q_sim_ivfpq_serve.
    *
    * Plan at 100 TB: one pass over documents (text column only)
    * explodes postings WITH the doc length carried alongside, pruned
    * immediately by a broadcast-hash join against the ~400-term query
    * vocabulary — the inverted-index point lookup, expressed as
    * map-side pruning so no unpruned posting ever shuffles. Everything
    * after the prune (tf rollup, df rollup, score join, per-query
    * top-k) runs on candidate-sized data; corpus-wide work is the scan
    * plus one map-side-partial count/sum for N and avgdl.
    *
    * Cross-engine exactness: idf uses the log-free odds ratio
    * (N − df + ½)/(df + ½) — written as one exact-integer ratio
    * (2N−2df+1)/(2df+1) — because ln() is libm-dependent and would not
    * hash-match (the [[tfidf]] precedent); per-term weights are a fixed
    * chain of IEEE ops (bit-identical given identical op order, which
    * the oracle mirrors parenthesis-for-parenthesis), and the per-doc
    * sum is the [[graft.ops.dsum]] fixed-point discipline — scaled
    * longs summed exactly, so summation ORDER (where Spark and DuckDB
    * differ) cannot flip a bit. Ranking ties break on doc_id.
    */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
    // the ~50-query batch feeds BOTH broadcast sides (vocabulary prune
    // and score join) — persist it, or the corpus scans twice just to
    // re-derive 400 rows
    val queries = bm25QueryBatch(docs).persistScoped()
    val qterms = queries.select($"term").distinct()
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(size($"words").cast("long")).as("toks"))
    // postings carry len with them (no second corpus scan for a
    // doc-keyed length join) and are pruned by the broadcast query
    // vocabulary BEFORE any shuffle
    val postings = docs
      .select($"doc_id", size($"words").cast("long").as("len"),
        explode($"words").as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy($"term", $"doc_id", $"len").agg(count(lit(1)).as("tf"))
      .persistScoped()
    bm25Tail(postings.crossJoin(broadcast(stats)), bm25Df(postings), queries,
      $"n", $"toks")
  }

  /** Each term's document frequency over a postings frame (one row per
    * (term, doc)): its row count. ONE expression for the in-row rows and
    * the frozen serve, whose pruned postings scan already holds every
    * row of every query term — so the index stores no df table. */
  private def bm25Df(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** The fixed BM25 serving batch: replica-0 doc_ids ≡ 3 (mod 97),
    * first 8 distinct tokens each — shared by the in-row [[bm25]] and
    * the frozen-index [[bm25ServeRow]] so the two gate rows stay
    * oracle-identical. Input must carry (doc_id, words).
    */
  private def bm25QueryBatch(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.filter($"doc_id" % 97 === 3 && $"doc_id" < 100000)
      .select($"doc_id".as("query_id"), explode(slice($"words", 1, 8)).as("term"))
      .distinct()
  }

  /** BM25 score-and-rank tail shared by [[bm25]] and [[bm25Serve]]:
    * ONE expression tree for both, so frozen-index serving is
    * bit-identical to the in-row computation (the cross-engine IEEE
    * op-order argument lives in one place). `n`/`toks` are the 1-row
    * broadcast-cross columns in the in-row version and driver literals
    * in the serving version — same exact longs, same double ops.
    * Postings must carry (term, doc_id, len, tf); dfq (term, df) —
    * [[bm25Df]] on both paths; queries (query_id, term).
    */
  private def bm25Tail(postings: DataFrame, dfq: DataFrame,
      queries: DataFrame, n: Column, toks: Column): DataFrame =
    bm25TopCut(bm25Ranks(postings, dfq, queries, n, toks))

  /** The gate rows' top-5 presentation cut over a [[bm25Ranks]] frame. */
  private def bm25TopCut(ranked: DataFrame): DataFrame = {
    val s = ranked.sparkSession
    import s.implicits._
    ranked
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"doc_id",
        ($"s6".cast("double") / lit(1e6)).as("score"), $"n_terms")
      .orderBy($"query_id", $"rank")
  }

  /** The idf modes a serve-time caller can pick ([[bm25Serve]]'s
    * `idfMode`): `exact` is the shipped log-free odds ratio (the
    * bit-exact gate arithmetic); `lucene` is ln(1 + (N−df+½)/(df+½)) —
    * Lucene's always-positive form, for users comparing ranks against
    * external ln-idf retrievers. Both are computed from the SAME
    * additive index stats (df, N, tf, len, toks) at scoring time, so
    * the frozen index, its append ≡ rebuild invariant, and the s6
    * fixed-point discipline are untouched — the mode changes one
    * per-term constant, nothing stored.
    */
  private[graft] val bm25IdfModes = Set("exact", "lucene")

  /** BM25 score-and-rank core: every (query, matched doc) with its
    * fixed-point score `s6`, matched-term count, and dense rank-1..N
    * position (score desc, doc_id tiebreak). [[bm25Tail]] cuts it to
    * the top-5 gate shape; [[hybridRrf]] consumes the positions as one
    * of its fused rank lists.
    *
    * Rank agreement vs Lucene measured per mode
    * (`tools/bm25_rank_agreement_r17.json` + the r18 lucene leg,
    * `tools/bm25_rank_agreement_r18.json`): `exact` agrees 1.0 on single-term
    * queries and mean 0.96/0.84/0.69 top-5 for 2/4/8-term queries on a
    * skewed 50k corpus; `lucene` is EXACTLY Lucene's formula, so
    * overlap is 1.0 at every query length by construction (the probe's
    * external comparator and this mode compute the same weight; the
    * spec pins ranks against an independent recomputation).
    */
  private def bm25Ranks(postings: DataFrame, dfq: DataFrame,
      queries: DataFrame, n: Column, toks: Column,
      idfMode: String = "exact"): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    require(bm25IdfModes.contains(idfMode),
      s"bm25Ranks: unknown idfMode '$idfMode' — pick one of " +
        bm25IdfModes.mkString(", "))
    val idf =
      if (idfMode == "lucene")
        log(lit(1.0) + (n.cast("double") - $"df".cast("double") + lit(0.5)) /
          ($"df".cast("double") + lit(0.5)))
      else
        (lit(2L) * n - lit(2L) * $"df" + lit(1L)).cast("double") /
          (lit(2L) * $"df" + lit(1L)).cast("double")
    val denom = $"tf".cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) *
        ($"len".cast("double") * n.cast("double") / toks.cast("double")))
    val w = idf * (($"tf".cast("double") * lit(2.2)) / denom)
    val hits = postings
      .join(broadcast(dfq), Seq("term"))
      .join(broadcast(queries), Seq("term"))
      .select($"query_id", $"doc_id", w.as("w"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum(round($"w" * lit(1e6)).cast("long")).as("s6"),
        count(lit(1)).as("n_terms"))
    val win = Window.partitionBy($"query_id").orderBy($"s6".desc, $"doc_id".asc)
    hits.withColumn("rank", row_number().over(win).cast("long"))
  }

  /** Loud ceiling on a BM25 serving batch's distinct query terms. The
    * query vocabulary is broadcast under the corpus scan and the batch
    * itself is broadcast into the score join — "serving-batch sized"
    * is a contract, and contracts here fail loudly before they OOM
    * (the [[graft.ops.Dedup.maxServeBenchShingles]] convention). 10k
    * distinct terms ≈ a few hundred KB broadcast, far past any real
    * serving batch (the gate rows carry ~400).
    */
  val maxBm25QueryTerms = 10000L

  /** Fail loudly when a query vocabulary exceeds the serving-batch
    * broadcast ceiling, naming the routes an oversized set belongs on.
    */
  private def requireServingBatch(nTerms: Long, maxQueryTerms: Long,
      what: String): Unit =
    require(nTerms <= maxQueryTerms,
      s"$what: the query set expands to $nTerms distinct terms — above " +
        s"the $maxQueryTerms serving-batch broadcast ceiling (the query " +
        "vocabulary is broadcast under the corpus scan and the batch is " +
        "broadcast into the score join). A target set this size is not " +
        "a serving batch: route it through the exact-overlap " +
        "decontamination paths (bloom_decontaminate / exact_decontaminate " +
        "— Dedup.exactDecontaminateFrozen scales to any bench size), or " +
        "split the batch and serve the slices.")

  /** Loud guard on the s6 fixed-point headroom (r16 verdict ask #6):
    * the docstring argument "safe until N·1e6 nears 2⁶³" is enforced
    * here with the EXACT worst case, not narrated. Per matched term,
    * idf ≤ (2N+1)/3 (df ≥ 1) and the tf-saturation factor is < 2.2
    * (denom > tf), so a query's s6 sum is bounded by
    * termsPerQuery · 2.2 · (2N+1)/3 · 1e6. We require 4× headroom
    * under Long.Max (rounding slack + future formula drift); past it,
    * the fix is rescaling the fixed point (1e6 → 1e3 loses nothing at
    * that corpus scale — scores are O(N)) — which must be a deliberate
    * artifact-version change, not a silent wrap, because frozen-index
    * scores must stay comparable across appends.
    */
  private[graft] def requireBm25Headroom(nDocs: Long, maxTermsPerQuery: Long,
      what: String): Unit = {
    val worstS6 = maxTermsPerQuery.toDouble * 2.2 *
      (2.0 * nDocs.toDouble + 1.0) / 3.0 * 1e6
    require(worstS6 < Long.MaxValue.toDouble / 4.0,
      s"$what: corpus N=$nDocs docs with up to $maxTermsPerQuery " +
        "query terms can push the s6 fixed-point sum past the Long " +
        "headroom (worst-case idf (2N+1)/3 at df=1, tf-saturation " +
        "< 2.2, 1e6 scale, 4x safety margin). Rescale the fixed point " +
        "(rebuild the index with a coarser score scale) or shorten " +
        "the queries - do NOT ignore this: the sum would wrap " +
        "silently and corrupt every rank it touches.")
  }

  /** BM25 score-and-rank over ARBITRARY frames — the engine behind
    * [[bm25TopKOn]] and the `bm25_select` / `bm25_decontaminate` /
    * `hybrid_select` curation transforms. `corpus` and `queryDocs`
    * each carry (doc_id, text); each query doc contributes its first
    * `queryTokens` distinct tokens as the query (TRUNCATION, not a
    * sample: content past token `queryTokens` never matches — raise it
    * when the targets' identifying text sits deep in the doc). Returns
    * every (query, matched doc) with its fixed-point score `s6`,
    * matched-term count and dense rank ([[bm25Ranks]] columns).
    *
    * The query vocabulary is counted at first use and guarded by
    * `maxQueryTerms` ([[requireServingBatch]] — broadcastability is a
    * contract, not a docstring).
    *
    * RANKING CAVEAT (cross-engine exactness vs standard Okapi): the
    * idf here is the log-free exact-integer odds ratio
    * (2N−2df+1)/(2df+1), NOT rank-equivalent to an external ln-based
    * retriever for multi-term sums — a sum of odds ratios weights
    * rare terms more steeply than a sum of logs. MEASURED
    * (`tools/bm25_rank_agreement_r17.json` — probe recomputation
    * asserted bit-equal to this path before comparing): vs Lucene's always-positive
    * ln(1+odds), single-term queries agree EXACTLY (overlap 1.0 — both
    * idfs are positive per-query constants, so per-term doc order is
    * the saturation order in both), and multi-term top-k overlap on a
    * skewed 50k-doc corpus is mean 0.96/0.84/0.69 at k=5 for
    * 2/4/8-term queries (k=100: 1.00/0.98/0.92; worst query 0.05@k20).
    * Vs RAW Robertson–Walker ln((N−df+½)/(df+½)) there is an extra,
    * textbook degeneracy the probe also measured: for df > N/2 that
    * idf is NEGATIVE and inverts even single-term ranking (overlap
    * 0.0 on the small-vocabulary fixture) — deployed ln systems clamp
    * it away, which is why Lucene's form is the comparator that
    * matters. The trade is deliberate: ln() is libm-dependent and
    * would break the bit-exact hash gate ([[bm25]]'s scaladoc). Overflow headroom:
    * per-term weights scale linearly with N (idf ≈ 2N/df for rare
    * terms), so s6 ≈ Σ round(w·1e6) stays far from Long range until
    * N·1e6 approaches 2⁶³ — i.e. corpora beyond ~10¹² docs with
    * singleton dfs; at that scale rescale the fixed point before the
    * sum. On the frozen-index serve path, where N is exact and
    * driver-side, this is ENFORCED, not narrated —
    * [[requireBm25Headroom]] fails loudly before a sum could wrap.
    */
  private[graft] def bm25RanksOn(corpus: DataFrame, queryDocs: DataFrame,
      queryTokens: Int = 8,
      maxQueryTerms: Long = maxBm25QueryTerms,
      idfMode: String = "exact"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    require(queryTokens >= 1, s"bm25RanksOn: queryTokens must be >= 1, got $queryTokens")
    val docs = corpus.select($"doc_id", split($"text", " ").as("words"))
    val queries = queryDocs
      .select($"doc_id".as("query_id"),
        explode(slice(split($"text", " "), 1, queryTokens)).as("term"))
      .distinct()
      .persistScoped()
    requireServingBatch(queries.select($"term").distinct().count(),
      maxQueryTerms, "bm25RanksOn")
    val qterms = queries.select($"term").distinct()
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(size($"words").cast("long")).as("toks"))
    val postings = docs
      .select($"doc_id", size($"words").cast("long").as("len"),
        explode($"words").as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy($"term", $"doc_id", $"len").agg(count(lit(1)).as("tf"))
      .persistScoped()
    bm25Ranks(postings.crossJoin(broadcast(stats)), bm25Df(postings), queries,
      $"n", $"toks", idfMode)
  }

  /** BM25 top-k over ARBITRARY frames — the library form behind the
    * `bm25_select` curation transform: each query's top-`k` corpus
    * docs under the same exact-arithmetic scoring as the [[bm25]] gate
    * row (one shared [[bm25Ranks]] tail; see [[bm25RanksOn]] for the
    * query-truncation, size-guard and multi-term-ranking caveats).
    * Same plan shape: postings pruned map-side by the broadcast query
    * vocabulary, so the corpus is scanned once and never shuffled
    * unpruned.
    */
  def bm25TopKOn(corpus: DataFrame, queryDocs: DataFrame, k: Int,
      queryTokens: Int = 8): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    require(k >= 1, s"bm25TopKOn: k must be >= 1, got $k")
    bm25RanksOn(corpus, queryDocs, queryTokens)
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id",
        ($"s6".cast("double") / lit(1e6)).as("score"), $"n_terms")
      .orderBy($"query_id", $"rank")
  }

  /** Bucket count for the BM25 index's term-hashed postings layout:
    * 64 directories (the [[graft.ops.Dedup.defaultAdmitBuckets]]
    * convention) — listing rent stays trivial while a serving batch
    * prunes its postings scan to the buckets its terms hash into.
    */
  val defaultBm25Buckets = 64

  private val bm25BucketsMarker = "_bm25_buckets"
  private val bm25IntentMarker = "_bm25_compact_intent"

  /** The postings layout's schema, partition columns included. Every
    * read of a layout this module wrote declares it, so no read pays a
    * footer-inference job. */
  private val bm25PostingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "term STRING, doc_id BIGINT, len BIGINT, tf BIGINT, batch BIGINT, bucket INT")

  /** The postings of generations `ids` of the index at `path`, read
    * under [[bm25PostingsSchema]] (`batch`/`bucket` as columns). */
  private def readBm25Postings(s: SparkSession, path: String,
      ids: Seq[Long]): DataFrame =
    s.read.schema(bm25PostingsSchema).option("basePath", s"$path/postings")
      .parquet(ids.map(b => s"$path/postings/batch=$b"): _*)

  /** The per-batch df sub earlier layouts wrote beside the postings. A
    * term's df is now the row count of its postings ([[bm25Df]]), so
    * readers ignore the sub and every writer verb deletes it after
    * intent recovery — idempotent, so a crash mid-delete is safe. */
  private def dropLegacyDfreq(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    graft.connect.Hfs.deleteIfExists(fs,
      new org.apache.hadoop.fs.Path(path, "dfreq"))

  /** Write postings rows (term, doc_id, len, tf, bucket) to `target`
    * in the index layout: layout-keyed repartition (one file per bucket
    * per job), then term-clustered WITHIN each bucket: parquet
    * row-group min/max on term only prunes if rows are sorted. The sort
    * keys MUST lead with the partition column: a dynamic-partition
    * write requires ordering by its partition columns, and when the
    * child's ordering doesn't already satisfy that, Spark inserts its
    * own Sort(bucket) ON TOP — silently destroying the term clustering
    * (`tools/bm25_prune_r16.json` caught exactly this: r15's
    * sort(term, doc_id) produced row groups whose term range spanned
    * the whole bucket, byte-identical to an unsorted write).
    */
  private def writeBm25Postings(postings: DataFrame, target: String): Unit =
    postings.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("bucket").parquet(target)

  /** Postings rows (term, doc_id, len, tf, bucket) for one corpus
    * slice, plus the slice's exact (docCount, tokenCount) — ONE
    * expression tree shared by [[saveBm25Index]] and
    * [[maintainBm25Index]], so append ≡ rebuild reduces to the
    * additivity of the stats (N and tokens are sums over disjoint
    * batches, and a term's df counts its postings rows across them),
    * not to two code paths agreeing. A batch is two writes: its
    * postings directory, then its stats file.
    */
  private def writeBm25Batch(docs: DataFrame, path: String,
      batchId: Long, buckets: Int): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val idType = docs.schema("doc_id").dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType).contains(idType),
      s"BM25 index: doc_id must be BIGINT or INT, got ${idType.sql}")
    val words = docs.select($"doc_id".cast("long").as("doc_id"),
      split($"text", " ").as("words"))
    val postings = words
      .select($"doc_id", size($"words").cast("long").as("len"),
        explode($"words").as("term"))
      .groupBy($"term", $"doc_id", $"len").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash($"term"), lit(buckets)))
    val (n, toks) = words
      .agg(count(lit(1)), coalesce(sum(size($"words").cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    // an empty batch writes NOTHING: a file-less batch directory would
    // break schema inference on later reads (the admission-index rule),
    // and contributing (0, 0) to the stats is the same as not existing
    if (n == 0L) return
    writeBm25Postings(postings, s"$path/postings/batch=$batchId")
    graft.connect.Hfs.writeSmall(graft.connect.Hfs.fs(s, path),
      new org.apache.hadoop.fs.Path(path, s"stats/batch=$batchId"),
      s"$n $toks", overwrite = true)
  }

  /** Persist a BM25 inverted index at `path` — the artifact a 100 TB
    * deployment builds once, APPENDS corpus batches to
    * ([[maintainBm25Index]] — streaming hook: the shard-load's
    * `bm25Index` option), compacts ([[compactBm25Index]]) and serves
    * query batches against ([[bm25Serve]]), instead of re-exploding
    * the corpus per batch (the [[bm25]] gate row's shape, kept for
    * oracle coverage). Layout (the admission-index generational
    * pattern, `Dedup.createExactDedupIndex`):
    *
    *  - `postings/batch=<id>/bucket=<h>/` — (term, doc_id, len, tf),
    *    hive-partitioned by `hash(term) mod buckets` inside a
    *    per-batch directory (the replay/idempotence unit),
    *    repartitioned on the layout key before the write (one file per
    *    bucket per job) and term-clustered within each bucket. A
    *    term's global df is the count of its postings rows across
    *    batch directories (each doc lives in exactly one batch),
    *    rolled up at serve time on the rows the pruned scan already
    *    read — so no df table is stored;
    *  - `stats/batch=<id>` — "N totalTokens" exact longs per batch;
    *    the corpus constants are the driver-side sum of these files
    *    (bounded by the batch count, which compaction folds);
    *  - `_bm25_buckets` — the bucket modulus, fixed at creation
    *    (every batch must hash terms with the same function).
    *
    * All the statistics are ADDITIVE, so append ≡ rebuild holds
    * EXACTLY — an index grown batch-by-batch serves bit-identical
    * scores to one built in a single shot (InvariantSpec pins it).
    * This is the overwrite verb: any prior index at `path` is
    * replaced.
    */
  def saveBm25Index(docs: DataFrame, path: String,
      buckets: Int = defaultBm25Buckets): Unit = {
    val s = docs.sparkSession
    require(buckets > 0, s"saveBm25Index: buckets must be positive, got $buckets")
    val fs = graft.connect.Hfs.fs(s, path)
    dropLegacyDfreq(fs, path)
    (bm25Subs :+ bm25IntentMarker).foreach { sub =>
      graft.connect.Hfs.deleteIfExists(fs,
        new org.apache.hadoop.fs.Path(path, sub))
    }
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, bm25BucketsMarker),
      buckets.toString, overwrite = true)
    writeBm25Batch(docs, path, 0L, buckets)
  }

  /** Append a corpus batch to a [[saveBm25Index]] layout — the
    * incremental-maintenance verb every other serving artifact here
    * already has (ANN index, admission index). Creates the layout on
    * first use (`buckets` is read from the marker afterwards — the
    * modulus is part of the layout and cannot drift per batch).
    *
    * Replay semantics are IDEMPOTENT PER BATCH ID (the
    * [[graft.ops.Dedup.admitExactDedup]] discipline): the batch's own
    * postings/stats entries are deleted up front, so a batch
    * replayed after a partial failure contributes exactly once —
    * stats can never double-count. Pass the foreachBatch batch id;
    * non-streaming callers pass any monotone non-negative sequence
    * (negative ids are reserved for compaction generations). Batches
    * must be DISJOINT corpus slices — appending the same doc under two
    * batch ids double-counts it, like any append sink.
    *
    * A batch interrupted MID-WRITE (postings landed, stats not) must
    * be replayed under the same id before the index is served —
    * serving the torn middle would count that batch's postings in the
    * dfs without its documents in N and the token total. The
    * streaming hook gets this for free: a crash inside foreachBatch
    * leaves the tick's offsets uncommitted, so the restarted drain
    * replays the same batch id and the delete-own-generation step
    * heals the tear (the admitExactDedup window and discipline).
    */
  def maintainBm25Index(batch: DataFrame, path: String, batchId: Long,
      buckets: Option[Int] = None): Unit = {
    val s = batch.sparkSession
    graft.connect.GenerationalIndex.requireLiveBatchId(batchId,
      "compactBm25Index")
    val fs = graft.connect.Hfs.fs(s, path)
    recoverBm25Compaction(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, bm25BucketsMarker)
    val nb =
      if (fs.exists(marker)) {
        val existing = graft.connect.Hfs.readSmall(fs, marker).trim.toInt
        // the modulus is part of the layout: silently accepting a
        // different request would strand new postings in buckets the
        // serving prune never looks at (the maintainIvfPqIndex
        // width-conflict convention — fail loudly, never drift)
        buckets.foreach(b => require(b == existing,
          s"maintainBm25Index: index at $path was created with " +
            s"$existing buckets but this call asks for $b — the bucket " +
            "modulus is fixed at creation; rebuild with saveBm25Index " +
            "to change it"))
        existing
      } else {
        val b = buckets.getOrElse(defaultBm25Buckets)
        require(b > 0, s"maintainBm25Index: buckets must be positive, got $b")
        graft.connect.Hfs.writeSmall(fs, marker, b.toString, overwrite = true)
        b
      }
    dropLegacyDfreq(fs, path)
    // idempotence: drop any prior attempt of THIS batch before writing
    graft.connect.GenerationalIndex.clearGeneration(fs, path,
      bm25Subs, batchId)
    writeBm25Batch(batch, path, batchId, nb)
  }

  /** Compact a BM25 index: fold every batch directory EXCEPT the
    * newest live one into a single consolidated generation (negative
    * batch id) — postings re-bucketed and re-sorted (each term's df
    * stays its postings row count, the value a rebuild would compute),
    * stats files summed into one. The newest non-negative batch stays
    * untouched because it is the only batch a restarted stream can
    * replay, and
    * replay safety is "delete your own batch=<id> entries, recompute"
    * (the [[graft.ops.Dedup.compactExactDedupIndex]] contract). Run
    * between stream runs or from the scheduler, never concurrently
    * with an active drain.
    *
    * Crash windows: unlike the admission index — where a leftover
    * duplicate row flags exactly what the single row flags — duplicate
    * BM25 rows would DOUBLE-COUNT tf/df and corrupt every score, so
    * leftover-duplicates-until-next-compaction is not an acceptable
    * window here. Compaction therefore commits through
    * [[graft.connect.GenerationalIndex]]'s INTENT mode: the
    * consolidated generation is staged in dot-prefixed temp dirs
    * (invisible to readers), a `_bm25_compact_intent` marker records
    * (generation, folded ids) in one small-file write, and only then
    * are sources deleted and temps renamed into place. Every entry
    * point ([[bm25Serve]], [[maintainBm25Index]], this) first REPLAYS
    * a pending intent to completion ([[recoverBm25Compaction]]), so a
    * crash at any point leaves either the old state (no intent: stale
    * temps are garbage-collected) or a state that deterministically
    * finishes into the new one — never a double-counted index. Returns
    * the number of batch directories folded (0 = nothing to do).
    */
  def compactBm25Index(s: SparkSession, path: String): Int = {
    import graft.connect.{GenerationalIndex => GI}
    val fs = graft.connect.Hfs.fs(s, path)
    recoverBm25Compaction(s, path)
    dropLegacyDfreq(fs, path)
    val plan = GI.foldPlan(GI.generations(fs, path, "postings"))
      .getOrElse(return 0)
    val (gen, fold) = (plan.gen, plan.fold)
    // stale temps from a pre-intent crash are invisible garbage:
    // GI.staging clears each before the stage writes
    GI.staging(fs, path, "postings")
    writeBm25Postings(readBm25Postings(s, path, fold).drop("batch"),
      s"$path/postings/.compact-tmp")
    val summed = fold.flatMap { b =>
      val p = new org.apache.hadoop.fs.Path(path, s"stats/batch=$b")
      if (graft.connect.Hfs.isFile(fs, p))
        Some(graft.connect.Hfs.readSmall(fs, p).trim.split(" ").map(_.toLong))
      else None
    }
    GI.staging(fs, path, "stats")
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, "stats/.compact-tmp"),
      s"${summed.map(_(0)).sum} ${summed.map(_(1)).sum}", overwrite = true)
    // commit point: one small-file write; everything after is replayable
    GI.writeIntent(fs, path, bm25IntentMarker, gen, fold)
    GI.applyIntent(fs, path, bm25Subs, bm25IntentMarker, gen, fold,
      "bm25-index compaction")
    fold.size
  }

  /** The generational subs of a BM25 layout — postings + per-batch
    * stats, compacted and replayed as a unit. */
  private val bm25Subs = Seq("postings", "stats")

  /** Replay a crashed [[compactBm25Index]] to completion if its intent
    * marker exists (no-op otherwise — one existence check). Called by
    * every lifecycle entry point, so readers can never observe the
    * double-counted middle of a compaction. */
  def recoverBm25Compaction(s: SparkSession, path: String): Unit = {
    graft.connect.GenerationalIndex.recoverIntent(graft.connect.Hfs.fs(s, path),
      path, bm25Subs, bm25IntentMarker, "bm25-index compaction")
    recoverBm25Rebucket(s, path)
  }

  private val bm25RebucketMarker = "_bm25_rebucket_intent"

  /** The family-specific tail of a BM25 rebucket's commit, run by
    * [[graft.connect.GenerationalIndex.applyMigrate]] after the shared
    * generation work: only the bucket-modulus marker rewrite (plain
    * overwrite — idempotent). The stats sub rides the SHARED protocol:
    * it is in the migration's sub list, so its folded batch files are
    * deleted with the other subs' (leaving them would double-count the
    * corpus constants against the consolidated file) and its staged
    * `.compact-tmp` — a small file, not a directory, but rename is the
    * same primitive — lands as `stats/batch=<gen>` in the rename loop.
    */
  private def bm25RebucketFinish(fs: org.apache.hadoop.fs.FileSystem,
      path: String, param: Option[String]): Unit =
    param.foreach(nb => graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(path, bm25BucketsMarker),
      nb, overwrite = true))

  /** Replay a crashed [[rebucketBm25Index]] to completion if its
    * write-ahead intent exists (one existence check otherwise). The
    * commit sequence swaps the bucket modulus together with the
    * re-hashed layout, so a reader that skipped recovery could prune
    * its scans with the OLD modulus over the NEW layout — missing
    * terms silently. Folded into [[recoverBm25Compaction]], which
    * every entry point already calls. Protocol:
    * [[graft.connect.GenerationalIndex.recoverMigrate]].
    */
  private def recoverBm25Rebucket(s: SparkSession, path: String): Unit = {
    val fs = graft.connect.Hfs.fs(s, path)
    graft.connect.GenerationalIndex.recoverMigrate(fs, path,
      bm25Subs, bm25RebucketMarker, "bm25-rebucket") {
      (_, param) => bm25RebucketFinish(fs, path, param)
    }
  }

  /** Migrate a BM25 index to a different bucket modulus — the
    * retrieval-family sibling of
    * [[graft.ops.Similarity.rebucketSemanticDedupIndex]]. The bucket
    * count is frozen at creation (every batch must hash terms with one
    * function), and it is a SERVING-pruning knob: a serving batch
    * reads only the partitions its terms hash into, so a vocabulary
    * that outgrew the create-time modulus leaves each bucket holding
    * more unrelated postings than a scan should pay for (the measured
    * 4.8–16× pruning win shrinks as buckets fatten). Re-bucketing
    * re-hashes the layout without touching a single statistic:
    * scores are bit-identical before and after (bucketing is pure
    * layout — the existing bucket-count-invariance spec is the
    * proof obligation), so unlike the semantic rebucket there is no
    * geometry to reason about, only the commit protocol.
    *
    *  - folded generations consolidate into one re-hashed negative
    *    generation (postings re-hashed, stats summed, like compaction);
    *  - the newest LIVE generation is re-hashed IN PLACE under its own
    *    batch id — a restarted stream replaying that batch deletes its
    *    own generation and recomputes under the new marker, so replay
    *    safety survives the migration;
    *  - the commit is a write-ahead intent carrying the new modulus;
    *    the marker swap happens inside the replayable window, and
    *    every entry point replays a pending intent first — a reader
    *    can never prune with the old modulus over the new layout.
    *
    * Run between drains (or from the scheduler), never concurrently
    * with an active append. Returns the number of generations
    * re-hashed (folded + live).
    */
  def rebucketBm25Index(s: SparkSession, path: String, newBuckets: Int): Int = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.connect.{Hfs, GenerationalIndex => GI}
    require(newBuckets > 0,
      s"rebucketBm25Index: newBuckets must be positive, got $newBuckets")
    val fs = Hfs.fs(s, path)
    require(fs.exists(new Path(path, bm25BucketsMarker)),
      s"$path is not a BM25 index (no $bm25BucketsMarker marker) — " +
        "build one with saveBm25Index or maintainBm25Index")
    recoverBm25Compaction(s, path)
    dropLegacyDfreq(fs, path)
    // already at the target modulus: a scheduled rebucket pipeline must
    // be a cheap no-op after the migration (the compact_* foldPlan-None
    // convention), not an unbounded full-index rewrite every run
    if (Hfs.readSmall(fs, new Path(path, bm25BucketsMarker)).trim.toInt
        == newBuckets) return 0
    val gens = GI.generations(fs, path, "postings")
    require(gens.nonEmpty,
      s"rebucketBm25Index: $path holds no corpus batches — set the " +
        "bucket count at creation instead of migrating an empty index")
    val plan = GI.migratePlan(gens)
    val (live, fold) = (plan.live, plan.fold)
    // clear stale staging from any prior abandoned attempt
    Seq("postings/.compact-tmp", "postings/.rebucket-live-tmp", "stats/.compact-tmp")
      .foreach(sub => Hfs.deleteIfExists(fs, new Path(path, sub)))
    def rehash(ids: Seq[Long], tmp: String): Unit =
      writeBm25Postings(readBm25Postings(s, path, ids).drop("batch")
        .withColumn("bucket", pmod(hash($"term"), lit(newBuckets))),
        s"$path/postings/$tmp")
    if (fold.nonEmpty) {
      rehash(fold, ".compact-tmp")
      val summed = fold.flatMap { b =>
        val p = new Path(path, s"stats/batch=$b")
        if (Hfs.isFile(fs, p))
          Some(Hfs.readSmall(fs, p).trim.split(" ").map(_.toLong))
        else None
      }
      if (summed.nonEmpty)
        Hfs.writeSmall(fs, new Path(path, "stats/.compact-tmp"),
          s"${summed.map(_(0)).sum} ${summed.map(_(1)).sum}", overwrite = true)
    }
    live.foreach(lid => rehash(Seq(lid), ".rebucket-live-tmp"))
    // COMMIT POINT: everything after the intent is replayable
    GI.writeMigrateIntent(fs, path, bm25RebucketMarker, plan,
      Some(newBuckets.toString))
    GI.applyMigrate(fs, path, bm25Subs, bm25RebucketMarker, plan,
      "bm25-rebucket") {
      bm25RebucketFinish(fs, path, Some(newBuckets.toString))
    }
    fold.size + live.size
  }

  /** BM25 top-5 served from a [[saveBm25Index]] /
    * [[maintainBm25Index]] layout — identical output to the in-row
    * [[bm25]] on the same corpus and query batch (InvariantSpec pins
    * it; both run [[bm25Tail]]). Per batch the index pays: one small
    * metadata collect of the query terms with their buckets and
    * the longest query's term count, a postings scan (schema declared,
    * so no footer-inference job) pruned to those PARTITIONS (bucket
    * INSET in PartitionFilters) with the term INSET pushed for
    * row-group stats inside them, a candidate-sized df rollup of the
    * same pruned rows across batch generations ([[bm25Df]] — the scan
    * holds every posting of every query term; no df table is read),
    * and a driver-side sum of the per-batch stats files — no corpus
    * re-scan, no re-explode, whatever the index has grown to.
    * `queries` must carry (query_id, term) and be serving-batch sized
    * — enforced loudly via `maxQueryTerms` ([[requireServingBatch]]),
    * since both sides of the score join broadcast the batch.
    *
    * Tuning (measured, `tools/bm25_prune_r16.json`): term-clustered
    * row groups prune the postings read ~4.8× at stock conf via page
    * column indexes; raising
    * `spark.sql.parquet.pushdown.inFilterThreshold` above the batch's
    * distinct-term count lets the native IN predicate reach row-group
    * stats for ~16×. Serving sessions should set that conf — it is a
    * session conf, so this library function deliberately does not
    * mutate it.
    *
    * `idfMode` picks the per-term idf at SCORING time ([[bm25IdfModes]]):
    * the default `exact` keeps the shipped bit-exact odds-ratio
    * arithmetic; `lucene` scores with ln(1 + (N−df+½)/(df+½)) for
    * rank-compatibility with external ln-idf retrievers (overlap 1.0
    * by construction — it IS the same formula). Both read the same
    * frozen index: nothing stored changes, append ≡ rebuild holds in
    * either mode, and the s6 fixed point is preserved.
    */
  def bm25Serve(s: SparkSession, queries: DataFrame, indexPath: String,
      maxQueryTerms: Long = maxBm25QueryTerms,
      idfMode: String = "exact"): DataFrame =
    bm25TopCut(bm25ServeRanks(s, queries, indexPath, maxQueryTerms, idfMode))

  /** [[bm25Serve]]'s full-rank core: every (query, matched doc) with
    * its fixed-point score and rank position, straight off the frozen
    * index ([[bm25Ranks]] columns — the serving twin of
    * [[bm25RanksOn]]). [[hybridServeRow]] consumes the positions as
    * the lexical list of its fusion; [[bm25Serve]] cuts to the top-5
    * gate shape. Same pruned-scan plan and serving-batch guard as the
    * docstring above.
    */
  private[graft] def bm25ServeRanks(s: SparkSession, queries: DataFrame,
      indexPath: String,
      maxQueryTerms: Long = maxBm25QueryTerms,
      idfMode: String = "exact"): DataFrame = {
    import s.implicits._
    val fs = graft.connect.Hfs.fs(s, indexPath)
    val marker = new org.apache.hadoop.fs.Path(indexPath, bm25BucketsMarker)
    require(fs.exists(marker),
      s"$indexPath is not a BM25 index (no $bm25BucketsMarker marker) — " +
        "build one with saveBm25Index or maintainBm25Index")
    recoverBm25Compaction(s, indexPath)
    val buckets = graft.connect.Hfs.readSmall(fs, marker).trim.toInt
    val statFiles = graft.connect.Hfs.listFiles(fs,
      new org.apache.hadoop.fs.Path(indexPath, "stats"))
      .filter(_.getName.startsWith("batch="))
    require(statFiles.nonEmpty,
      s"$indexPath holds no corpus batches — append one with maintainBm25Index")
    // the corpus constants roll forward additively: exact long sums of
    // the per-batch stats files (bounded by batch count; compaction folds)
    val stats = statFiles
      .map(p => graft.connect.Hfs.readSmall(fs, p).trim.split(" ").map(_.toLong))
    val n = stats.map(_(0)).sum
    val toks = stats.map(_(1)).sum
    // hashed on query_id once: the distinct and the per-query window
    // below both run on that partitioning, with no exchange of their own
    val q = queries.select($"query_id", $"term").repartition($"query_id")
      .distinct().persistScoped()
    // driver-side prune lists in ONE collect: per distinct term, its bucket
    // and the term count of the longest query using it. The batch is
    // bounded by contract, so the collect is metadata-sized — capped
    // one row past the ceiling — and buys scan-level pruning no join
    // could
    val cap = math.min(maxQueryTerms, Int.MaxValue - 1L).toInt + 1
    val meta = q
      .withColumn("qn", count(lit(1)).over(Window.partitionBy($"query_id")))
      .groupBy($"term").agg(max($"qn").as("qn"))
      .select($"term", pmod(hash($"term"), lit(buckets)), $"qn")
      .limit(cap).as[(String, Int, Long)].collect().toSeq
    // a full cap means an oversized batch: only then count it exactly
    // for the message
    requireServingBatch(
      if (meta.size < cap) meta.size.toLong
      else q.select($"term").distinct().count(),
      maxQueryTerms, "bm25Serve")
    // N is exact and driver-side here, so the fixed-point headroom
    // docstring is ENFORCED on the serve path, per query (the in-row
    // path keeps N distributed; its corpora are pipeline-local)
    requireBm25Headroom(n, (0L +: meta.map(_._3)).max, "bm25Serve")
    // the pruned scan holds every posting of every query term across
    // all generations, so df is its row count. Not persisted: the plan
    // reads the frame twice, and adaptive execution would build the
    // cache once per reference (two jobs, two full-width scans); the
    // df side of a plain read scans the term column alone
    val postings = readBm25Postings(s, indexPath,
        graft.connect.GenerationalIndex.generations(fs, indexPath, "postings"))
      .filter($"bucket".isin(meta.map(_._2).distinct: _*) &&
        $"term".isin(meta.map(_._1): _*))
    bm25Ranks(postings, bm25Df(postings), q, lit(n), lit(toks), idfMode)
  }

  /** The `q_text_bm25_serve` catalog row: [[bm25]]'s fixed query batch
    * served from a frozen [[saveBm25Index]] artifact. Oracle = the
    * same SQL as `q_text_bm25` (frozen ≡ in-row, bit-for-bit). The
    * artifact is cached per (fixture dir, listing fingerprint) — the
    * [[graft.ops.Similarity.ivfPq]] convention — so the board's warm
    * iterations measure the pruned-scan SERVING cost, and the gate's
    * single execution differentially checks the build+serve chain.
    */
  def bm25ServeRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
    bm25Serve(s, bm25QueryBatch(docs), oneShotBm25Index(s, dir))
  }

  /** The one-shot frozen index over the fixture's documents table,
    * cached per (dir, listing fingerprint) — shared by
    * [[bm25ServeRow]] and [[hybridServeRow]], so the board pays ONE
    * build for both serving rows and their warm iterations measure
    * serving cost only.
    */
  private def oneShotBm25Index(s: SparkSession, dir: String): String = {
    import s.implicits._
    val key = (s"$dir#oneshot",
      graft.connect.Hfs.listingFingerprint(s, s"$dir/documents.parquet"))
    bm25Artifacts.getOrElseUpdate(key, {
      val base = java.nio.file.Files.createTempDirectory("graft-bm25-index").toString
      saveBm25Index(Tables.t(s, dir, "documents").select($"doc_id", $"text"), base)
      base
    })
  }

  /** The `q_text_bm25_incr` catalog row: the SAME fixed query batch
    * served from an index grown INCREMENTALLY — three disjoint
    * [[maintainBm25Index]] appends (doc_id mod 3 slices) followed by a
    * [[compactBm25Index]] fold — against the same oracle SQL as
    * `q_text_bm25`. This runs the append ≡ rebuild invariant through
    * the DuckDB hash gate at every scale factor: df/N/token roll-
    * forward, the per-batch layout, compaction's folded postings and
    * summed stats, and serving across generations all sit on the hash path,
    * so a single bit of drift between the split build and the one-shot
    * scoring fails the row.
    */
  def bm25IncrRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = (s"$dir#incr",
      graft.connect.Hfs.listingFingerprint(s, s"$dir/documents.parquet"))
    val path = bm25Artifacts.getOrElseUpdate(key, {
      val base = java.nio.file.Files.createTempDirectory("graft-bm25-incr").toString
      val docs = Tables.t(s, dir, "documents").select($"doc_id", $"text")
      (0 to 2).foreach { r =>
        maintainBm25Index(docs.filter($"doc_id" % 3 === r), base, r.toLong)
      }
      // folds batches 0 and 1 into a generation; batch 2 stays live —
      // serving then spans a compacted generation AND a live batch
      compactBm25Index(s, base)
      base
    })
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
    bm25Serve(s, bm25QueryBatch(docs), path)
  }

  /** Frozen BM25 index paths keyed by (fixture dir + build shape,
    * content fingerprint) — paths, never DataFrames (cached plans
    * would be invalidated by the bench's per-query cache drains).
    */
  private val bm25Artifacts =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Drop the per-JVM BM25 artifact cache — the
    * [[graft.ops.Similarity.clearIvfPqArtifacts]] convention, for
    * specs that regenerate fixtures in place. `deleteDirs = true` also
    * removes the temp index directories (they are
    * `Files.createTempDirectory` locals; without this each fixture
    * regeneration strands one for the life of the JVM). */
  private[graft] def clearBm25Artifacts(deleteDirs: Boolean = false): Unit = {
    if (deleteDirs) bm25Artifacts.values.foreach { p =>
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        val it = java.nio.file.Files.walk(root)
        try it.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally it.close()
      }
    }
    bm25Artifacts.clear()
  }

  /** Hybrid retrieval — BM25 ∪ embedding-cosine fused by reciprocal
    * rank fusion (Cormack, Clarke & Büttcher 2009: score = Σ 1/(60+r)
    * over the systems that returned the doc). The modern retrieval
    * stack a training pipeline runs for decontamination and targeted
    * selection is exactly this two-tower shape: a sparse lexical list
    * catches exact token overlap that embeddings smooth away, the
    * dense list catches paraphrase the lexicon misses, and RRF fuses
    * them without any score calibration (ranks only — the property
    * that makes the fusion robust AND hash-exact: 1/(60+r) is one IEEE
    * division of exact longs, summed via the dsum discipline, so the
    * float subtleties of both underlying scorers never cross the
    * fusion boundary).
    *
    * Query batch: the fixed serving ids (≡ 3 mod 97, replica-0) that
    * have BOTH a document and an embedding — defined from the
    * embeddings side, which is a subset of documents in every fixture.
    * Each side contributes its top-20 (score desc, doc_id tiebreak);
    * fused top-5 emits both per-system ranks (0 = that system did not
    * return the doc) so the gate hash covers the full fusion evidence.
    *
    * Plan at 100 TB: the lexical side is [[bm25Ranks]] (map-side
    * pruned postings — see [[bm25]]); the dense side broadcasts the
    * fixed query batch under the embeddings scan (one pass, one
    * integer dot per pair — the exact-rescore baseline; a deployment
    * would swap in the IVF-PQ probe for this side, same fusion tail);
    * the fusion itself is a full-outer join of two ≤20·|Q|-row lists —
    * metadata-sized whatever the corpus.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
    val emb = Tables.t(s, dir, "embeddings")
      .select($"vec_id", Similarity.quantize1e4($"embedding").as("xq"))
      .withColumn("n2", Similarity.dot64($"xq", $"xq"))
      .persistScoped() // feeds the query subset AND the candidate side
    val qv = emb.filter($"vec_id" % 97 === 3 && $"vec_id" < 100000)
      .select($"vec_id".as("query_id"), $"xq".as("qx"), $"n2".as("qn2"))
    // lexical side: the bm25 pipeline over the SAME ids, top-20
    val queries = docs
      .join(broadcast(qv.select($"query_id".as("doc_id"))), Seq("doc_id"))
      .select($"doc_id".as("query_id"), explode(slice($"words", 1, 8)).as("term"))
      .distinct()
      .persistScoped()
    val qterms = queries.select($"term").distinct()
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(size($"words").cast("long")).as("toks"))
    val postings = docs
      .select($"doc_id", size($"words").cast("long").as("len"),
        explode($"words").as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy($"term", $"doc_id", $"len").agg(count(lit(1)).as("tf"))
      .persistScoped()
    val lex = bm25Ranks(postings.crossJoin(broadcast(stats)), bm25Df(postings),
        queries, $"n", $"toks")
      .filter($"rank" <= 20)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    // dense side: exact bridged cosine against every vector, top-20
    val dense = denseRanks(
      emb.select($"vec_id".as("doc_id"), $"xq", $"n2"), qv, 20)
    rrfFuse(lex, dense, 5)
  }

  /** Dense retrieval list: exact bridged cosine of every corpus vector
    * (`doc_id`, `xq`, `n2` — pre-quantized) against the broadcast
    * query batch (`query_id`, `qx`, `qn2`), cut to each query's top
    * `perSide` (cos desc, doc_id tiebreak). One corpus pass, one
    * integer dot per pair — the exact-rescore baseline
    * (`tools/hybrid_probe_r15.json`: brute beats grouped IVF-PQ ≥10×
    * for a fixed batch through 100×).
    */
  private def denseRanks(emb: DataFrame, qv: DataFrame,
      perSide: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cosd = emb.crossJoin(broadcast(qv))
      .select($"query_id", $"doc_id",
        Similarity.cosineFromDots(Similarity.dot64($"xq", $"qx"),
          $"n2", $"qn2").as("cos"))
    val wd = Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)
    cosd.withColumn("vec_rank", row_number().over(wd).cast("long"))
      .filter($"vec_rank" <= perSide)
      .select($"query_id", $"doc_id", $"vec_rank")
  }

  /** Reciprocal rank fusion of a lexical list (`query_id`, `doc_id`,
    * `lex_rank`) and a dense list (`query_id`, `doc_id`, `vec_rank`):
    * score = Σ 1/(60+r) over contributing systems, fixed-point (one
    * IEEE division of exact longs per side, summed as longs — the two
    * scorers' float subtleties never cross the fusion boundary), cut
    * to each query's fused top `k` with both per-system ranks emitted
    * (0 = that system did not return the doc). The fusion input is two
    * ≤perSide·|Q|-row lists — metadata-sized whatever the corpus.
    */
  private def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val s = lex.sparkSession
    import s.implicits._
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select($"query_id", $"doc_id",
        (coalesce(round(lit(1e6) / (lit(60L) + $"lex_rank")).cast("long"), lit(0L)) +
          coalesce(round(lit(1e6) / (lit(60L) + $"vec_rank")).cast("long"), lit(0L))).as("s6"),
        coalesce($"lex_rank", lit(0L)).as("lex_rank"),
        coalesce($"vec_rank", lit(0L)).as("vec_rank"))
    val wf = Window.partitionBy($"query_id").orderBy($"s6".desc, $"doc_id".asc)
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id",
        ($"s6".cast("double") / lit(1e6)).as("rrf"), $"lex_rank", $"vec_rank")
      .orderBy($"query_id", $"rank")
  }

  /** The `q_text_hybrid_serve` catalog row: [[hybridRrf]]'s fusion
    * with the lexical side served from the FROZEN inverted index
    * ([[bm25ServeRanks]] over the [[oneShotBm25Index]] artifact)
    * instead of re-exploding the corpus per batch — the deployment
    * shape of the two-tower stack. Oracle = the same SQL as
    * `q_text_hybrid_rrf`: the frozen index serves bit-identical
    * scores to the in-row pipeline (shared [[bm25Ranks]] tree,
    * additive stats — the `q_text_bm25_serve` argument), so the
    * fused output is bit-identical too, and the gate hash checks the
    * whole chain differentially: index build + pruned serve + dense
    * rescore + fusion against DuckDB's from-scratch computation.
    *
    * Plan at 100 TB: the lexical side reads ONLY the query batch's
    * buckets/terms off the index (e = 0.12 measured on the serve
    * row); the dense side is the one-pass exact rescore; the fusion
    * is metadata-sized. Nothing re-scans the text corpus.
    */
  def hybridServeRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    val path = oneShotBm25Index(s, dir)
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
    val emb = Tables.t(s, dir, "embeddings")
      .select($"vec_id", Similarity.quantize1e4($"embedding").as("xq"))
      .withColumn("n2", Similarity.dot64($"xq", $"xq"))
      .persistScoped() // feeds the query subset AND the candidate side
    val qv = emb.filter($"vec_id" % 97 === 3 && $"vec_id" < 100000)
      .select($"vec_id".as("query_id"), $"xq".as("qx"), $"n2".as("qn2"))
    val queries = docs
      .join(broadcast(qv.select($"query_id".as("doc_id"))), Seq("doc_id"))
      .select($"doc_id".as("query_id"), explode(slice($"words", 1, 8)).as("term"))
      .distinct()
    val lex = bm25ServeRanks(s, queries, path)
      .filter($"rank" <= 20)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val dense = denseRanks(
      emb.select($"vec_id".as("doc_id"), $"xq", $"n2"), qv, 20)
    rrfFuse(lex, dense, 5)
  }

  private val hybridRrfSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |q AS (SELECT DISTINCT d.doc_id AS query_id, unnest(list_slice(d.words, 1, 8)) AS term
      |      FROM d JOIN embeddings em ON em.vec_id = d.doc_id
      |      WHERE d.doc_id % 97 = 3 AND d.doc_id < 100000),
      |st AS (SELECT COUNT(*)::BIGINT AS n, SUM(len(words))::BIGINT AS toks FROM d),
      |post AS (
      |  SELECT term, doc_id, len, COUNT(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, len(words)::BIGINT AS len, unnest(words) AS term FROM d)
      |  WHERE term IN (SELECT term FROM q)
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM post GROUP BY 1),
      |sc AS (
      |  SELECT q.query_id, p.doc_id,
      |    (CAST(2 * st.n - 2 * f.df + 1 AS DOUBLE) / CAST(2 * f.df + 1 AS DOUBLE))
      |      * ((CAST(p.tf AS DOUBLE) * 2.2) /
      |         (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |            (CAST(p.len AS DOUBLE) * CAST(st.n AS DOUBLE) / CAST(st.toks AS DOUBLE))))) AS w
      |  FROM post p JOIN dfq f USING (term) JOIN q ON q.term = p.term CROSS JOIN st),
      |hits AS (
      |  SELECT query_id, doc_id,
      |    CAST(SUM(CAST(round(w * 1e6) AS BIGINT)) AS BIGINT) AS s6
      |  FROM sc GROUP BY 1, 2),
      |lex AS (SELECT query_id, doc_id, lex_rank FROM (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id ASC) AS lex_rank
      |  FROM hits) WHERE lex_rank <= 20),
      |eq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |       CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS xq
      |       FROM embeddings),
      |norms AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM eq GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
      |    CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot
      |  FROM eq a JOIN eq b ON a.i = b.i
      |  WHERE a.vec_id % 97 = 3 AND a.vec_id < 100000
      |  GROUP BY 1, 2),
      |cosd AS (
      |  SELECT query_id, doc_id,
      |    CASE WHEN nd.n2 = 0 OR nq.n2 = 0 THEN 0 ELSE (dot / 1e8) / (sqrt(nd.n2 / 1e8) * sqrt(nq.n2 / 1e8)) END AS cos
      |  FROM dots JOIN norms nd ON doc_id = nd.vec_id
      |    JOIN norms nq ON query_id = nq.vec_id),
      |dense AS (SELECT query_id, doc_id, vec_rank FROM (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS vec_rank
      |  FROM cosd) WHERE vec_rank <= 20),
      |fused AS (
      |  SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
      |    COALESCE(l.doc_id, dn.doc_id) AS doc_id,
      |    COALESCE(CAST(round(1e6 / (60 + l.lex_rank)) AS BIGINT), 0)
      |      + COALESCE(CAST(round(1e6 / (60 + dn.vec_rank)) AS BIGINT), 0) AS s6,
      |    COALESCE(l.lex_rank, 0) AS lex_rank,
      |    COALESCE(dn.vec_rank, 0) AS vec_rank
      |  FROM lex l FULL OUTER JOIN dense dn
      |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id),
      |ranked AS (
      |  SELECT query_id, doc_id, s6, lex_rank, vec_rank,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id ASC) AS rank
      |  FROM fused)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(s6 AS DOUBLE) / 1e6 AS rrf,
      |  CAST(lex_rank AS BIGINT) AS lex_rank, CAST(vec_rank AS BIGINT) AS vec_rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Hybrid retrieval over ARBITRARY frames — the library form behind
    * the `hybrid_select` curation transform, the two-tower shape the
    * [[hybridRrf]] gate row pins on fixed ids: `corpus` carries
    * (doc_id, text, embedding), `targets` carries the same, and the
    * result is each target's fused top-`k` corpus docs — BM25 over the
    * target's first `queryTokens` distinct tokens ([[bm25RanksOn]],
    * incl. its size guard and ranking caveats) and exact bridged
    * cosine over the embeddings, each side contributing its top
    * `perSide`, fused by reciprocal rank fusion (ranks only, so the
    * two scorers' float subtleties never cross the fusion boundary).
    * Output: (query_id, rank, doc_id, rrf, lex_rank, vec_rank) —
    * per-system rank 0 = that system did not return the doc.
    *
    * Plan at 100 TB: the lexical side never shuffles an unpruned
    * posting; the dense side is one corpus pass against the broadcast
    * target batch (exact rescore — `tools/hybrid_probe_r15.json`
    * measured brute beating grouped IVF-PQ ≥10× for a fixed batch
    * through 100×); the fusion is a full-outer of two
    * ≤perSide·|targets|-row lists — metadata-sized whatever the
    * corpus.
    *
    * Deliberately IN-ROW, not frozen-index, on the lexical side: a
    * curation transform scores whatever frame the pipeline hands it —
    * often mid-pipeline, already filtered — and a frozen index is only
    * correct when its frozen corpus IS that frame, a discipline the
    * transform cannot verify and silently violating it would mis-rank
    * every query (stale df/N). Pipelines serving a STABLE corpus
    * repeatedly should use [[bm25Serve]]/[[hybridServeRow]]'s shape
    * against a maintained index instead — the `q_text_hybrid_serve`
    * row measures that path 1.9× faster at 100×.
    */
  def hybridTopKOn(corpus: DataFrame, targets: DataFrame, k: Int,
      queryTokens: Int = 8, perSide: Int = 20): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    require(k >= 1, s"hybridTopKOn: k must be >= 1, got $k")
    require(perSide >= 1, s"hybridTopKOn: perSide must be >= 1, got $perSide")
    graft.functions.GraftExtensions.register(s)
    val lex = bm25RanksOn(corpus, targets, queryTokens)
      .filter($"rank" <= perSide)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val emb = corpus
      .select($"doc_id", Similarity.quantize1e4($"embedding").as("xq"))
      .withColumn("n2", Similarity.dot64($"xq", $"xq"))
    val qv = targets
      .select($"doc_id".as("query_id"),
        Similarity.quantize1e4($"embedding").as("qx"))
      .withColumn("qn2", Similarity.dot64($"qx", $"qx"))
    val dense = denseRanks(emb, qv, perSide)
    rrfFuse(lex, dense, k)
  }

  private val bm25Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_slice(words, 1, 8)) AS term
      |      FROM d WHERE doc_id % 97 = 3 AND doc_id < 100000),
      |st AS (SELECT COUNT(*)::BIGINT AS n, SUM(len(words))::BIGINT AS toks FROM d),
      |post AS (
      |  SELECT term, doc_id, len, COUNT(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, len(words)::BIGINT AS len, unnest(words) AS term FROM d)
      |  WHERE term IN (SELECT term FROM q)
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM post GROUP BY 1),
      |sc AS (
      |  SELECT q.query_id, p.doc_id,
      |    (CAST(2 * st.n - 2 * f.df + 1 AS DOUBLE) / CAST(2 * f.df + 1 AS DOUBLE))
      |      * ((CAST(p.tf AS DOUBLE) * 2.2) /
      |         (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |            (CAST(p.len AS DOUBLE) * CAST(st.n AS DOUBLE) / CAST(st.toks AS DOUBLE))))) AS w
      |  FROM post p JOIN dfq f USING (term) JOIN q ON q.term = p.term CROSS JOIN st),
      |hits AS (
      |  SELECT query_id, doc_id,
      |    CAST(SUM(CAST(round(w * 1e6) AS BIGINT)) AS BIGINT) AS s6,
      |    COUNT(*) AS n_terms
      |  FROM sc GROUP BY 1, 2),
      |ranked AS (
      |  SELECT query_id, doc_id, s6, n_terms,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id ASC) AS rank
      |  FROM hits)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(s6 AS DOUBLE) / 1e6 AS score, CAST(n_terms AS BIGINT) AS n_terms
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Email / phone patterns for [[scrubPii]] — kept to the regex subset
    * with identical semantics in Java regex (Spark codegen'd
    * regexp_replace/regexp_extract_all) and RE2 (DuckDB): character
    * classes, +, {n,}, literal dots. No backrefs or lookaround.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** PII scrub — the redaction pass every shared training corpus runs
    * before release: replace emails/phones with typed placeholders and
    * count what was removed (the count per category is the audit
    * artifact). Pure per-row projection: regex work is map-side,
    * codegen'd, no shuffle at any scale.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("long"))
      .withColumn("clean",
        regexp_replace(regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))

  /** Catalog query for [[scrubPii]]. The fixture corpus contains no
    * digits at all (verified), so the query plants deterministic PII
    * derived from doc_id into each document first — both engines build
    * the same dirty text, then redact independently, making the regex
    * SEMANTICS (match set, replace-all, counts) the thing the hash
    * gate compares rather than a vacuous all-zeros row.
    */
  def pii(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dirty = Tables.t(s, dir, "documents")
      .select($"doc_id",
        concat($"text",
          lit(" contact user"), $"doc_id", lit("@example.com or +1-555-"),
          lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")).as("text"))
    scrubPii(dirty, "text")
      .select($"doc_id", $"n_emails", $"n_phones", $"clean")
      .orderBy($"doc_id")
  }

  private val piiSql =
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |    concat(text, ' contact user', doc_id, '@example.com or +1-555-',
       |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
       |                 '$phoneRe', '<PHONE>', 'g') AS clean
       |FROM dirty ORDER BY doc_id""".stripMargin

  /** Document frequency above which a shingle counts as boilerplate. */
  val boilerDfCap = 50

  /** C4/CCNet-style boilerplate scoring: a 3-gram shingle appearing in
    * ≥ [[boilerDfCap]] documents is boilerplate (nav bars, license
    * headers, templated text); each doc reports its shingle count,
    * boilerplate count, and fraction — the number a corpus-cleaning
    * pipeline thresholds on before training. Reuses the dedup shingle
    * machinery (distinct per doc, so the window count IS document
    * frequency); one shingle-keyed window pass + one doc-keyed rollup,
    * both single-shuffle. Counts exact longs; the fraction is one IEEE
    * division.
    */
  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Dedup.withShingles(
      Tables.t(s, dir, "documents").select($"doc_id", $"text"), "sh")
      .select($"doc_id", explode($"sh").as("wd"))
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"wd")))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(($"df" >= boilerDfCap).cast("long")).as("n_boiler"))
      .withColumn("boiler_frac", $"n_boiler".cast("double") / $"n_shingles")
      .orderBy($"doc_id")
  }

  private val boilerplateSql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |  list_distinct([array_to_string(ws[i:i+2], ' ')
       |                 FOR i IN generate_series(1, len(ws) - 2)]) AS sh
       |FROM d),
       |e AS (SELECT doc_id, unnest(sh) AS wd FROM s),
       |f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wd) AS df FROM e)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df >= $boilerDfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(SUM(CASE WHEN df >= $boilerDfCap THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS boiler_frac
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus bigram statistics — the n-gram language-model table (top
    * bigrams with conditional probability P(w2|w1)): the classic
    * KenLM-count shape a data pipeline materializes for quality
    * filtering and decontamination heuristics. Bigrams come from one
    * zip_with over the token array (no distinct — counts are
    * occurrences); the denominator is the bigram table re-aggregated
    * by w1 (narrow, vocabulary-sized), so P sums to 1 per w1 by
    * construction. Exact integer counts; one IEEE division.
    */
  def bigramStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bg = Tables.t(s, dir, "documents")
      .select(explode(wordBigrams(split($"text", " "))).as("bg"))
      .select(element_at(split($"bg", " "), 1).as("w1"),
        element_at(split($"bg", " "), 2).as("w2"))
    val c2 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt")).persistScoped()
    val c1 = c2.groupBy($"w1").agg(sum($"cnt").as("w1_cnt"))
    c2.join(c1, Seq("w1"))
      .select($"w1", $"w2", $"cnt",
        ($"cnt".cast("double") / $"w1_cnt").as("cond_p"))
      .orderBy($"cnt".desc, $"w1", $"w2")
      .limit(30)
  }

  private val bigramStatsSql =
    """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT unnest([array_to_string(ws[i:i+1], ' ')
      |                     FOR i IN generate_series(1, len(ws) - 1)]) AS bg FROM d),
      |sp AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM b),
      |c2 AS (SELECT w1, w2, COUNT(*) AS cnt FROM sp GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_cnt FROM c2 GROUP BY 1)
      |SELECT w1, w2, cnt, CAST(cnt AS DOUBLE) / w1_cnt AS cond_p
      |FROM c2 JOIN c1 USING (w1)
      |ORDER BY cnt DESC, w1, w2 LIMIT 30""".stripMargin

  /** Per-document repetition signals — the Gopher-style quality
    * filters that catch degenerate/templated text: the fraction of
    * bigram mass taken by the single most frequent bigram
    * (top_bigram_frac) and the fraction of bigram occurrences that
    * are repeats of an already-seen bigram (dup_bigram_frac). Both
    * fall out of ONE per-(doc, bigram) hash count (map-side partial)
    * re-rolled to the doc — the same exchange shape as
    * [[bigramStats]], but keyed per doc. Counts are exact integers;
    * the two fractions are single IEEE divisions.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perBg = Tables.t(s, dir, "documents")
      .select($"doc_id", explode(wordBigrams(split($"text", " "))).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
    perBg.groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"), max($"c").as("top_c"),
        count(lit(1)).as("n_distinct"))
      .select($"doc_id", $"n_bigrams".cast("long").as("n_bigrams"),
        ($"top_c".cast("double") / $"n_bigrams").as("top_bigram_frac"),
        (lit(1.0) - $"n_distinct".cast("double") / $"n_bigrams").as("dup_bigram_frac"))
      .orderBy($"doc_id")
  }

  private val repetitionSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ')
      |                             FOR i IN generate_series(1, len(ws) - 1)]) AS bg FROM d),
      |c AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac,
      |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_bigram_frac
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-source document quota for [[sourceQuota]]. */
  val sourceQuotaN = 5

  /** Per-source quota sampling — the per-domain cap web-scale curation
    * applies so no single crawl domain dominates the training mix (the
    * "top-N documents per domain" rule in public web-corpus recipes).
    * Keeps the `sourceQuotaN` longest documents per source; doc_id
    * breaks length ties so the selection is a total order. Exactly ONE
    * hash exchange (on source); the rank sort runs per group inside
    * each task, never globally — at 100 TB with millions of domains the
    * groups stay small and the plan is a single shuffle + map-side
    * filter. Skewed mega-domains bound the sort at group size, and the
    * quota itself is what caps their output.
    */
  def sourceQuota(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id".asc)
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter($"rank_in_source" <= sourceQuotaN)
      .orderBy($"source", $"rank_in_source")
  }

  private val sourceQuotaSql =
    s"""SELECT doc_id, source, n_chars, rank_in_source FROM (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY n_chars DESC, doc_id ASC) AS rank_in_source
       |  FROM documents) t
       |WHERE rank_in_source <= $sourceQuotaN
       |ORDER BY source, rank_in_source""".stripMargin

  /** Corpus-count ceiling under which a bigram counts as "rare" for
    * [[lmRarity]]. */
  val rareBigramMaxCount = 2

  /** LM-rarity quality signal — the integer-exact core of CCNet-style
    * perplexity filtering: score each document by how much of its
    * bigram mass the corpus language model has barely seen (corpus
    * count ≤ `rareBigramMaxCount`). High rarity ⇒ ill-formed or
    * off-distribution text; low ⇒ fluent but possibly boilerplate.
    * The ratio is emitted as exact integer per-mille
    * (`1000·rare div n`), so the gate hash never touches a float —
    * a true log-probability would hinge on the two engines' `ln`
    * rounding at the cent boundary (the same ulp hazard the exact-
    * percentile mills fix removed).
    *
    * Shuffle shape: one (doc_id, bigram) hash count (map-side
    * partial), re-rolled to corpus counts on the bigram key — the
    * numerator and denominator SHARE that exchange exactly as in
    * [[bigramStats]] — then one join back on the bigram key and a
    * final per-doc rollup. Four narrow exchanges, all on keys the
    * data is already clustered by; nothing global, nothing collected.
    */
  def lmRarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = Tables.t(s, dir, "documents")
      .select($"doc_id", explode(wordBigrams(split($"text", " "))).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .persistScoped()
    val corpus = perDoc.groupBy($"bg").agg(sum($"c").as("corpus_c"))
    perDoc.join(corpus, Seq("bg"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        sum(when($"corpus_c" <= rareBigramMaxCount, $"c").otherwise(0L)).as("n_rare"))
      .select($"doc_id", $"n_bigrams", $"n_rare",
        // integer `div`, NOT `/`: Spark's `/` on longs is IEEE double
        // division, and a quotient that rounds up across an integer
        // boundary would disagree with DuckDB's exact `//`
        expr("1000 * n_rare div n_bigrams").as("rare_mills"))
      .orderBy($"doc_id")
  }

  private val lmRaritySql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |b AS (SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ')
       |                             FOR i IN generate_series(1, len(ws) - 1)]) AS bg FROM d),
       |pd AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2),
       |corpus AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS corpus_c FROM pd GROUP BY 1)
       |SELECT doc_id,
       |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN corpus_c <= $rareBigramMaxCount THEN c ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(SUM(CASE WHEN corpus_c <= $rareBigramMaxCount THEN c ELSE 0 END) * 1000
       |       // SUM(c) AS BIGINT) AS rare_mills
       |FROM pd JOIN corpus USING (bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Rows kept by [[vocab]]. */
  val vocabTopN = 100

  /** Corpus vocabulary — the top-`vocabTopN` tokens by corpus
    * frequency, the first step of building a tokenizer vocab or a
    * stopword list over a crawl. One explode + one map-side-combinable
    * hash count, then a GLOBAL top-k with a total order (count desc,
    * token asc — ties at the cutoff must not make the kept set
    * nondeterministic): Spark plans TakeOrderedAndProject — per-
    * partition heaps of k, single k-row driver merge — NOT a global
    * sort; the only full-data exchange is the token count. At 100 TB
    * the vocabulary table is the corpus's distinct-token set (Heaps'
    * law ≪ corpus size), and k rows ride to the driver.
    */
  def vocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token".asc)
      .limit(vocabTopN)
  }

  private val vocabSql =
    s"""SELECT token, COUNT(*) AS n
       |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |GROUP BY token
       |ORDER BY n DESC, token ASC
       |LIMIT $vocabTopN""".stripMargin

  /** Unicode NFC normalization — runs the native codegen
    * [[graft.functions.NfcNormalize]] Expression over text with
    * DECOMPOSED sequences planted deterministically (the fixture is
    * ASCII, so like q_text_pii the non-ASCII forms are constructed
    * in-query: combining acute U+0301, ring U+030A, diaeresis U+0308
    * appended to their base letters). NFC composes each pair to one
    * code point, so n_raw − n_nfc = the number of planted combining
    * marks per row — visible proof the normalizer ran. The oracle is
    * DuckDB's independent ICU-family `nfc_normalize`. Pure map-side
    * projection inside whole-stage codegen; zero shuffles.
    */
  def normalizeNfc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    Tables.t(s, dir, "documents")
      .select($"doc_id",
        // decomposed on purpose: base letter + combining mark
        concat(lit("résumé "), $"source",
          lit(" Ångström "), substring($"text", 1, 12)).as("raw"))
      .select($"doc_id", expr("nfc_normalize(raw)").as("nfc"),
        length($"raw").cast("long").as("n_raw"),
        length(expr("nfc_normalize(raw)")).cast("long").as("n_nfc"))
      .orderBy($"doc_id")
  }

  private val normalizeNfcSql =
    """WITH r AS (SELECT doc_id,
      |  're' || chr(769) || 'sume' || chr(769) || ' ' || source ||
      |  ' A' || chr(778) || 'ngstro' || chr(776) || 'm ' || substr(text, 1, 12) AS raw
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(raw) AS nfc,
      |  length(raw) AS n_raw, length(nfc_normalize(raw)) AS n_nfc
      |FROM r ORDER BY doc_id""".stripMargin

  /** Token budget per packed chunk in [[packChunks]]. */
  val packBudget = 512

  /** Sequence packing — assign documents to fixed-token-budget chunks
    * (the "pack to N tokens" step before LLM pre-training; public
    * recipes call it example packing). True greedy packing is
    * inherently sequential, so the distributed-sane variant packs
    * WITHIN each language partition in deterministic doc_id order:
    * chunk = floor(exclusive-prefix-sum(tokens) / budget) — every
    * worker computes the same assignment from one window cumsum, no
    * driver loop, no iteration. Documents longer than the budget get
    * their own chunk(s) by construction. One lang-keyed exchange for
    * the cumsum window + one (lang, chunk) rollup that REUSES the same
    * partitioning prefix; at 100 TB you'd sub-salt giant languages
    * (the per-lang sort is the cost center, exactly like
    * [[sourceQuota]]'s per-group rank). Emits per-chunk doc count,
    * token total, and the budget-fill per-mille (integer div — fill
    * can exceed 1000 when a doc straddles the boundary, which is how
    * cross-boundary docs stay visible in the gate).
    */
  def packChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("tokens"))
      .withColumn("cum0", coalesce(sum($"tokens").over(w), lit(0L)))
      // integer `div`, not `/` — long / int is IEEE double division in
      // Spark and the quotient could land a hair under an integer
      .withColumn("chunk_id", expr(s"cum0 div $packBudget"))
      .groupBy($"lang", $"chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("n_tokens"))
      .select($"lang", $"chunk_id", $"n_docs", $"n_tokens",
        expr(s"1000 * n_tokens div $packBudget").as("fill_mills"))
      .orderBy($"lang", $"chunk_id")
  }

  private val packChunksSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |c AS (
       |  SELECT lang, tokens,
       |    CAST(coalesce(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $packBudget AS BIGINT) AS chunk_id
       |  FROM t)
       |SELECT lang, chunk_id, COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(tokens) * 1000 // $packBudget AS BIGINT) AS fill_mills
       |FROM c GROUP BY 1, 2 ORDER BY lang, chunk_id""".stripMargin

  /** Window size / stride for [[windowChunks]]: 64-token windows every
    * 48 tokens = 25 % overlap, the common embedding-ingestion shape. */
  val chunkWin = 64
  val chunkStrideTokens = 48

  /** Sliding token-window chunker — SPLIT each document into
    * fixed-size overlapping windows (the retrieval/embedding-ingestion
    * step public RAG recipes run before encoding; every chunk must fit
    * the encoder's context, and the overlap keeps boundary-straddling
    * sentences visible to at least one chunk). The dual of
    * [[packChunks]]: pack GROUPS short documents up to a budget, this
    * CUTS long documents down to one. Windows start at 0, stride,
    * 2·stride, …; the tail window may be shorter but is only emitted
    * while it adds unseen tokens, so every token lands in ≥ 1 chunk
    * and interior chunks overlap by exactly win−stride. Each chunk
    * carries `sig` = md5 of its text — the identity key the downstream
    * exact-dedup/embedding steps consume (two documents sharing a
    * window produce the same sig, so chunk-level dedup composes for
    * free with [[graft.ops.Dedup]]'s exact family).
    *
    * Shuffle shape: NONE. Chunking is a pure per-row map — one split,
    * an `explode(sequence(0, nwin−1))` whose cardinality is ~n/stride
    * (bounded expansion, unlike a sliding n-gram explode's ×win), and
    * a slice+md5 per window, all inside one codegen stage; the gate's
    * ORDER BY is its only exchange. At 100 TB the chunker rides the
    * scan partitioning end-to-end and the encoder consumes chunks in
    * the same task that cut them — the property that makes
    * chunk-then-embed a single-pass pipeline rather than two jobs.
    */
  def windowChunks(s: SparkSession, dir: String): DataFrame =
    windowChunksOf(Tables.t(s, dir, "documents"), chunkWin, chunkStrideTokens)

  /** Core of [[windowChunks]] over any (doc_id, text) table with
    * explicit (win, stride) — separated so coverage (every token in
    * ≥ 1 window), exact interior overlap, tail semantics, and
    * cross-document sig equality are unit-testable on crafted corpora
    * (TextAnalysisSpec), not just gate-hashed on the fixture. */
  private[ops] def windowChunksOf(docs: DataFrame, win: Int, stride: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    windowChunkText(docs, win, stride)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens",
        md5($"chunk_text").as("sig"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** The chunker a CONSUMER uses (and the `window_chunk` declarative
    * transform serves): same windows as [[windowChunksOf]] but
    * carrying the chunk TEXT — the frame an embedding encoder reads —
    * and no gate ORDER BY, so the chunks stay in the scan's
    * partitioning for the same-task chunk-then-embed pass.
    */
  def windowChunkText(docs: DataFrame, win: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= win,
      s"stride must be in [1, win]: got win=$win stride=$stride")
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .withColumn("n", size($"ws").cast("long"))
      // nwin = 1 + ceil(max(0, n - win) / stride); the greatest(…, 0)
      // keeps sequence() ascending for short docs (sequence REVERSES
      // when stop < start — the dupNgramFrac lesson)
      .withColumn("nwin",
        expr(s"1L + (greatest(n - $win, 0L) + ${stride - 1}) div $stride"))
      .select($"doc_id", $"ws", $"n",
        explode(expr("sequence(0L, nwin - 1L)")).as("chunk_idx"))
      .withColumn("start_tok", $"chunk_idx" * stride)
      .withColumn("n_tokens", least(lit(win.toLong), $"n" - $"start_tok"))
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens",
        array_join(slice($"ws", ($"start_tok" + 1).cast("int"),
          $"n_tokens".cast("int")), " ").as("chunk_text"))
  }

  private val windowChunksSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, ws, n,
       |    unnest(generate_series(0,
       |      CAST((greatest(n - $chunkWin, 0) + ${chunkStrideTokens - 1})
       |        // $chunkStrideTokens AS BIGINT))) AS chunk_idx
       |  FROM t)
       |SELECT doc_id, chunk_idx,
       |  chunk_idx * $chunkStrideTokens AS start_tok,
       |  least($chunkWin, n - chunk_idx * $chunkStrideTokens) AS n_tokens,
       |  md5(array_to_string(list_slice(ws,
       |    chunk_idx * $chunkStrideTokens + 1,
       |    chunk_idx * $chunkStrideTokens +
       |      least($chunkWin, n - chunk_idx * $chunkStrideTokens)), ' ')) AS sig
       |FROM w ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document duplicate 5-gram fraction — the "duplicate text
    * fraction" signal public web-corpus recipes (C4, RefinedWeb) use
    * to find templated/mirrored content that per-document
    * [[repetition]] can't see: a page can be internally non-repetitive
    * yet be 90 % shared boilerplate. Per document: the per-mille of
    * its DISTINCT word 5-grams whose corpus document-frequency is > 1,
    * as exact integer per-mille (`1000·dup div n` — no engine floats
    * near the gate hash). Docs under 5 words have no 5-grams and are
    * absent, like every other gram-based row here.
    *
    * Shuffle shape (the [[lmRarity]] family): one (doc_id, gram)
    * distinct with map-side partial dedup — the only exchange that
    * sees full-scan gram volume — then the document-frequency re-roll,
    * the join back, and the per-doc rollup all move the collapsed gram
    * table on keys it's already clustered by. At 100 TB the df table
    * is the big intermediate; its heavy hitters (mega-shared grams)
    * are bounded per-key by the count agg's map-side combine.
    */
  def dupNgramFrac(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // native fused 5-grams (wordNgrams). WordNgramsSpec pins them
    // against the transform/array_join shape this site shipped through
    // r17 on split()-derived input, the only input seen here (the two
    // differ only for null words inside a window).
    val grams = Tables.t(s, dir, "documents")
      .withColumn("ws", split($"text", " "))
      .select($"doc_id", explode(wordNgrams($"ws", 5)).as("g"))
      .distinct()
    val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams5"),
        sum(when($"df" > 1, 1L).otherwise(0L)).as("dup"))
      .select($"doc_id", $"n_grams5",
        expr("1000 * dup div n_grams5").as("dup_ngram_permille"))
      .orderBy($"doc_id")
  }

  private val dupNgramFracSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest([array_to_string(ws[i:i+4], ' ')
      |                FOR i IN generate_series(1, len(ws) - 4)]) AS g
      |      FROM d),
      |f AS (SELECT g, COUNT(*) AS df FROM g GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_grams5,
      |  CAST(1000 * SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
      |    AS dup_ngram_permille
      |FROM g JOIN f USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cap on any single language's share of the training mix, per-mille. */
  val mixtureCapPermille = 300L

  /** Language-mixture budget allocation — the data-mixing step that
    * turns per-language token mass into sampling shares without letting
    * one language dominate: proportional share, capped at
    * [[mixtureCapPermille]], the capped overflow redistributed to
    * uncapped languages proportional to their token mass (one
    * redistribution round — the public web-mix recipes' "cap and
    * renormalize"; a fixpoint would re-cap until stable, overkill for
    * a mixing table read by humans). Everything is integer per-mille
    * on `div`, so both engines agree exactly. Plan: one map-side
    * token-count rollup on the (bounded) language key + two scalar
    * subquery broadcasts — the corpus total and the uncapped total;
    * nothing global touches row data. At 100 TB this is the cheapest
    * query in the module: |languages| rows out of one scan.
    */
  def languageMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: the mixing table is |languages| rows but feeds three
    // derivations — without it the document scan would run twice
    val tok = Tables.t(s, dir, "documents")
      .groupBy($"lang")
      .agg(sum(size(split($"text", " ")).cast("long")).as("tokens"))
      .persistScoped()
    val shared = tok
      .crossJoin(broadcast(tok.agg(sum($"tokens").as("total"))))
      .select($"lang", $"tokens", expr("1000 * tokens div total").as("share_permille"))
      .withColumn("capped", least($"share_permille", lit(mixtureCapPermille)))
    val o = shared.agg(
      sum($"share_permille" - $"capped").as("overflow"),
      coalesce(sum(when($"share_permille" < mixtureCapPermille, $"tokens")), lit(0L))
        .as("utok"))
    shared.crossJoin(broadcast(o))
      .select($"lang", $"tokens", $"share_permille",
        ($"capped" + when($"share_permille" < mixtureCapPermille && $"utok" > 0,
          expr("overflow * tokens div greatest(utok, 1)")).otherwise(lit(0L)))
          .as("final_share_permille"))
      .orderBy($"lang")
  }

  private val languageMixtureSql =
    s"""WITH tok AS (
       |  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM tok),
       |s AS (SELECT lang, tokens,
       |        CAST(1000 * tokens // (SELECT total FROM t) AS BIGINT) AS share_permille
       |      FROM tok),
       |c AS (SELECT *, least(share_permille, $mixtureCapPermille) AS capped FROM s),
       |o AS (SELECT CAST(SUM(share_permille - capped) AS BIGINT) AS overflow,
       |        CAST(coalesce(SUM(CASE WHEN share_permille < $mixtureCapPermille
       |                               THEN tokens END), 0) AS BIGINT) AS utok
       |      FROM c)
       |SELECT lang, tokens, share_permille,
       |  CAST(capped + CASE WHEN share_permille < $mixtureCapPermille AND
       |                          (SELECT utok FROM o) > 0
       |    THEN (SELECT overflow FROM o) * tokens // greatest((SELECT utok FROM o), 1)
       |    ELSE 0 END AS BIGINT) AS final_share_permille
       |FROM c ORDER BY lang""".stripMargin

  /** Per-source token budget for [[tokenBudgetSelect]] — binds at gate
    * scale (each fixture source carries ~1.3k tokens of documents), so
    * the greedy cut is exercised, not vacuous.
    */
  private val tokenBudgetPerSource = 600L

  /** Greedy token-budget corpus selection — the assembly step of a
    * training mix: each source contributes its highest-quality
    * documents until a per-source TOKEN budget is exhausted (quality
    * here = type-token ratio in exact permille integers; any integer
    * quality key slots in). This is the mass-based sibling of
    * [[sourceQuota]]'s count-based cap — budgets are what a real mix
    * spec states ("N billion tokens of source X"), because document
    * length varies by orders of magnitude.
    *
    * Greedy-by-quality needs a total order per source, i.e. one
    * source-partitioned sort. At 100 TB with coarse sources that sort
    * is the bottleneck; the deployment shape pre-bins quality with a
    * percentile sketch and sorts only the boundary bin — the budget cut
    * falls in exactly one bin, every other bin is kept or dropped
    * wholesale. The gate runs the exact formulation; per-source output
    * is a 4-number rollup so the differential check is tight.
    */
  def tokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("ws"))
      .select($"doc_id", $"source",
        size($"ws").cast("long").as("toks"),
        size(array_distinct($"ws")).cast("long").as("nd"))
      .withColumn("q", expr("(1000 * nd) div toks"))
    val w = Window.partitionBy($"source").orderBy($"q".desc, $"doc_id".asc)
    docs
      .withColumn("cum", sum($"toks").over(w))
      .withColumn("kept", $"cum" <= tokenBudgetPerSource)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"kept", 1)).as("n_kept"),
        coalesce(sum(when($"kept", $"toks")), lit(0L)).as("kept_tokens"),
        sum($"toks").as("total_tokens"))
      .orderBy($"source")
  }

  private val tokenBudgetSql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
       |  FROM documents),
       |q AS (SELECT *, (1000 * nd) // toks AS q FROM d),
       |c AS (SELECT *, CAST(SUM(toks) OVER (PARTITION BY source
       |        ORDER BY q DESC, doc_id ASC) AS BIGINT) AS cum FROM q)
       |SELECT source,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN cum <= $tokenBudgetPerSource THEN 1 END) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN cum <= $tokenBudgetPerSource THEN toks END), 0) AS BIGINT) AS kept_tokens,
       |  CAST(SUM(toks) AS BIGINT) AS total_tokens
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Per-source corpus report card — the dashboard a curation run
    * reads before deciding its mix: volume (docs, tokens, length
    * range), diversity (distinct languages), quality (mean TTR on the
    * shared integer permille grid), and redundancy (docs participating
    * in an exact-duplicate text group). All counters are exact
    * integers, so the whole report is differentially checkable.
    *
    * Shuffle shape at 100 TB: per-doc stats are codegen map work; the
    * report is two map-side-combinable rollups — one on (source,
    * text-hash) for redundancy, one on source for everything else —
    * joined at |sources| rows. The duplicate rollup's first level
    * keys on the md5, so mega-duplicated boilerplate combines
    * map-side instead of skewing a reducer.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", $"lang", md5($"text").as("th"),
        split($"text", " ").as("ws"))
      .select($"source", $"lang", $"th",
        size($"ws").cast("long").as("toks"),
        size(array_distinct($"ws")).cast("long").as("nd"))
      .withColumn("ttrp", expr("(1000 * nd) div toks"))
      .persistScoped()
    val base = d.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"toks").as("tokens"),
      countDistinct($"lang").as("n_langs"),
      expr("sum(ttrp) div count(1)").as("ttr_permille_avg"),
      max($"toks").as("max_toks"),
      min($"toks").as("min_toks"))
    val dups = d.groupBy($"source", $"th").agg(count(lit(1)).as("c"))
      .filter($"c" > 1L)
      .groupBy($"source").agg(sum($"c").as("dup_docs"))
    base.join(dups, Seq("source"), "left")
      .na.fill(0L, Seq("dup_docs"))
      .orderBy($"source")
  }

  private val corpusReportSql =
    """WITH d AS (
      |  SELECT source, lang, md5(text) AS th,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
      |  FROM documents),
      |q AS (SELECT *, (1000 * nd) // toks AS ttrp FROM d),
      |base AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    CAST(SUM(ttrp) // COUNT(*) AS BIGINT) AS ttr_permille_avg,
      |    MAX(toks) AS max_toks, MIN(toks) AS min_toks
      |  FROM q GROUP BY source),
      |dup AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs FROM (
      |    SELECT source, th, COUNT(*) AS c FROM q GROUP BY source, th) g
      |  WHERE c > 1 GROUP BY source)
      |SELECT b.source, b.n_docs, b.tokens, b.n_langs, b.ttr_permille_avg,
      |  b.max_toks, b.min_toks, COALESCE(d2.dup_docs, 0) AS dup_docs
      |FROM base b LEFT JOIN dup d2 USING (source)
      |ORDER BY source""".stripMargin

  /** Per-source token target for [[epochMixture]] — sits between the
    * fixture sources' 1× token masses (~1.1–1.6k at sf0.01), so the
    * gate exercises BOTH regimes: epochs > 1 (floor replication + a
    * hashed fractional copy) at sf0.01 and epochs < 1 (fractional
    * subsampling, zero-copy docs dropped) at sf0.1.
    */
  private val epochTokenTargetPerSource = 2000L

  /** Epoch cap for [[epochMixture]] in permille (3 passes): a tiny
    * source must not be repeated without bound to hit the target —
    * past a few epochs repetition hurts more than balance helps.
    */
  private val epochCapPermille = 3000L

  /** Deterministic permille in [0, 1000) from a salted md5 of the id —
    * a pure function of the ROW, never of position: decisions survive
    * repartitioning, and appended data cannot flip existing ones. Five
    * hex nibbles (20 bits) keep the mod-1000 bias below 0.01 %.
    */
  private[ops] def permilleHash(id: Column, salt: String): Column =
    pmod(conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 5),
      16, 10).cast("long"), lit(1000L))

  /** Per-source epoch weights (permille) that bring every source to a
    * common TOKEN target: w = min(cap, 1000·target / source_tokens).
    * w > 1000 means the source repeats (up-sampling a scarce domain);
    * w < 1000 means a fractional pass (down-sampling an abundant one).
    * One |sources|-row rollup — broadcast-sized by construction.
    */
  def epochWeightsForTokenTarget(
      docs: DataFrame, targetTokens: Long,
      capPermille: Long = epochCapPermille): DataFrame =
    docs.groupBy(col("source"))
      .agg(sum(col("toks")).as("stoks"))
      .select(col("source"),
        least(expr(s"(1000 * $targetTokens) div stoks"),
          lit(capPermille)).as("epochs_permille"))

  /** Materialize an epoch-weighted training mix — the replication step
    * of mixture training (a Llama/DoReMi-style mix spec says "source X
    * is seen 2.3 times per pass"; something must turn that into rows).
    * Each doc yields `w div 1000` full copies plus one more iff its
    * [[permilleHash]] falls under the fractional part, so a source's
    * expected token mass lands on target while every decision is a
    * pure function of (doc_id, w): deterministic across runs, shuffles
    * and appends. Output carries `rep` (1-based copy index) so
    * downstream packing/sharding can spread copies.
    *
    * Plan shape at 100 TB: the weights frame is |sources| rows
    * broadcast onto the corpus; replication is a map-side
    * `explode(sequence)` — the corpus is scanned once, nothing
    * shuffles, and output volume is exactly the mix's token budget.
    * `sequence` is guarded by a `n_rep >= 1` filter (Spark's sequence
    * REVERSES when stop < start instead of returning empty).
    */
  def replicateByEpochs(docs: DataFrame, weights: DataFrame): DataFrame =
    docs.join(broadcast(weights), Seq("source"), "left")
      // a FROZEN mix spec applied to a drifting corpus (the streaming
      // shape) can meet sources it never saw — an inner join would
      // DROP them silently, the worst failure mode a selection
      // operator can have. The guard is a codegen predicate (no extra
      // action): unseen source → loud error at execution time.
      .withColumn("epochs_permille",
        when(col("epochs_permille").isNull,
          raise_error(concat(lit("replicateByEpochs: source '"),
            col("source"),
            lit("' has no epoch weight — the mix spec must cover every source"))))
          .otherwise(col("epochs_permille")))
      .withColumn("__n_rep",
        expr("epochs_permille div 1000") +
          when(permilleHash(col("doc_id"), "epoch:") <
            pmod(col("epochs_permille"), lit(1000L)), 1L).otherwise(0L))
      .filter(col("__n_rep") >= 1L)
      .withColumn("rep", explode(sequence(lit(1L), col("__n_rep"))))
      .drop("__n_rep", "epochs_permille")

  /** Catalog row: the balanced mix materialized — every source pulled
    * toward [[epochTokenTargetPerSource]] tokens, docs replicated (or
    * fractionally kept) with deterministic hashed rounding, output the
    * (doc_id, source, rep) rows a shard writer would consume.
    */
  def epochMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("toks"))
    val w = epochWeightsForTokenTarget(docs, epochTokenTargetPerSource)
    replicateByEpochs(docs, w)
      .select($"doc_id", $"source", $"rep")
      .orderBy($"doc_id", $"rep")
  }

  private val epochMixtureSql = {
    val hex = "0123456789abcdef"
    def nib(i: Int) = s"(strpos('$hex', h[$i:$i]) - 1)"
    val pm = s"(((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + " +
      s"${nib(4)}) * 16 + ${nib(5)}) % 1000)"
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
       |st AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS stoks FROM d GROUP BY 1),
       |w AS (SELECT source,
       |        least((1000 * $epochTokenTargetPerSource) // stoks,
       |              $epochCapPermille) AS w FROM st),
       |hh AS (SELECT doc_id,
       |         substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 5) AS h
       |       FROM documents),
       |n AS (SELECT d.doc_id, d.source,
       |        w.w // 1000 + CASE WHEN $pm < w.w % 1000 THEN 1 ELSE 0 END AS n_rep
       |      FROM d JOIN w USING (source) JOIN hh USING (doc_id))
       |SELECT doc_id, source,
       |  CAST(unnest(generate_series(1, n_rep)) AS BIGINT) AS rep
       |FROM n WHERE n_rep >= 1 ORDER BY doc_id, rep""".stripMargin
  }

  /** The deployment shape of [[tokenBudgetSelect]], gated to produce
    * the IDENTICAL kept set: quality is an integer permille, so
    * pre-aggregate token mass per (source, quality) BIN (≤ 1001 bins
    * per source — bounded, map-side combinable), run the cumulative
    * budget walk over the bins, and only the one BOUNDARY bin per
    * source — where the budget line falls — ever sorts its documents.
    * Every higher bin is kept wholesale, every lower bin dropped
    * wholesale. The corpus pays no per-source full sort: one bounded
    * bin rollup, two broadcast joins of bin verdicts back onto the
    * docs, and a window over boundary-bin docs only.
    *
    * Equivalence argument (why the gate can share [[tokenBudgetSql]]):
    * greedy admits docs in (q DESC, doc_id ASC) order while the
    * running token sum stays ≤ budget, and the sum is monotone, so
    * admission is a prefix — whole bins above the boundary (their
    * inclusive cumulative ≤ budget), then boundary-bin docs in doc_id
    * order against the remaining budget, nothing below.
    */
  def tokenBudgetSelectBinned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = tokenBudgetPerSource
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("ws"))
      .select($"doc_id", $"source",
        size($"ws").cast("long").as("toks"),
        size(array_distinct($"ws")).cast("long").as("nd"))
      .withColumn("q", expr("(1000 * nd) div toks"))
      .persistScoped()
    val wb = Window.partitionBy($"source").orderBy($"q".desc)
    val bins = docs.groupBy($"source", $"q").agg(sum($"toks").as("btoks"))
      .withColumn("cum", sum($"btoks").over(wb))
      .withColumn("cum_before", $"cum" - $"btoks")
    val whole = bins.filter($"cum" <= b).select($"source", $"q")
    val boundary = bins.filter($"cum_before" < b && $"cum" > b)
      .select($"source", $"q", (lit(b) - $"cum_before").as("rem"))
    val keptWhole = docs.join(broadcast(whole), Seq("source", "q"))
      .select($"source", $"toks")
    val wd = Window.partitionBy($"source").orderBy($"doc_id".asc)
    val keptBoundary = docs.join(broadcast(boundary), Seq("source", "q"))
      .withColumn("bcum", sum($"toks").over(wd))
      .filter($"bcum" <= $"rem")
      .select($"source", $"toks")
    val kept = keptWhole.unionByName(keptBoundary)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"toks").as("kept_tokens"))
    docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("total_tokens"))
      .join(kept, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        $"total_tokens")
      .orderBy($"source")
  }

  /** Hashed-feature buckets for [[dsirSelect]] (md5-prefix — the same
    * engine-portable bucketing every split/hash gate uses). 256 buckets
    * is the gate scale; the published method uses ~10k, a constant a
    * deployment raises with corpus size (bucket-table cost is |B| rows).
    */
  private val dsirBuckets = 256
  private val dsirTargetSource = "src0"
  private val dsirTopK = 20

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * pick raw-corpus documents whose hashed-n-gram profile looks like a
    * small high-quality TARGET corpus. Features are hashed unigram +
    * bigram counts; target and raw pools each fit a smoothed unigram
    * bag model over the [[dsirBuckets]] buckets; a document's importance
    * weight is Σ_b count_b · log(p_target[b]/p_raw[b]); selection is
    * Gumbel-top-k on weight + Gumbel(0,1) noise — importance RESAMPLING,
    * not argmax, so the tail gets probability mass.
    *
    * Every cross-engine float is bridged: the per-bucket log-ratio is
    * computed from exact integer counts and quantized ONCE to integer
    * micronats (⌊1e6·ln⌋), so document weights are exact BIGINT sums;
    * the Gumbel draw derives from an md5 hash fraction (deterministic,
    * replayable — the PRNG is part of the spec) and is quantized the
    * same way. The ranking the gate checks is pure integer comparison.
    *
    * Scale shape: the token stream is materialized once (explode +
    * md5 bucket, all codegen — a higher-order fold variant was 20×
    * slower because array lambdas evaluate interpreted, one
    * MessageDigest call per element); the 256-row model broadcasts
    * onto it and per-doc weights are one doc-keyed rollup whose
    * map-side combine collapses the token stream to one row per
    * document before the wire. Exchanges: two |B|-wide bucket-count
    * rollups, one doc-count-sized weight rollup, the final top-k.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dsirWeighted(s, dir)
      .filter($"source" =!= dsirTargetSource)
      .select($"doc_id", $"source", $"weight", ($"weight" + $"gq").as("skey"))
      .orderBy($"skey".desc, $"doc_id".asc)
      .limit(dsirTopK)
  }

  /** Per-document importance weights over the NON-TARGET pool (exact
    * micronat BIGINTs) — [[dsirSelect]] without the resampling step,
    * for diagnostics and spec-level distribution checks.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dsirWeighted(s, dir)
      .filter($"source" =!= dsirTargetSource)
      .select($"doc_id", $"source", $"weight")
  }

  private def dsirWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("ws"))
      .withColumn("toks", concat($"ws", wordBigrams($"ws")))
    // the bucketed token stream feeds both model fits AND the weight
    // rollup — materialize it once
    val tok = docs
      .select($"doc_id", $"source", explode($"toks").as("w"))
      .withColumn("b", substring(md5($"w"), 1, 2))
      .drop("w")
      .persistScoped()
    val rawCnt = tok.groupBy($"b").agg(count(lit(1)).as("cr"))
    val tgtCnt = tok.filter($"source" === dsirTargetSource)
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val totals = tok.agg(
      count(lit(1)).as("nr"),
      count(when($"source" === dsirTargetSource, 1)).as("nt"))
    // raw-pool buckets are the support of every document's tokens, so a
    // left join (absent target bucket → smoothed count 0) covers all
    // buckets a weight can touch
    val model = rawCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select($"b", floor(lit(1e6) * log(
        (($"ct" + 1L) * ($"nr" + lit(dsirBuckets.toLong))).cast("double") /
          (($"cr" + 1L) * ($"nt" + lit(dsirBuckets.toLong))).cast("double")))
        .cast("long").as("lrq"))
    // deterministic Gumbel(0,1): u from a 16-bit md5 hash fraction of the
    // doc id (u ∈ (0,1) strictly — the +0.5 offset keeps both lns finite)
    val hv = conv(substring(md5(concat(lit("g:"), $"doc_id".cast("string"))), 1, 4),
      16, 10).cast("long")
    val u = (hv.cast("double") + lit(0.5)) / lit(65536.0)
    val weights = tok.join(broadcast(model), Seq("b"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"lrq").as("weight"))
    weights.withColumn("gq", floor(lit(1e6) * -log(-log(u))).cast("long"))
  }

  private val dsirSql = {
    val hex = "0123456789abcdef"
    def nib(i: Int) = s"(strpos('$hex', h[$i:$i]) - 1)"
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |tok0 AS (SELECT doc_id, source,
       |  unnest(list_concat(ws,
       |    [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)])) AS w
       |FROM d),
       |tb AS (SELECT doc_id, source, substr(md5(w), 1, 2) AS b FROM tok0),
       |raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY 1),
       |tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE source = '$dsirTargetSource' GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM tb) AS nr,
       |               (SELECT COUNT(*) FROM tb WHERE source = '$dsirTargetSource') AS nt),
       |model AS (SELECT r.b,
       |  CAST(floor(1e6 * ln(
       |    CAST((COALESCE(ct, 0) + 1) * (nr + $dsirBuckets) AS DOUBLE) /
       |    CAST((cr + 1) * (nt + $dsirBuckets) AS DOUBLE))) AS BIGINT) AS lrq
       |  FROM raw r LEFT JOIN tgt USING (b) CROSS JOIN tot),
       |wt AS (SELECT t.doc_id, CAST(SUM(m.lrq) AS BIGINT) AS weight
       |       FROM tb t JOIN model m USING (b) GROUP BY 1),
       |gum AS (SELECT doc_id,
       |  CAST(floor(1e6 * -ln(-ln(
       |    (CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS DOUBLE)
       |      + 0.5) / 65536.0))) AS BIGINT) AS gq
       |  FROM (SELECT doc_id, substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
       |        FROM documents) t),
       |sel AS (SELECT w.doc_id, dd.source, w.weight, w.weight + g.gq AS skey
       |        FROM wt w JOIN gum g USING (doc_id) JOIN documents dd USING (doc_id)
       |        WHERE dd.source <> '$dsirTargetSource')
       |SELECT doc_id, source, weight, skey FROM sel
       |ORDER BY skey DESC, doc_id LIMIT $dsirTopK""".stripMargin
  }

  /** Corpus-level duplicate-span REMOVAL — the destructive sibling of
    * the [[dupNgramFrac]] signal, modeled on C4's "discard all but one
    * of any three-sentence span occurring more than once": the fixture
    * text has no sentence boundaries, so the span unit is a tumbling
    * 5-word window (last span may be shorter). Every span occurrence
    * except the canonical first — ordered by (doc_id, span_idx) — is
    * dropped, and each document's surviving spans are reassembled in
    * position order into `clean_text` (serialized as a plain string;
    * the gate cannot hash arrays). Unlike the per-doc signals, this is
    * the operator a pipeline actually APPLIES before training.
    *
    * Shuffle shape: one (span) hash agg for the canonical-occurrence
    * table (min struct(doc_id, span_idx) — map-side combinable), one
    * equi-join of the span stream against it on the span text, one
    * (doc_id) rollup for reassembly. Tumbling (not sliding) spans keep
    * the exploded volume at 1/5 word count — the property that makes
    * corpus-wide span dedup affordable at 100 TB where sliding 5-grams
    * are 5× the corpus. The canonical table's heavy hitters (mega-
    * duplicated boilerplate spans) are bounded by the agg's partial
    * combine, same as [[dupNgramFrac]]'s df table. The oracle keeps an
    * INDEPENDENT formulation: row_number over (doc_id, span_idx) per
    * span vs the Spark side's min-struct equality.
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.t(s, dir, "documents"))

  /** Core of [[spanDedup]] over any (doc_id, text) table — separated so
    * the canonical-first / in-document-duplicate / all-spans-dropped
    * semantics are unit-testable on crafted corpora (TextAnalysisSpec),
    * not just the fixture. */
  private[ops] def spanDedupOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val spans = docs
      .withColumn("ws", split($"text", " "))
      .select($"doc_id", posexplode(expr(
        "transform(sequence(0, (size(ws) - 1) div 5), i -> array_join(slice(ws, i * 5 + 1, 5), ' '))"))
        .as(Seq("span_idx", "g")))
    val canon = spans.groupBy($"g")
      .agg(min(struct($"doc_id", $"span_idx")).as("first"))
    spans.join(canon, Seq("g"))
      .withColumn("kept", struct($"doc_id", $"span_idx") === $"first")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when($"kept", struct($"span_idx", $"g")))),
            x => x.getField("g")),
          " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  private val spanDedupSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sp AS (
      |  SELECT doc_id,
      |    unnest([{'span_idx': i - 1,
      |             'g': array_to_string(ws[(i - 1) * 5 + 1 : (i - 1) * 5 + 5], ' ')}
      |            FOR i IN generate_series(1, (len(ws) - 1) // 5 + 1)],
      |           recursive := true)
      |  FROM d),
      |r AS (
      |  SELECT doc_id, span_idx, g,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, span_idx) AS rn
      |  FROM sp)
      |SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      |  coalesce(array_to_string(list(g ORDER BY span_idx) FILTER (rn = 1), ' '), '')
      |    AS clean_text
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-source token-distribution drift — the corpus-mix monitor a
    * training pipeline runs per ingest batch: for every source, the L1
    * distance (total variation ×2) between its token distribution and
    * the whole corpus's, in exact integer per-mille —
    * Σ_t |1000·c_st div T_s − 1000·c_t div T| over the FULL (source ×
    * vocabulary) grid, so tokens a source never emits still contribute
    * their corpus mass. All operands non-negative, so Spark `div` and
    * DuckDB `//` agree. A drifting crawl source (template change, spam
    * flood, language shift) moves this number before any downstream
    * quality metric notices. Plan: one (source, token) hash agg over
    * the exploded stream — the only full-volume exchange — then the
    * grid is |sources|·|vocab| rows built from two bounded broadcast
    * sides; per-token corpus counts ride the same collapsed table. At
    * 100 TB the vocabulary table is the big small-side: cap it (the
    * [[vocab]] head) and bucket the tail as an "other" residual —
    * documented here, not needed at fixture vocab size.
    */
  def sourceDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = Tables.t(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("c"))
      .persistScoped()
    val perSource = st.groupBy($"source").agg(sum($"c").as("ts"))
    val perTerm = st.groupBy($"term").agg(sum($"c").as("ct"))
    val total = st.agg(sum($"c").as("t"))
    val grid = perSource.crossJoin(broadcast(perTerm))
    grid
      .join(st, Seq("source", "term"), "left")
      .crossJoin(broadcast(total))
      .select($"source", $"ts",
        abs(expr("1000 * coalesce(c, 0) div ts") - expr("1000 * ct div t"))
          .as("d"))
      .groupBy($"source")
      .agg(first($"ts").as("n_tokens"), sum($"d").as("l1_permille"))
      .orderBy($"source")
  }

  private val sourceDriftSql =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |st AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |ps AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM st GROUP BY 1),
      |pt AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM st),
      |g AS (SELECT ps.source, ps.ts, pt.term, pt.ct FROM ps CROSS JOIN pt)
      |SELECT g.source, any_value(g.ts) AS n_tokens,
      |  CAST(SUM(abs(1000 * coalesce(st.c, 0) // g.ts
      |              - 1000 * g.ct // (SELECT t FROM t))) AS BIGINT) AS l1_permille
      |FROM g LEFT JOIN st ON g.source = st.source AND g.term = st.term
      |GROUP BY g.source ORDER BY g.source""".stripMargin

  /** PMI collocation mining — the phrase-extraction pass (word2phrase,
    * tokenizer-vocab "merge these two tokens" candidates): bigrams
    * whose observed count beats independence, ranked by the PMI RATIO
    * on the integer bridge — `1000·c_xy·N div (c_x·c_y)` — because
    * log(pmi) is monotone in the ratio, so the ranking is PMI's with
    * zero transcendentals near the gate. Min-count 5 kills the
    * hapax-pair noise floor exactly as word2phrase's δ does. Capacity:
    * c_xy·N ≤ 1000·(tokens)² must fit int64 — holds through ~10⁶-token
    * fixtures; past that divide N through first (ranking unchanged,
    * documented). Plan: one (bigram) count + one (unigram) count off
    * the same scan, two bounded broadcasts back, global top-30 via
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = Tables.t(s, dir, "documents")
      .select(split($"text", " ").as("ws"))
      .persistScoped()
    val uni = ws.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val total = ws.select(sum(size($"ws")).as("n"))
    // same sequence(1, 0)-descends guard as dupNgramFrac: a one-word
    // doc must yield zero bigrams, not an ANSI array-index error
    val bi = ws.select(explode(expr(
      """CASE WHEN size(ws) >= 2
        |  THEN transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))
        |  ELSE array() END""".stripMargin))
      .as("b"))
      .select($"b.w1".as("w1"), $"b.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c_xy"))
      .filter($"c_xy" >= 5)
    bi.join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select($"w1", $"w2", $"c_xy",
        expr("1000 * c_xy * n div (c1 * c2)").as("pmi_ratio_permille"))
      .orderBy($"pmi_ratio_permille".desc, $"w1".asc, $"w2".asc)
      .limit(30)
  }

  private val collocationsSql =
    """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM d),
      |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM uni),
      |bi AS (
      |  SELECT unnest([{'w1': ws[i], 'w2': ws[i + 1]}
      |                 FOR i IN generate_series(1, len(ws) - 1)],
      |                recursive := true)
      |  FROM d),
      |bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2
      |       HAVING COUNT(*) >= 5)
      |SELECT bc.w1, bc.w2, bc.c_xy,
      |  CAST(1000 * bc.c_xy * (SELECT n FROM n) // (u1.c * u2.c) AS BIGINT)
      |    AS pmi_ratio_permille
      |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
      |ORDER BY pmi_ratio_permille DESC, w1, w2 LIMIT 30""".stripMargin

  /** Content-defined chunking dedup stats — the storage-dedup
    * technique (rabin/CDC chunkers in backup systems, and the
    * shift-robust alternative to [[spanDedup]]'s fixed tumbling
    * windows): a chunk boundary falls AFTER any token whose trailing
    * word 3-gram hashes into 1/8 of the space, so inserting one word
    * near the top of a document only re-chunks the neighborhood of the
    * edit — fixed windows shift EVERY downstream span. Boundaries are
    * md5-prefix tests (md5 is the engine-portable hash here; the
    * fleet-scale variant would be a rolling Rabin fingerprint as a
    * codegen Expression), chunk ids are an exclusive prefix sum of
    * boundary flags (the [[packChunks]] pattern), chunk identity is
    * the md5 of the order-joined tokens, and the corpus df of chunk
    * hashes yields each doc's duplicate-chunk per-mille. Plan: one
    * (doc, pos) window pass with two lags riding the same sort — no
    * per-token array carry — then the chunk rollup, the df count, and
    * the join-back, all on keys the data is already clustered by.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcChunkSigs(Tables.t(s, dir, "documents"))
    val df = chunks.groupBy($"sig").agg(count(lit(1)).as("df"))
    chunks.join(df, Seq("sig"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"df" > 1, 1L).otherwise(0L)).as("dup_chunks"),
        expr("1000 * sum(CASE WHEN df > 1 THEN n_tokens ELSE 0 END) div sum(n_tokens)")
          .as("dup_token_permille"))
      .orderBy($"doc_id")
  }

  /** The chunker itself — (doc_id, chunk_id, sig, n_tokens) per
    * content-defined chunk over any (doc_id, text) table. Separated so
    * the SHIFT-ROBUSTNESS property (an edit re-chunks its
    * neighborhood, downstream chunks keep their signatures) is
    * unit-testable, not just asserted in prose.
    */
  private[graft] def cdcChunkSigs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the chunker is per-document with zero cross-row dependencies, so
    // it runs as ONE fused codegen expression + explode
    // ([[graft.functions.CdcChunks]]) — the window/aggregation shape it
    // replaces paid a doc_id exchange + sort of every token plus a
    // second (doc_id, chunk_id) exchange for the interpreted
    // collect_list projection; the reference formulation is retained
    // below and CdcChunksSpec pins row-set equality
    docs
      .select($"doc_id", explode(
        org.apache.spark.sql.graftaccess.ColumnBridge.column(
          graft.functions.CdcChunks(
            org.apache.spark.sql.graftaccess.ColumnBridge.expression(
              split($"text", " "))))).as("ch"))
      .select($"doc_id", $"ch.chunk_id".as("chunk_id"),
        $"ch.sig".as("sig"), $"ch.n_tokens".as("n_tokens"))
  }

  /** Window/aggregation reference formulation of [[cdcChunkSigs]] (the
    * shape shipped through r17) — retained for the differential spec.
    */
  private[graft] def cdcChunkSigsReference(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos".asc)
    docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("gram",
        when($"pos" >= 2,
          concat_ws(" ", lag($"w", 2).over(w), lag($"w", 1).over(w), $"w")))
      .withColumn("flag",
        when($"gram".isNotNull &&
          substring(md5($"gram"), 1, 1).isin("0", "1"), 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(
        sum($"flag").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy($"doc_id", $"chunk_id")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct($"pos", $"w"))), x => x.getField("w")),
        " ")).as("sig"),
        count(lit(1)).as("n_tokens"))
  }

  private val cdcChunksSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(ws) AS w,
      |    CAST(generate_subscripts(ws, 1) AS BIGINT) - 1 AS pos
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |f AS (
      |  SELECT doc_id, pos, w,
      |    CASE WHEN pos >= 2 AND substr(md5(
      |        lag(w, 2) OVER win || ' ' || lag(w, 1) OVER win || ' ' || w
      |      ), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS flag
      |  FROM t
      |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |c AS (
      |  SELECT doc_id, pos, w,
      |    coalesce(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      |  FROM f),
      |ch AS (
      |  SELECT doc_id, chunk_id,
      |    md5(string_agg(w, ' ' ORDER BY pos)) AS sig,
      |    COUNT(*) AS n_tokens
      |  FROM c GROUP BY 1, 2),
      |d AS (SELECT sig, COUNT(*) AS df FROM ch GROUP BY 1)
      |SELECT ch.doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
      |  CAST(1000 * SUM(CASE WHEN d.df > 1 THEN ch.n_tokens ELSE 0 END)
      |    // SUM(ch.n_tokens) AS BIGINT) AS dup_token_permille
      |FROM ch JOIN d USING (sig)
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Merge rounds [[bpeMerges]]' gate row pins. Production runs pick
    * the real vocabulary budget (30–100k merges); 6 keeps the DuckDB
    * unroll a cheap chain while exercising multi-round interaction
    * (later merges consume earlier merges' output symbols).
    */
  val bpeRounds = 6

  /** Distributed BPE (byte-pair-encoding) merge training — the
    * tokenizer-fitting step of a training-data pipeline, run as pure
    * Spark relational algebra with NO driver-side loop over data:
    *
    *  1. The corpus collapses ONCE to a word-frequency table (the only
    *     corpus-wide exchange, map-side combinable; by Heaps' law the
    *     vocabulary is orders of magnitude smaller than 100 TB of
    *     text). Each word is encoded as delimiter-bracketed symbols
    *     (`"abc"` → `"<a><b><c>"`), so a plain (codegen'd, non-regex)
    *     `replace` of `<l><r>` → `<lr>` applies one merge with exact
    *     greedy left-to-right BPE semantics: each occurrence is two
    *     COMPLETE symbols (the brackets assert both boundaries), and
    *     leftmost non-overlapping replacement gives the standard
    *     `floor(run/2)` behavior on self-pair runs (`aaa` → `<aa><a>`,
    *     never `<a><aa>`).
    *  2. Each merge round is ONE vocabulary-sized job: a
    *     map-side-combinable pair count (frequency-weighted adjacent
    *     symbol pairs) under a 1-row TakeOrderedAndProject argmax
    *     (count desc, pair asc — total order, engine-independent on
    *     the corpus' ASCII alphabet), collected to the driver as the
    *     round's merge decision — the same driver-side fixpoint
    *     control convergence-mode pagerank uses, NOT a loop over
    *     data. The merge itself is then a literal narrow `replace`
    *     projection (no join, no shuffle, no broadcast exchange).
    *     Per-round cost is vocabulary-sized, independent of corpus
    *     size — exactly how map-reduce BPE trainers shard.
    *
    * Contract: the bracket characters must not occur in `text` (the
    * op drops violating words; a deployment on arbitrary bytes picks
    * unused control characters U+0001/U+0002). If the corpus exhausts
    * its pairs before `rounds`, the remaining rounds emit no row.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMergesOn(s, Tables.t(s, dir, "documents"), bpeRounds)

  /** [[bpeMerges]] over an explicit `documents` frame — the unit-test
    * entry that pins the greedy-merge semantics on hand-computed
    * fixtures.
    */
  def bpeMergesOn(s: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    bpeTrainOn(s, docs, rounds)._1.toDF("merge_round", "l", "r", "cnt")
  }

  /** Merges applied per training pass when batching ([[bpeTrainBatchedOn]])
    * and the lineage-checkpoint cadence (every N passes the cached
    * vocabulary is locally checkpointed so the chained-`replace`
    * projection plan stays flat across a 30–100k-merge production
    * budget instead of nesting one projection per merge). */
  val bpeBatch = 8
  val bpeCheckpointEvery = 8

  /** The training loop shared by [[bpeMergesOn]] (returns the merge
    * list) and [[bpeTokenCountsOn]] (returns the merged vocabulary).
    * Early-stops when the vocabulary runs out of pairs. batch=1 ≡ the
    * textbook one-merge-per-round greedy loop (what the catalog gate
    * unrolls differentially).
    */
  private def bpeTrainOn(s: SparkSession, docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) =
    bpeTrainBatchedOn(s, docs, rounds, 1)

  /** Batched BPE training — the production-budget variant of the
    * driver-paced loop: each PASS collects the top-(4·B) ranked pairs
    * once and greedily accepts up to B of them whose left/right
    * symbols are MUTUALLY DISJOINT, then applies all accepted merges
    * in ONE chained-`replace` projection. Disjointness makes the
    * batch order-free: merge (l1,r1) can neither destroy nor create an
    * occurrence of (l2,r2) when {l1,r1} ∩ {l2,r2} = ∅ (the new symbol
    * l1r1 is not l2 or r2, and `<l1r1>` cannot contain the `><`
    * boundary of `<l2><r2>`), so each accepted pair's count is exactly
    * its sequential-round count. The acceptance ORDER (rank order)
    * matches the sequential greedy order whenever no rejected
    * higher-rank pair would have outranked an accepted one after
    * re-counting — BpeSpec pins batched ≡ unbatched on the classic
    * low/lower/newest corpus and `q_text_bpe_batched` pins it
    * differentially against the UNROLLED sequential oracle on the
    * documents fixture, so a corpus where the approximation diverges
    * goes red instead of silently reordering merges.
    *
    * Cost: a 30k-merge budget at B=8 is ~3.7k driver round-trips
    * instead of 30k (PLANS.md, "Batched BPE merges", records the
    * design and its B=1 vs B=8 pins) — and each pass is still one
    * vocabulary-sized job, never corpus-sized. Every [[bpeCheckpointEvery]]
    * passes the cached vocab is locally checkpointed, truncating the
    * chained-replace lineage (bounded plan depth at production budgets).
    */
  private[graft] def bpeTrainBatchedOn(s: SparkSession, docs: DataFrame,
      rounds: Int, batch: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    require(batch >= 1, s"batch must be >= 1: $batch")
    // bracket guard: also drop words containing line terminators —
    // Java's '.' excludes \r/\u0085/\u2028/\u2029 while RE2's
    // excludes only \n, so a terminator-bearing word would bracket
    // differently per engine AND break the complete-symbol invariant
    var vocab = docs
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains("<") && !$"w".contains(">") &&
        !$"w".rlike("[\n\r\u0085\u2028\u2029]"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .select(regexp_replace($"w", "(.)", "<$1>").as("sym"), $"wc")
      .persistScoped()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var done = 0
    var pass = 0
    var exhausted = false
    while (done < rounds && !exhausted) {
      val want = math.min(batch, rounds - done)
      val syms = split(expr("substring(sym, 2, length(sym) - 2)"), "><")
      val top = vocab
        .select($"wc", explode(wordBigrams(syms)).as("pg"))
        .select($"wc", element_at(split($"pg", " "), 1).as("l"),
          element_at(split($"pg", " "), 2).as("r"))
        .groupBy($"l", $"r").agg(sum($"wc").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r").limit(want * 4)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // Rank-order acceptance under STRICT DOMINANCE — the exactness
        // condition, stronger than plain symbol-disjointness: a merge
        // of accepted pair (l,r) can only create/destroy pairs that
        // SHARE a symbol with it, and any created pair's count is
        // bounded by the count of some existing conflicting pair. So
        // candidate p is sequential-greedy-safe iff its symbols are
        // disjoint from every accepted pair AND cnt(p) is STRICTLY
        // greater than (a) every collected pair conflicting with the
        // accepted set (a tie could flip the argmax lexically once the
        // merged symbol renames it) and (b) the collection floor (a
        // conflicting pair below the 4·want cutoff has cnt ≤ floor).
        // Rank-1 is the true argmax and is always accepted; the batch
        // degrades toward B=1 on tie-heavy counts instead of ever
        // reordering merges.
        val ranked = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val floorCnt = if (top.length < want * 4) 0L else ranked.last._3
        val used = scala.collection.mutable.Set.empty[String]
        val acceptedKeys = scala.collection.mutable.Set.empty[(String, String)]
        val accepted = Seq.newBuilder[(String, String, Long)]
        var n = 0
        ranked.foreach { case (l, r, cnt) =>
          if (n < want && !used(l) && !used(r)) {
            // conflicts = rows sharing a symbol with the accepted set,
            // excluding the accepted rows themselves
            val conflictMax = ranked.iterator
              .filter { case (cl, cr, _) =>
                !acceptedKeys((cl, cr)) && (used(cl) || used(cr)) }
              .map(_._3).foldLeft(0L)(_ max _)
            if (n == 0 || cnt > math.max(conflictMax, floorCnt)) {
              accepted += ((l, r, cnt)); used += l; used += r
              acceptedKeys += ((l, r)); n += 1
            }
          }
        }
        val acc = accepted.result()
        acc.zipWithIndex.foreach { case ((l, r, cnt), i) =>
          merges += ((done + i + 1L, l, r, cnt))
        }
        // one projection applies the whole batch (order-free: disjoint)
        val symCol = acc.foldLeft($"sym".as("sym")) { case (c, (l, r, _)) =>
          replace(c, lit(s"<$l><$r>"), lit(s"<$l$r>"))
        }
        vocab = vocab.select(symCol.as("sym"), $"wc").persistScoped()
        done += acc.size
        pass += 1
        // truncate the chained-replace lineage periodically: at a
        // production merge budget the logical plan would otherwise
        // nest one projection per pass
        if (pass % bpeCheckpointEvery == 0) vocab = vocab.localCheckpoint()
      }
    }
    (merges.result(), vocab)
  }

  /** Token-budget accounting under the trained tokenizer — the encode
    * half of [[bpeMerges]]: per-document word/token/char counts with
    * the [[bpeRounds]]-merge vocabulary applied. Encoding a word is a
    * LOOKUP, not a re-derivation: the training loop's final vocabulary
    * already holds every distinct word's fully-merged symbol string,
    * so the corpus-sized work is one word explode plus a broadcast
    * join against the (Heaps-law-small) word→token-count map — the
    * merge rounds themselves never touch corpus-scale data. `n_tokens`
    * per word is just its bracket count.
    */
  def bpeTokenCounts(s: SparkSession, dir: String): DataFrame =
    bpeTokenCountsOn(s, Tables.t(s, dir, "documents"), bpeRounds)

  /** [[bpeTokenCounts]] over an explicit `documents` frame. */
  def bpeTokenCountsOn(s: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    val vocab = bpeTrainOn(s, docs, rounds)._2
    val wordTokens = vocab.select(
      translate($"sym", "<>", "").as("w"),
      (length($"sym") - length(regexp_replace($"sym", "<", ""))).cast("long")
        .as("w_tokens"))
    docs
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains("<") && !$"w".contains(">") &&
        !$"w".rlike("[\n\r\u0085\u2028\u2029]"))
      .join(broadcast(wordTokens), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"w_tokens").as("n_tokens"),
        sum(length($"w")).cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  private val bpeChainSql = {
    val rounds = (1 to bpeRounds).map { n =>
      val p = n - 1
      // AS MATERIALIZED: each round references the previous vocab and
      // its own top-1 several times; default CTE inlining would expand
      // the chain exponentially (the ccStarSql lesson)
      s"""sy$n AS MATERIALIZED (
         |  SELECT string_split(sym[2:length(sym)-1], '><') AS syms, wc FROM v$p),
         |pc$n AS MATERIALIZED (
         |  SELECT string_split(pg, ' ')[1] AS l, string_split(pg, ' ')[2] AS r,
         |         CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest([syms[i] || ' ' || syms[i+1]
         |                           FOR i IN generate_series(1, len(syms) - 1)]) AS pg
         |        FROM sy$n)
         |  GROUP BY 1, 2),
         |t$n AS MATERIALIZED (
         |  SELECT CAST($n AS BIGINT) AS merge_round, l, r, cnt FROM pc$n
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |v$n AS MATERIALIZED (
         |  SELECT replace(sym,
         |           '<' || (SELECT l FROM t$n) || '><' || (SELECT r FROM t$n) || '>',
         |           '<' || (SELECT l FROM t$n) || (SELECT r FROM t$n) || '>') AS sym, wc
         |  FROM v$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS sym, COUNT(*) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 AND w NOT LIKE '%<%' AND w NOT LIKE '%>%'
       |    AND NOT regexp_matches(w, '[\\n\\r\\x{0085}\\x{2028}\\x{2029}]')
       |  GROUP BY 1),
       |$rounds""".stripMargin
  }

  private val bpeSql =
    s"""$bpeChainSql
       |SELECT merge_round, l, r, cnt FROM (
       |  ${(1 to bpeRounds).map(n => s"SELECT * FROM t$n").mkString(" UNION ALL ")})
       |ORDER BY merge_round""".stripMargin

  private val bpeEncodeSql =
    s"""$bpeChainSql,
       |wt AS MATERIALIZED (
       |  SELECT replace(replace(sym, '<', ''), '>', '') AS w,
       |         length(sym) - length(replace(sym, '<', '')) AS w_tokens
       |  FROM v$bpeRounds)
       |SELECT doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(w_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(length(w)) AS BIGINT) AS n_chars
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |JOIN wt USING (w)
       |WHERE length(w) > 0 AND w NOT LIKE '%<%' AND w NOT LIKE '%>%'
       |  AND NOT regexp_matches(w, '[\\n\\r\\x{0085}\\x{2028}\\x{2029}]')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Batched-training gate row: [[bpeTrainBatchedOn]] at B=[[bpeBatch]]
    * against the SAME unrolled sequential oracle as `q_text_bpe` — the
    * strongest available check that the disjoint-batch approximation
    * preserves the exact greedy merge sequence on a real corpus. */
  def bpeMergesBatched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrainBatchedOn(s, Tables.t(s, dir, "documents"), bpeRounds, bpeBatch)
      ._1.toDF("merge_round", "l", "r", "cnt")
  }

  /** Frozen tokenizer model: the trained merge list in RANK ORDER —
    * the deployable artifact of BPE training, completing the engine's
    * model-as-artifact lifecycle (perceptron → [[QualityModel]],
    * IVF-PQ → [[graft.ops.Similarity.IvfPqModel]], BPE → this). Rank
    * order IS the model: applying the same merges in a different
    * order produces a different tokenizer.
    */
  final case class BpeModel(merges: Seq[(String, String)])

  def trainBpeModel(s: SparkSession, docs: DataFrame,
      rounds: Int = bpeRounds): BpeModel =
    BpeModel(bpeTrainOn(s, docs, rounds)._1.map { case (_, l, r, _) => (l, r) })

  def saveBpeModel(s: SparkSession, model: BpeModel, path: String): Unit = {
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r) }
      .toDF("rank", "l", "r").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadBpeModel(s: SparkSession, path: String): BpeModel =
    BpeModel(s.read.parquet(path).orderBy("rank").collect()
      .map(r => (r.getString(r.fieldIndex("l")), r.getString(r.fieldIndex("r")))).toSeq)

  /** Encode ONE word against a frozen model: bracket every character,
    * then fold the merge list in rank order as literal `replace`s —
    * character-for-character the training semantics (greedy leftmost,
    * complete-symbol brackets), so in-vocabulary words reproduce the
    * training tokenization exactly and OUT-OF-VOCABULARY words — the
    * case the training-vocab lookup join cannot serve at all — get
    * the standard BPE fallback tokenization. Pure codegen'd string
    * work, no lookup state.
    */
  private def bpeEncodeWord(model: BpeModel, word: Column): Column =
    model.merges.foldLeft(regexp_replace(word, "(.)", "<$1>")) {
      case (c, (l, r)) => replace(c, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }

  /** Serve a frozen tokenizer over any frame — per-document
    * word/token/char counts like [[bpeTokenCountsOn]], but STATELESS:
    * the whole computation is one higher-order fold over the split
    * array (no explode, no vocabulary join, no shuffle, no streaming
    * state), so the same column runs unchanged on a batch frame and a
    * readStream frame, and words the training corpus never saw are
    * encoded by the merge rules instead of silently dropped by a
    * vocab join. The train-offline/serve-anywhere split of
    * [[scoreDocs]], for the tokenizer.
    *
    * Scale note: the fold chains one `replace` per merge, so it fits
    * expression codegen at catalog-sized budgets (≤ ~1k merges —
    * enforced loudly). A 30–100k-merge production tokenizer serves
    * the Heaps-law HEAD through the broadcast word→tokens dictionary
    * ([[bpeTokenCountsOn]]'s join) and only the OOV tail through this
    * fold — the two paths agree on every shared word by the exactness
    * above.
    */
  def bpeServeDocs(docs: DataFrame, model: BpeModel,
      textCol: String = "text"): DataFrame = {
    require(model.merges.size <= 1024,
      s"bpeServeDocs folds one replace per merge (${model.merges.size}): " +
        "past ~1k merges serve the vocabulary head via the dictionary join " +
        "and keep the fold for the OOV tail")
    // the same word guard as training (bracket chars + line
    // terminators - see bpeTrainBatchedOn engine-parity note)
    val words = filter(split(col(textCol), " "), w =>
      length(w) > 0 && !w.contains("<") && !w.contains(">") &&
        !w.rlike("[\n\r\u0085\u2028\u2029]"))
    val toks = (w: Column) => {
      val enc = bpeEncodeWord(model, w)
      (length(enc) - length(translate(enc, "<", ""))).cast("long")
    }
    // bpe_-prefixed so annotation never silently REPLACES a source
    // column (the fixture's documents table already carries n_chars)
    docs
      .withColumn("bpe_words", size(words).cast("long"))
      .withColumn("bpe_tokens", aggregate(words, lit(0L), (acc, w) => acc + toks(w)))
      .withColumn("bpe_chars", aggregate(words, lit(0L),
        (acc, w) => acc + length(w).cast("long")))
  }

  /** THE integer type-token-ratio permille grid, as SQL over a text
    * column — the single definition of the quality score shared by the
    * declarative `quality_filter` transform and asserted against by
    * CurationFlowSpec. [[tokenBudgetSelect]] / [[tokenBudgetSelectBinned]]
    * compute the same `(1000·distinct) div total` from their exploded
    * token counts; any change to the grid must change all of them
    * together (this constant is the contract).
    */
  def ttrPermilleSql(textCol: String): String =
    s"(1000 * cast(size(array_distinct(split($textCol, ' '))) as long))" +
      s" div cast(size(split($textCol, ' ')) as long)"

  /** Low-entropy threshold in nats·10 (28 ⇒ 2.8 nats): below it a
    * document's word distribution is concentrated on few types — the
    * information-theoretic signature of boilerplate/repetition. On the
    * fixture the corpus spans 1.6–3.4 nats (median 3.09), so 2.8
    * flags the repetitive ~15–20 % tail.
    */
  private[graft] val entropyLowNats10 = 28L

  /** Per-document word-distribution ENTROPY — the information-theoretic
    * quality signal alongside the ratio ones ([[quality]]'s TTR,
    * [[repetition]], [[dupNgramFrac]]): H = ln n − (1/n)Σ c·ln c over
    * the doc's word counts; low entropy = few types dominate =
    * boilerplate. Kept exact end to end by the DSIR micronat trick:
    * L(x) = floor(1e6·ln x) on exact integer counts, and the per-doc
    * entropy MASS nh = n·L(n) − Σ_w c_w·L(c_w) (n·H in micronats)
    * never divides — the low-entropy test is the integer
    * cross-multiply nh·10 < threshold·n. One explode + one
    * (doc, word) rollup + one doc rollup, all map-side combinable; the
    * per-source report is a 20-row rollup on top.
    */
  def wordEntropy(s: SparkSession, dir: String): DataFrame =
    wordEntropyOn(s, Tables.t(s, dir, "documents"))

  /** Per-document entropy mass — (doc_id, source, n, nh) with
    * nh = n·L(n) − Σ c·L(c) in micronats·n (exact longs; see
    * [[wordEntropy]]). The frame both the per-source report and the
    * declarative `entropy_filter` build on.
    */
  def docEntropy(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"source", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"source")
      .agg(
        sum($"c").as("n"),
        sum($"c" * floor(lit(1e6) * log($"c")).cast("long")).as("sc"))
      .select($"doc_id", $"source", $"n",
        ($"n" * floor(lit(1e6) * log($"n")).cast("long") - $"sc").as("nh"))
  }

  def wordEntropyOn(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docEntropy(docs).groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"nh" * 10L < lit(entropyLowNats10 * 1000000L) * $"n", 1))
          .as("n_low_entropy"),
        sum($"n").as("total_words"),
        sum($"nh").as("entropy_mass"))
      .orderBy($"source")
  }

  private val wordEntropySql =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |cc AS (SELECT doc_id, source, w, COUNT(*) AS c
       |       FROM (SELECT doc_id, source, unnest(ws) AS w FROM d) t
       |       GROUP BY 1, 2, 3),
       |h AS (SELECT doc_id, source,
       |        CAST(SUM(c) AS BIGINT) AS n,
       |        CAST(SUM(c * CAST(floor(1e6 * ln(c)) AS BIGINT)) AS BIGINT) AS sc
       |      FROM cc GROUP BY 1, 2),
       |e AS (SELECT doc_id, source, n,
       |        n * CAST(floor(1e6 * ln(n)) AS BIGINT) - sc AS nh
       |      FROM h)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN nh * 10 < ${entropyLowNats10 * 1000000L} * n THEN 1 END) AS BIGINT)
       |    AS n_low_entropy,
       |  CAST(SUM(n) AS BIGINT) AS total_words,
       |  CAST(SUM(nh) AS BIGINT) AS entropy_mass
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Positive-class sources for the trained quality classifier — the
    * "curated corpus" proxy (CCNet/GPT-3-style quality filtering
    * trains a linear classifier on curated-vs-crawl labels; here the
    * first four fixture sources stand in for the curated side).
    */
  private[graft] val perceptronPosSources = Seq("src0", "src1", "src2", "src3")
  private[graft] val perceptronRounds = 3

  def perceptronClassifier(s: SparkSession, dir: String): DataFrame =
    perceptronOn(s, Tables.t(s, dir, "documents"),
      perceptronPosSources, perceptronRounds)

  /** TRAIN a discriminative quality classifier, distributed — batch
    * perceptron over hashed bag-of-words features. This is the
    * catalog's one trained *discriminative* curation model (DSIR is
    * generative importance weighting): the fasttext-shaped quality
    * filter every large pretraining pipeline runs (classify each
    * document curated-vs-crawl, keep high scorers), expressed so that
    * training itself is a Spark job over the full corpus.
    *
    * Model + math are exact integers end to end, so the DuckDB gate
    * checks the TRAINED WEIGHTS' effect value-for-value:
    * features are per-document counts of md5-prefix word buckets (256
    * buckets + a bias pseudo-bucket, the same engine-portable hashing
    * as DSIR), labels y = ±1 from the source, and each round does the
    * batch-perceptron update w += Σ_{misclassified} y·x with the
    * classic y·margin ≤ 0 rule (w₀ = 0 ⇒ round 1 updates on every
    * document). No learning rate, no floats, no ties to break.
    *
    * Scale shape (the reason a perceptron and not SGD-with-floats):
    * the corpus is featurized ONCE — one explode + one
    * (doc, bucket) hash rollup, persisted; each round is then one
    * broadcast join of the ≤257-row model + a map-side-combinable
    * per-doc margin rollup + a ≤257-row delta rollup collected to the
    * driver (k-means-style control flow: the MODEL crosses the
    * driver, never data). Rounds are a fixed small constant; corpus
    * passes are O(rounds), each embarrassingly parallel with
    * bounded-width shuffles. At 100 TB nothing about this changes —
    * the model is still 257 rows.
    */
  def perceptronOn(s: SparkSession, docsIn: DataFrame,
      posSources: Seq[String], rounds: Int): DataFrame = {
    import s.implicits._
    val (labeled, margins) = perceptronMarginsOn(s, docsIn, posSources, rounds)
    margins
      .join(labeled.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"m" > 0L, 1)).as("n_pred_pos"),
        count(when($"y" * $"m" > 0L, 1)).as("n_correct"),
        sum($"m").as("sum_margin"))
      .orderBy($"source")
  }

  /** Training core of [[perceptronOn]]: returns the labeled frame and
    * the per-document margins under the final trained weights —
    * (doc_id, y, m). The margin IS the classifier score a pipeline
    * filters on ([[perceptronOn]] rolls it up per source for the
    * differential gate).
    */
  def perceptronMarginsOn(s: SparkSession, docsIn: DataFrame,
      posSources: Seq[String], rounds: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val (labeled, f, weights) = perceptronTrain(s, docsIn, posSources, rounds)
    val wDf = broadcast(weights.toSeq.toDF("b", "w"))
    val margins = f.join(wDf, Seq("b"))
      .groupBy($"doc_id", $"y").agg(sum($"c" * $"w").as("m"))
    (labeled, margins)
  }

  private def perceptronTrain(s: SparkSession, docsIn: DataFrame,
      posSources: Seq[String], rounds: Int)
      : (DataFrame, DataFrame, Map[String, Long]) = {
    import s.implicits._
    import graft.CacheScope._
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val labeled = docsIn.select($"doc_id", $"source",
      when($"source".isin(posSources: _*), 1L).otherwise(-1L).as("y"),
      split($"text", " ").as("ws"))
    // hash-repartitioned by doc_id BEFORE the persist (one exchange of
    // the COMPACT feature table, paid once): every round's margin
    // rollup groups by (doc_id, y) and the misclassified semi-join
    // keys on doc_id — HashPartitioning(doc_id) satisfies both (subset
    // rule), so rounds 2..R and the final margin pass run with ZERO
    // doc-keyed exchanges instead of two per round. The union had
    // discarded the featurize aggregation's partitioning anyway.
    val f = labeled
      .select($"doc_id", $"y", explode($"ws").as("w"))
      .withColumn("b", substring(md5($"w"), 1, 2))
      .groupBy($"doc_id", $"y", $"b").agg(count(lit(1)).as("c"))
      .unionAll(labeled.select($"doc_id", $"y", lit("__bias").as("b"),
        lit(1L).as("c")))
      .repartition($"doc_id")
      .persistScoped()
    def marginsUnder(wts: Map[String, Long]): DataFrame = {
      val wDf = broadcast(wts.toSeq.toDF("b", "w"))
      f.join(wDf, Seq("b"))
        .groupBy($"doc_id", $"y").agg(sum($"c" * $"w").as("m"))
    }
    // round 1: w = 0, every margin is 0, y·0 ≤ 0 — update over ALL docs
    var weights: Map[String, Long] = f.groupBy($"b")
      .agg(sum($"y" * $"c").as("dw")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (_ <- 2 to rounds) {
      val mis = marginsUnder(weights)
        .filter($"y" * $"m" <= 0).select($"doc_id")
      val delta = f.join(mis, Seq("doc_id"), "left_semi")
        .groupBy($"b").agg(sum($"y" * $"c").as("dw")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      weights = weights.map { case (b, w) =>
        b -> (w + delta.getOrElse(b, 0L))
      }
    }
    (labeled, f, weights)
  }

  /** Frozen quality-classifier model: the trained bucket → weight map
    * (≤257 entries, KBs). The deployable artifact of
    * [[trainQualityModel]]; [[scoreDocs]] serves it STATELESS — no
    * join, no shuffle, no streaming state.
    */
  final case class QualityModel(weights: Map[String, Long])

  def trainQualityModel(s: SparkSession, docs: DataFrame,
      posSources: Seq[String], rounds: Int = perceptronRounds): QualityModel = {
    val (_, _, w) = perceptronTrain(s, docs, posSources, rounds)
    QualityModel(w)
  }

  def saveQualityModel(s: SparkSession, model: QualityModel, path: String): Unit = {
    import s.implicits._
    model.weights.toSeq.toDF("b", "w").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadQualityModel(s: SparkSession, path: String): QualityModel =
    QualityModel(s.read.parquet(path).collect()
      .map(r => r.getString(r.fieldIndex("b")) -> r.getLong(r.fieldIndex("w"))).toMap)

  /** Score documents against a FROZEN model as a pure per-row fold —
    * margin = bias + Σ_words weight(md5-bucket(word)) — via a literal
    * weight map inside a higher-order `aggregate`. No explode, no
    * join, no shuffle, and therefore no streaming STATE: the same
    * column works on a batch frame and on a readStream frame
    * unchanged (stateless map-side model serving — the
    * train-offline/serve-in-stream split). Identical by construction
    * to the join-based training margins: a bucket absent from the
    * trained support contributes 0 on both paths.
    */
  def scoreDocs(docs: DataFrame, model: QualityModel): DataFrame = {
    val bias = model.weights.getOrElse("__bias", 0L)
    val entries = model.weights.view.filterKeys(_ != "__bias").toSeq
      .flatMap { case (b, w) => Seq(lit(b), lit(w)) }
    val wmap = map(entries: _*)
    docs.withColumn("margin",
      aggregate(split(col("text"), " "), lit(bias),
        (acc, w) => acc +
          coalesce(element_at(wmap, substring(md5(w), 1, 2)), lit(0L))))
  }

  private val perceptronSql = {
    val pos = perceptronPosSources.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, source,
       |  CASE WHEN source IN ($pos) THEN 1 ELSE -1 END AS y,
       |  string_split(text, ' ') AS ws FROM documents),
       |tb AS (SELECT doc_id, y, substr(md5(w), 1, 2) AS b
       |       FROM (SELECT doc_id, y, unnest(ws) AS w FROM d) t),
       |f AS (SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM tb GROUP BY 1, 2, 3
       |      UNION ALL SELECT doc_id, y, '__bias', 1 FROM d),
       |w1 AS (SELECT b, CAST(SUM(y * c) AS BIGINT) AS w FROM f GROUP BY 1),
       |m1 AS (SELECT f.doc_id, f.y, CAST(SUM(f.c * w1.w) AS BIGINT) AS m
       |       FROM f JOIN w1 USING (b) GROUP BY 1, 2),
       |u2 AS (SELECT b, CAST(SUM(y * c) AS BIGINT) AS dw FROM f
       |       WHERE doc_id IN (SELECT doc_id FROM m1 WHERE y * m <= 0)
       |       GROUP BY 1),
       |w2 AS (SELECT w1.b, w1.w + COALESCE(u2.dw, 0) AS w
       |       FROM w1 LEFT JOIN u2 USING (b)),
       |m2 AS (SELECT f.doc_id, f.y, CAST(SUM(f.c * w2.w) AS BIGINT) AS m
       |       FROM f JOIN w2 USING (b) GROUP BY 1, 2),
       |u3 AS (SELECT b, CAST(SUM(y * c) AS BIGINT) AS dw FROM f
       |       WHERE doc_id IN (SELECT doc_id FROM m2 WHERE y * m <= 0)
       |       GROUP BY 1),
       |w3 AS (SELECT w2.b, w2.w + COALESCE(u3.dw, 0) AS w
       |       FROM w2 LEFT JOIN u3 USING (b)),
       |m3 AS (SELECT f.doc_id, f.y, CAST(SUM(f.c * w3.w) AS BIGINT) AS m
       |       FROM f JOIN w3 USING (b) GROUP BY 1, 2)
       |SELECT dd.source,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN m > 0 THEN 1 END) AS BIGINT) AS n_pred_pos,
       |  CAST(COUNT(CASE WHEN y * m > 0 THEN 1 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(m) AS BIGINT) AS sum_margin
       |FROM m3 JOIN (SELECT doc_id, source FROM documents) dd USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Keep fractions for the two quantile-filter gate rows (permille of
    * the corpus / of each source): binding values so the threshold
    * falls strictly inside the score distribution at every fixture
    * scale, not at an endpoint.
    */
  private[graft] val quantileKeepPermille = 250L
  private[graft] val quantileKeepPerSourcePermille = 400L

  /** Distribution-relative selection threshold — the third member of
    * the selection family next to [[sourceQuota]] (count cap) and
    * [[tokenBudgetSelect]] (token-mass cap): "keep the top p‰ of
    * documents BY SCORE", the cut a quality-classifier curation run
    * states (FineWeb-style: threshold the score at a corpus quantile,
    * not at a fixed value chosen before seeing the data).
    *
    * Semantics are ties-INCLUSIVE and need no document order at all:
    * t = max score s with count(score ≥ s) ≥ ⌈p·n/1000⌉, kept =
    * {score ≥ t}. Deterministic for any integer score grid, and —
    * unlike a rank cut — independent of doc-id tie-breaks, so the
    * kept set is a pure predicate on the score column.
    *
    * Scale shape (why this beats the rank/window formulation at
    * 100 TB): scores live on a bounded integer grid (TTR permille →
    * ≤ 1001 values), so the distribution is ONE map-side-combinable
    * histogram rollup; the cumulative walk and the threshold pick run
    * on that ≤|grid|-row frame; the filter is score ≥ t with the
    * 1-row threshold broadcast. No global sort, no per-source window,
    * no data-sized shuffle anywhere — the corpus is touched by
    * exactly two codegen map passes (histogram feed + filter). The
    * integer guard `1000·cum ≥ p·n` is the ceiling test without a
    * division (cum integer ⇒ cum ≥ ⌈p·n/1000⌉ ⟺ 1000·cum ≥ p·n).
    *
    * p = 0 keeps the top tie group (the guard is vacuously true at
    * every prefix, so t = max score); p = 1000 keeps everything.
    * Returns a 1-row frame (`q_thresh`) so the threshold composes
    * into plans without a driver round-trip.
    */
  def scoreQuantileThresholdOn(
      scored: DataFrame, scoreCol: String, keepPermille: Long): DataFrame = {
    require(keepPermille >= 0L && keepPermille <= 1000L,
      s"keepPermille must be in [0, 1000], got $keepPermille")
    val hist = scored.groupBy(col(scoreCol).cast("long").as("__q"))
      .agg(count(lit(1)).as("__cnt"))
    val wCum = Window.orderBy(col("__q").desc)
    val wAll = Window.partitionBy(lit(1))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .filter(col("__cum") * 1000L >= lit(keepPermille) * col("__n"))
      .agg(max(col("__q")).as("q_thresh"))
  }

  /** Multi-cut sibling of [[scoreQuantileThresholdOn]]: ALL k
    * thresholds from ONE histogram rollup — a >2-phase curriculum
    * needs one cut per phase boundary, and recomputing the histogram
    * per cut would re-scan the corpus k times for a distribution
    * that's already on the bounded grid. Returns a 1-row frame with
    * `q_thresh_0 … q_thresh_{k-1}` (same ties-inclusive max-score
    * semantics per cut), so the whole threshold set broadcasts as one
    * tiny cross join. Corpus cost is IDENTICAL to the single-cut
    * form: one map-side-combinable histogram pass, window walks on
    * the ≤|grid|-row frame only.
    */
  def scoreQuantileThresholdsOn(
      scored: DataFrame, scoreCol: String,
      cutsPermille: Seq[Long]): DataFrame = {
    require(cutsPermille.nonEmpty, "need at least one cut")
    cutsPermille.foreach(p => require(p >= 0L && p <= 1000L,
      s"cutsPermille must be in [0, 1000], got $p"))
    val hist = scored.groupBy(col(scoreCol).cast("long").as("__q"))
      .agg(count(lit(1)).as("__cnt"))
    val wCum = Window.orderBy(col("__q").desc)
    val wAll = Window.partitionBy(lit(1))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .agg(
        cutsPermille.zipWithIndex.map { case (p, i) =>
          max(when(col("__cum") * 1000L >= lit(p) * col("__n"), col("__q")))
            .as(s"q_thresh_$i")
        }.head,
        cutsPermille.zipWithIndex.map { case (p, i) =>
          max(when(col("__cum") * 1000L >= lit(p) * col("__n"), col("__q")))
            .as(s"q_thresh_$i")
        }.tail: _*)
  }

  /** Per-group twin of [[scoreQuantileThresholdOn]]: each key keeps
    * its own top p‰ (the per-source form a mix spec states so a large
    * high-scoring source cannot crowd every other source out of the
    * cut). Same bounded shape — the histogram is (key × grid)-sized,
    * the windows partition by key over that tiny frame, and the
    * result is one row per key to broadcast-join back.
    */
  def scoreQuantileThresholdBy(
      scored: DataFrame, keyCol: String, scoreCol: String,
      keepPermille: Long): DataFrame = {
    require(keepPermille >= 0L && keepPermille <= 1000L,
      s"keepPermille must be in [0, 1000], got $keepPermille")
    val hist = scored.groupBy(col(keyCol), col(scoreCol).cast("long").as("__q"))
      .agg(count(lit(1)).as("__cnt"))
    val wCum = Window.partitionBy(col(keyCol)).orderBy(col("__q").desc)
    val wAll = Window.partitionBy(col(keyCol))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .filter(col("__cum") * 1000L >= lit(keepPermille) * col("__n"))
      .groupBy(col(keyCol))
      .agg(max(col("__q")).as("q_thresh"))
  }

  /** Filter to the ties-inclusive top p‰ by `scoreCol`. The scored
    * frame feeds both the histogram and the filter — callers whose
    * score projection is expensive should `.persistScoped()` it
    * (references recompute their projection otherwise).
    */
  def quantileFilterOn(
      scored: DataFrame, scoreCol: String, keepPermille: Long): DataFrame =
    scored
      .crossJoin(broadcast(scoreQuantileThresholdOn(scored, scoreCol, keepPermille)))
      .filter(col(scoreCol) >= col("q_thresh"))
      .drop("q_thresh")

  /** Per-key [[quantileFilterOn]]: broadcast the per-key thresholds
    * back onto the corpus (inner join — every key with rows has a
    * threshold, and at least its top tie group always survives).
    */
  def quantileFilterBy(
      scored: DataFrame, keyCol: String, scoreCol: String,
      keepPermille: Long): DataFrame =
    scored
      .join(broadcast(scoreQuantileThresholdBy(scored, keyCol, scoreCol, keepPermille)),
        Seq(keyCol))
      .filter(col(scoreCol) >= col("q_thresh"))
      .drop("q_thresh")

  /** Gate row: global top-[[quantileKeepPermille]]‰ cut on the TTR
    * permille grid ([[ttrPermilleSql]] — the shared quality score),
    * reported as a per-source rollup plus the threshold itself, so
    * the differential check pins the threshold, the ties-inclusive
    * kept set, AND its score mass in one row set.
    */
  def quantileSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", expr(ttrPermilleSql("text")).as("q"))
      .persistScoped()
    val th = scoreQuantileThresholdOn(scored, "q", quantileKeepPermille)
    val keptAgg = scored.crossJoin(broadcast(th))
      .filter($"q" >= $"q_thresh")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"q").as("sum_kept_q"))
    scored.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(keptAgg, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept", "sum_kept_q"))
      .crossJoin(broadcast(th))
      .select($"source", $"n_docs", $"n_kept", $"sum_kept_q", $"q_thresh")
      .orderBy($"source")
  }

  private val quantileSelectSql =
    s"""WITH d AS (SELECT doc_id, source,
       |    (1000 * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
       |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS q
       |  FROM documents),
       |h AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
       |c AS (SELECT q,
       |    CAST(SUM(cnt) OVER (ORDER BY q DESC) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM h),
       |t AS (SELECT MAX(q) AS qt FROM c WHERE cum * 1000 >= $quantileKeepPermille * n)
       |SELECT source,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN q >= (SELECT qt FROM t) THEN 1 END) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN q >= (SELECT qt FROM t) THEN q END), 0) AS BIGINT)
       |    AS sum_kept_q,
       |  (SELECT qt FROM t) AS q_thresh
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Gate row: per-source top-[[quantileKeepPerSourcePermille]]‰ cut —
    * every source gets its own threshold, so the rollup pins one
    * independent quantile computation per source in a single row set.
    */
  def quantileSelectBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", expr(ttrPermilleSql("text")).as("q"))
      .persistScoped()
    val th = scoreQuantileThresholdBy(
      scored, "source", "q", quantileKeepPerSourcePermille)
    val keptAgg = scored.join(broadcast(th), Seq("source"))
      .filter($"q" >= $"q_thresh")
      .groupBy($"source", $"q_thresh")
      .agg(count(lit(1)).as("n_kept"), sum($"q").as("sum_kept_q"))
    scored.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(keptAgg, Seq("source"))
      .select($"source", $"n_docs", $"n_kept", $"sum_kept_q", $"q_thresh")
      .orderBy($"source")
  }

  private val quantileBySourceSql =
    s"""WITH d AS (SELECT doc_id, source,
       |    (1000 * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
       |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS q
       |  FROM documents),
       |h AS (SELECT source, q, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
       |c AS (SELECT source, q,
       |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY q DESC) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h),
       |t AS (SELECT source, MAX(q) AS q_thresh FROM c
       |      WHERE cum * 1000 >= $quantileKeepPerSourcePermille * n GROUP BY 1)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN d.q >= t.q_thresh THEN 1 END) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN d.q >= t.q_thresh THEN d.q END), 0) AS BIGINT)
       |    AS sum_kept_q,
       |  t.q_thresh AS q_thresh
       |FROM d JOIN t USING (source) GROUP BY d.source, t.q_thresh ORDER BY 1""".stripMargin

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_text_quantile_filter", quantileSelect, Some(quantileSelectSql)),
    CatalogEntry("q_text_quantile_by_source", quantileSelectBySource,
      Some(quantileBySourceSql)),
    CatalogEntry("q_text_perceptron", perceptronClassifier, Some(perceptronSql)),
    CatalogEntry("q_text_entropy", wordEntropy, Some(wordEntropySql)),
    CatalogEntry("q_text_bpe", bpeMerges, Some(bpeSql)),
    CatalogEntry("q_text_bpe_batched", bpeMergesBatched, Some(bpeSql)),
    CatalogEntry("q_text_bpe_encode", bpeTokenCounts, Some(bpeEncodeSql)),
    CatalogEntry("q_text_cdc_chunks", cdcChunks, Some(cdcChunksSql)),
    CatalogEntry("q_text_collocations", collocations, Some(collocationsSql)),
    CatalogEntry("q_text_drift", sourceDrift, Some(sourceDriftSql)),
    CatalogEntry("q_text_span_dedup", spanDedup, Some(spanDedupSql)),
    CatalogEntry("q_text_dup_ngram", dupNgramFrac, Some(dupNgramFracSql)),
    CatalogEntry("q_text_mixture", languageMixture, Some(languageMixtureSql)),
    CatalogEntry("q_text_dsir", dsirSelect, Some(dsirSql)),
    CatalogEntry("q_text_report", corpusReport, Some(corpusReportSql)),
    CatalogEntry("q_text_epochs", epochMixture, Some(epochMixtureSql)),
    CatalogEntry("q_text_token_budget", tokenBudgetSelect, Some(tokenBudgetSql)),
    CatalogEntry("q_text_token_budget_binned", tokenBudgetSelectBinned, Some(tokenBudgetSql)),
    CatalogEntry("q_text_pack", packChunks, Some(packChunksSql)),
    CatalogEntry("q_text_window_chunk", windowChunks, Some(windowChunksSql)),
    CatalogEntry("q_text_normalize", normalizeNfc, Some(normalizeNfcSql)),
    CatalogEntry("q_text_vocab", vocab, Some(vocabSql)),
    CatalogEntry("q_text_source_quota", sourceQuota, Some(sourceQuotaSql)),
    CatalogEntry("q_text_lm_rarity", lmRarity, Some(lmRaritySql)),
    CatalogEntry("q_text_repetition", repetition, Some(repetitionSql)),
    CatalogEntry("q_text_boilerplate", boilerplate, Some(boilerplateSql)),
    CatalogEntry("q_text_bigram_lm", bigramStats, Some(bigramStatsSql)),
    CatalogEntry("q_text_pii", pii, Some(piiSql)),
    CatalogEntry("q_text_tfidf", tfidf, Some(tfidfSql)),
    CatalogEntry("q_text_bm25", bm25, Some(bm25Sql)),
    CatalogEntry("q_text_bm25_serve", bm25ServeRow, Some(bm25Sql)),
    CatalogEntry("q_text_bm25_incr", bm25IncrRow, Some(bm25Sql)),
    CatalogEntry("q_text_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    CatalogEntry("q_text_hybrid_serve", hybridServeRow, Some(hybridRrfSql)),
    CatalogEntry("q_text_stats", stats, Some(statsSql)),
    CatalogEntry("q_text_lang_id", langId, Some(langIdSql)),
    CatalogEntry("q_text_quality", quality, Some(qualitySql)),
    CatalogEntry("q_text_tokens", tokens, Some(tokensSql)),
    CatalogEntry("q_text_fingerprint", fingerprint, Some(fingerprintSql)))
}
