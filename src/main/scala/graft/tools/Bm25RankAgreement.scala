package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures HOW FAR the engine's BM25 ranking diverges from a
  * standard ln-idf BM25 for multi-term queries (r16 verdict ask #5).
  *
  * The engine's idf is the log-free exact-integer odds ratio
  * (2N−2df+1)/(2df+1) — deliberately NOT rank-equivalent to
  * ln((N−df+0.5)/(df+0.5)) for multi-term sums, because ln() is
  * libm-dependent and would break the bit-exact differential hash
  * gate (`TextAnalysis.bm25`'s scaladoc). A sum of odds ratios
  * weights rare terms more steeply than a sum of logs, so top-k sets
  * can diverge from an external ln-based retriever. Eval-hygiene
  * users of `bm25_select`/`bm25_decontaminate` need a NUMBER for that
  * divergence, not a caveat.
  *
  * Method: score the same (query, doc) candidate sets both ways —
  * engine ranks straight from `bm25RanksOn` (the shipped path), ln
  * ranks recomputed in plain Scala on the collected term-level rows
  * (OFF the hash path: tf, df, len, N, toks are exact integers either
  * way; only the idf transform differs). The probe first re-derives
  * the engine's own s6 in Scala from the same rows and asserts exact
  * equality per (query, doc) — so the comparison provably scores
  * identical inputs. Report top-k overlap |topOdds ∩ topLn| / k at
  * k = 5/20/100 across query lengths 1/2/4/8, on two corpora:
  *
  *  - the FIXTURE documents table (its ~31-word vocabulary makes
  *    every term common — df/N large, ln-idf near or below zero,
  *    the regime where the formulas disagree most);
  *  - a SYNTHETIC skewed-vocabulary corpus (rare + common terms mixed
  *    — the deployment-shaped regime, hash-text convention of
  *    [[Bm25PruneProbe]]).
  *
  * TWO external comparators, because "ln-based BM25" is itself two
  * different deployed systems:
  *
  *  - `raw_ln` — Robertson–Walker ln((N−df+0.5)/(df+0.5)), which goes
  *    NEGATIVE for df > N/2. A negative idf inverts the per-term doc
  *    ranking (score = idf·sat ranks by sat ASCENDING when idf < 0),
  *    so even SINGLE-term rank-equivalence only holds while
  *    df ≤ N/2 — the probe's first run measured 0.0000 overlap on the
  *    fixture at every k and query length for exactly this reason
  *    (31-word vocabulary ⇒ every term has df ≈ N). This is the
  *    known negative-idf degeneracy of textbook BM25, not an engine
  *    artifact.
  *  - `lucene` — ln(1 + (N−df+0.5)/(df+0.5)), Lucene's clamp, always
  *    positive. Against it, single-term queries MUST overlap 1.0
  *    (both idfs are positive constants per query, so per-term doc
  *    order is the saturation order in both systems) — that row is
  *    the probe's sanity pin; only the multi-term sum can diverge.
  *
  * A third cell, `lucene_mode_vs_lucene` (r18), scores the SHIPPED
  * serve-time `idfMode = "lucene"` path against the external Lucene
  * comparator: measured 1.0 mean AND min at every k and query length
  * on both corpora (`tools/bm25_rank_agreement_r18.json`) — users who
  * need rank-compatibility with an external ln-idf retriever get it
  * exactly by passing the mode, with the frozen index untouched.
  *
  * Usage: Bm25RankAgreement [fixtureDir=/root/testdata/sf0.01]
  *   (env: SPARK_GRAFT_CPUS)
  */
object Bm25RankAgreement {

  private case class Hit(queryId: Long, docId: Long, tf: Long, df: Long, len: Long)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    import spark.implicits._

    val fixture = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    // skewed synthetic: squaring the uniform draw concentrates mass at
    // low term ids (zipf-ish), so queries mix rare and common terms
    val vocab = 20000L
    val synth = spark.range(0L, 50000L).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 until 20).map { p =>
          val h = pmod(xxhash64(col("doc_id") * 7919L + p), lit(vocab))
          concat(lit("t"), (h * h).divide(lit(vocab)).cast("long"))
        }: _*))

    def corpusReport(name: String, docsRaw: DataFrame): Unit = {
      val docs = docsRaw.persist()
      val words = docs.select($"doc_id", split($"text", " ").as("words"))
      val Array(n, toks) = words
        .agg(count(lit(1)), sum(size($"words").cast("long")))
        .as[(Long, Long)].head() match { case (a, b) => Array(a, b) }
      for (qLen <- Seq(1, 2, 4, 8)) {
        val qDocs = docs.filter($"doc_id" % 97 === 3 && $"doc_id" < 100000)
        // engine ranks off the SHIPPED path (full rank list, no cut)
        val engine = graft.ops.TextAnalysis
          .bm25RanksOn(docs, qDocs, queryTokens = qLen)
          .select($"query_id", $"doc_id", $"s6", $"rank")
          .as[(Long, Long, Long, Long)].collect()
        // the r18 serve-time lucene mode, off the SAME shipped path —
        // its agreement vs the external Lucene comparator must be 1.0
        // by construction (same formula, s6-rounded)
        val engineLucene = graft.ops.TextAnalysis
          .bm25RanksOn(docs, qDocs, queryTokens = qLen, idfMode = "lucene")
          .select($"query_id", $"doc_id", $"s6", $"rank")
          .as[(Long, Long, Long, Long)].collect()
        // term-level rows for the same queries, for the off-path rescore
        val queries = words
          .filter($"doc_id" % 97 === 3 && $"doc_id" < 100000)
          .select($"doc_id".as("query_id"),
            explode(slice($"words", 1, qLen)).as("term")).distinct()
        val postings = words
          .select($"doc_id", size($"words").cast("long").as("len"),
            explode($"words").as("term"))
          .join(broadcast(queries.select($"term").distinct()), Seq("term"))
          .groupBy($"term", $"doc_id", $"len").agg(count(lit(1)).as("tf"))
        val dfreq = postings.groupBy($"term").agg(count(lit(1)).as("df"))
        val hits = postings.join(broadcast(dfreq), Seq("term"))
          .join(broadcast(queries), Seq("term"))
          .select($"query_id", $"doc_id", $"tf", $"df", $"len")
          .as[(Long, Long, Long, Long, Long)].collect()
          .map(h => Hit(h._1, h._2, h._3, h._4, h._5))
        graft.CacheScope.drain()

        // both scores from identical integer inputs; sat is the exact
        // engine chain, idf is the one formula under test
        def sat(tf: Long, len: Long): Double =
          (tf.toDouble * 2.2) /
            (tf.toDouble + 1.2 * (0.25 + 0.75 * (len.toDouble * n.toDouble / toks.toDouble)))
        def odds(df: Long): Double =
          (2.0 * n - 2.0 * df + 1.0) / (2.0 * df + 1.0)
        def wOdds(h: Hit): Double = odds(h.df) * sat(h.tf, h.len)
        def wLn(h: Hit): Double = math.log(odds(h.df)) * sat(h.tf, h.len)
        def wLucene(h: Hit): Double = math.log1p(odds(h.df)) * sat(h.tf, h.len)

        val byQuery = hits.groupBy(_.queryId)
        // faithfulness pin: Scala-recomputed s6 == engine s6, per pair
        val engineS6 = engine.map(e => (e._1, e._2) -> e._3).toMap
        val recomputed = byQuery.iterator.flatMap { case (q, hs) =>
          hs.groupBy(_.docId).map { case (d, rows) =>
            (q, d) -> rows.map(h => math.round(wOdds(h) * 1e6)).sum
          }
        }.toMap
        require(recomputed == engineS6,
          s"$name qLen=$qLen: probe recomputation diverged from the " +
            "engine path — the comparison would not be scoring the " +
            "shipped ranking")

        val ks = Seq(5, 20, 100)
        val engineByQ = engine.groupBy(_._1)
        val engineLucByQ = engineLucene.groupBy(_._1)
        def overlapReport(ranksByQ: Map[Long, Array[(Long, Long, Long, Long)]],
            scoreOf: Hit => Double): Seq[(Double, Double)] = {
          val perQuery = byQuery.toSeq.sortBy(_._1).map { case (q, hs) =>
            val extRank = hs.groupBy(_.docId).toSeq
              .map { case (d, rows) => (d, rows.map(scoreOf).sum) }
              .sortBy { case (d, sc) => (-sc, d) }.map(_._1)
            val engRank = ranksByQ(q).sortBy(_._4).map(_._2).toSeq
            ks.map { k =>
              val kk = math.min(k, engRank.size)
              if (kk == 0) 1.0
              else engRank.take(kk).toSet.intersect(extRank.take(kk).toSet).size.toDouble / kk
            }
          }
          val nQ = perQuery.size.max(1)
          ks.indices.map(i =>
            perQuery.map(_(i)).sum / nQ -> perQuery.map(_(i)).minOption.getOrElse(1.0))
        }
        val nQ = byQuery.size
        val cells = Seq(
            "raw_ln" -> overlapReport(engineByQ, wLn),
            "lucene" -> overlapReport(engineByQ, wLucene),
            "lucene_mode_vs_lucene" -> overlapReport(engineLucByQ, wLucene))
          .map { case (label, agg) =>
          val inner = ks.zip(agg).map { case (k, (mean, min)) =>
            f""""k$k":{"mean":$mean%.4f,"min":$min%.4f}""" }.mkString(",")
          s""""$label":{$inner}"""
        }.mkString(",")
        println(s"""{"corpus":"$name","n_docs":$n,"q_len":$qLen,"queries":$nQ,$cells}""")
      }
      docs.unpersist()
    }

    corpusReport("fixture", fixture)
    corpusReport("synthetic_skewed", synth)
    spark.stop()
  }
}
