package perfbench

import graft.ops.TextAnalysis
import org.apache.spark.sql.DataFrame

/** Every native expression and sketch aggregate `GraftExtensions`
  * registers, applied once over `documents`, `embeddings` or `events`.
  * Each query keeps the function's output in a column the check can
  * read (`v`), so the function cannot be pruned away. The DuckDB side
  * of each check lives in `perfbench/oracle.py` under the same name. */
object NativeFunctions {
  private val prio = "pmod(event_id * 2654435761, 1099511627776)"
  private val cents = "CAST(round(value * 100) AS BIGINT)"
  private val pairs =
    "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1"

  val queries: Seq[(String, String)] = Seq(
    "tsql_isnull" -> """SELECT doc_id, tsql_isnull(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END, 'none') AS v FROM documents""",
    "hamming64" -> """SELECT doc_id, hamming64(doc_id * 2654435761, n_chars * 40503) AS v FROM documents""",
    "bridged_dot" -> s"SELECT a.vec_id, bridged_dot(a.embedding, b.embedding) AS v $pairs",
    "quantize1e4" -> """SELECT vec_id, array_join(quantize1e4(embedding), ',') AS v FROM embeddings""",
    "dot64" -> s"SELECT a.vec_id, dot64(quantize1e4(a.embedding), quantize1e4(b.embedding)) AS v $pairs",
    "sqdist64" -> s"SELECT a.vec_id, sqdist64(quantize1e4(a.embedding), quantize1e4(b.embedding)) AS v $pairs",
    "simhash64" -> """SELECT doc_id, simhash64(split(text, ' ')) AS v FROM documents""",
    "nfc_normalize" -> """SELECT doc_id, nfc_normalize(text) AS v FROM documents""",
    "damerau_lev" -> """SELECT a.doc_id, damerau_lev(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS v FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",
    "kmv_distinct" -> """SELECT lang, kmv_distinct(n_chars, 2048) AS v FROM documents GROUP BY lang""",
    "kmv_state" -> """SELECT lang, source, octet_length(kmv_state(n_chars, 2048)) AS v FROM documents GROUP BY lang, source""",
    "kmv_merge" -> """SELECT lang, kmv_merge(st, 2048) AS v FROM (SELECT lang, source, kmv_state(n_chars, 2048) AS st FROM documents GROUP BY lang, source) GROUP BY lang""",
    "freq_topk" -> """SELECT lang, freq_topk(source, 3, 64) AS v FROM documents GROUP BY lang""",
    "bks_quantile" -> s"SELECT event_type, bks_quantile($prio, $cents, 500) AS v FROM events GROUP BY event_type",
    "bks_state" -> s"SELECT event_type, octet_length(bks_state($prio, $cents)) AS v FROM events GROUP BY event_type",
    "bks_quantile_merge" -> s"SELECT event_type, bks_quantile_merge(st, 500) AS v FROM (SELECT event_type, CAST(ts AS DATE) AS day, bks_state($prio, $cents) AS st FROM events GROUP BY event_type, CAST(ts AS DATE)) GROUP BY event_type",
    // a Bloom filter has no false negatives: every inserted key is found
    "bloom_agg" -> """SELECT count_if(bloom_contains((SELECT bloom_agg(xxhash64(doc_id), 5000, 65536) FROM documents), xxhash64(doc_id))) AS v FROM documents""",
    // and few false positives: at most 1% of keys never inserted
    "bloom_contains" -> """SELECT CAST(count_if(bloom_contains((SELECT bloom_agg(xxhash64(doc_id), 5000, 65536) FROM documents WHERE doc_id % 2 = 0), xxhash64(doc_id))) * 100 <= count(*) AS INT) AS v FROM documents WHERE doc_id % 2 = 1""")
}

/** The native functions as timed operations, one per function. */
final class Functions(h: Harness) {
  val results = new FirstResults(h)

  def pass(round: Int): Unit = NativeFunctions.queries.foreach { case (name, sql) =>
    var res: Kept = null
    val rec = h.timed("function", name, round) { id =>
      val df = h.spark.sql(sql)
      res = Kept(df.schema, Trace.span(s"functions.$name", id)(df.collect()))
      res.rows.length.toLong
    }
    if (rec.ok) results.add(s"fn_$name", round, res)
  }
}

/** The BM25 index lifecycle on one round's fresh directory: append over
  * 3 disjoint batches, compaction (which folds every batch but the
  * newest), then serving of a seeded query batch: reads next to writes
  * on the same `GenerationalIndex` layout. */
final class IndexLifecycle(h: Harness) {
  import h.spark.implicits._
  private val spark = h.spark
  private val docs = graft.Tables.t(spark, h.dataDir, "documents").select($"doc_id", $"text")
  private val batches = 3
  private val docsPerBatch = Map(docs.groupBy($"doc_id" % batches).count()
    .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toSeq: _*)
  private def batch(b: Int): DataFrame = docs.filter($"doc_id" % batches === b)

  /** Seeded query batch: each query is the first 8 distinct words of a
    * random document, as the (query_id, term) rows `bm25Serve` reads. */
  val queries: DataFrame = {
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val rnd = new scala.util.Random(h.seed * 7919L + 17L)
    Seq.fill(16)(texts(rnd.nextInt(texts.length))).distinct.flatMap {
      case (id, text) => text.split(" ").take(8).distinct.map(t => (id, t))
    }.toDF("query_id", "term")
  }

  /** What each round served, for the checks. */
  val served = scala.collection.mutable.ArrayBuffer.empty[(Int, Kept)]

  def path(r: Int): String = s"${h.workDir}/index/r$r"

  def round(r: Int): Unit = {
    val p = path(r)
    (0 until batches).foreach { b =>
      h.timed("index_append", s"bm25_append_$b", r) { id =>
        Trace.span("ops.bm25_append", id)(TextAnalysis.maintainBm25Index(batch(b), p, b.toLong))
        docsPerBatch(b)
      }
    }
    h.timed("index_compact", "bm25_compact", r) { id =>
      Trace.span("ops.bm25_compact", id)(TextAnalysis.compactBm25Index(spark, p))
      0L
    }
    h.timed("index_serve", "bm25_serve", r) { id =>
      val df = TextAnalysis.bm25Serve(spark, queries, p)
      val rows = Trace.span("ops.bm25_serve", id)(df.collect())
      served += ((r, Kept(df.schema, rows)))
      rows.length.toLong
    }
    val (bytes, files) = Host.du(p)
    Trace.count(0, "connect.index_mb", bytes / 1e6)
    Trace.count(0, "connect.index_files", files.toDouble)
  }

  /** Untimed property checks after the timed phase: every round's grown
    * index serves exactly what a one-shot `saveBm25Index` over all
    * documents serves, and still does after the newest batch id is
    * replayed (appends are idempotent per batch id). */
  def verify(): Unit = {
    def digest(p: String): String = {
      val df = TextAnalysis.bm25Serve(spark, queries, p)
      Canon.digest(df.schema, df.collect())
    }
    val oneShot = s"${h.workDir}/index/oneshot"
    TextAnalysis.saveBm25Index(docs, oneShot)
    val want = digest(oneShot)
    h.check(served.nonEmpty && served.forall(_._2.rows.nonEmpty), "bm25 serve returned no rows")
    served.foreach { case (r, k) =>
      h.check(Canon.digest(k.schema, k.rows) == want,
        s"bm25 serve, round $r: grown index differs from one-shot saveBm25Index")
    }
    served.lastOption.foreach { case (r, _) =>
      TextAnalysis.maintainBm25Index(batch(batches - 1), path(r), (batches - 1).toLong)
      h.check(digest(path(r)) == want, s"replaying batch ${batches - 1} changed what round $r serves")
    }
  }
}
