package perfbench

import graft.CacheScope
import org.apache.spark.sql.DataFrame

/** Catalog rows as timed operations: build the row's DataFrame, then
  * collect every column of every row. `.count()` is never used: it lets
  * Catalyst prune projections and sorts, and at sf0.1 it reads 4-5x
  * faster than the full result on text and pricing rows. */
final class CatalogRows(h: Harness, names: Seq[String]) {
  private val entries = names.map(n => n -> graft.Catalog.byName.getOrElse(n,
    throw new IllegalArgumentException(s"unknown catalog row $n")))
  val results = new FirstResults(h)

  /** Run every row once. In the warm pass (`h.warm`) nothing is
    * recorded, but results are still compared with later passes. */
  def pass(round: Int): Unit = entries.foreach { case (name, e) =>
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val rec = h.timed("query", name, round) { id =>
      h.group(id, "build")
      df = Trace.span("ops.build", id)(e.fn(h.spark, h.dataDir))
      h.group(id, "materialize")
      rows = Trace.span("ops.materialize", id)(df.collect())
      rows.length.toLong
    }
    if (rec.ok) {
      if (Trace.on && !h.warm) {
        val phases = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => Trace.count(rec.id, s"catalyst.${p}_ms",
            s.durationMs.toDouble))
        }
      }
      results.add(name, round, Kept(df.schema, rows))
    }
    // each row is self-contained: drop what it persisted before the next
    val drained = CacheScope.drain()
    h.spark.sharedState.cacheManager.clearCache()
    if (!h.warm) Trace.count(rec.id, "ops.cached_blocks", drained.toDouble)
  }

  /** The rows' DuckDB oracle SQL (`SparkEntry.oracleSql`). */
  def oracle: Map[String, String] =
    entries.flatMap { case (n, e) => e.oracle.map(n -> _) }.toMap
}

object CatalogRows {
  /** One short row each from the relational, SQL-surface, join,
    * aggregate, window and event families. */
  val sql: Seq[String] = Seq(
    "q1_pricing", "q_sql_cte", "q_join_inner", "q_agg_rollup", "q_win_rank", "q_evt_funnel")

  /** The heavy curation row: MinHash near-duplicate detection, whose
    * DuckDB oracle is cheap (BM25 runs through the index lifecycle). */
  val curation: Seq[String] = Seq("q_dedup_minhash")
}
