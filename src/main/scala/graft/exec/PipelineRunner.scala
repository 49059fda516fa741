package graft.exec

import graft.CacheScope
import graft.CacheScope.Scoped
import graft.connect.Sources
import graft.model._
import graft.store.{HistoryEvent, Repository}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import java.time.Instant

/** The reference's value-sanitization semantics (core/utils.py:6-15,
  * applied to every loaded frame at core/loaders/sqlserver.py:245;
  * SURVEY.md §1.3) as a columnar projection — NOT a per-cell UDF:
  *   - null timestamp → 1900-01-01 (NaT rule)
  *   - non-null timestamp → truncated to seconds
  *   - null string → "" (the reference maps *every* NA to "")
  * Off by default; pipelines keep standard SQL nulls unless a LoadStep
  * sets `sanitize: true`. Numeric nulls are left as nulls — the
  * reference's ""-for-numeric-null only "works" by landing in NVARCHAR;
  * divergence documented here and asserted in SanitizeSpec.
  */
object Sanitize {
  def apply(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType =>
          date_trunc("second",
            coalesce(col(f.name), lit("1900-01-01 00:00:00").cast("timestamp")))
            .as(f.name)
        case StringType => coalesce(col(f.name), lit("")).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}

/** Named-transform registry — the idiomatic replacement for the
  * reference's arbitrary-python transform (core/engine.py:144-162,
  * SURVEY.md §2.A A10): extension = registered Scala functions, never
  * eval.
  */
final class TransformRegistry {
  private var transforms = Map.empty[String, DataFrame => DataFrame]
  def register(name: String, fn: DataFrame => DataFrame): Unit =
    transforms += (name -> fn)
  def apply(name: String): DataFrame => DataFrame =
    transforms.getOrElse(name,
      throw new IllegalArgumentException(s"unknown transform '$name'"))
}

final case class RunResult(taskId: String, status: String, message: String)

/** Pipeline executor ≅ EtlEngine.run_task (core/engine.py:35-96,
  * SURVEY.md §3): sort steps by order, thread the frame through, write
  * history running→success/error, error reraises after logging.
  *
  * The crucial divergence from the reference: steps build ONE lazy
  * Catalyst plan — nothing materializes until a Load action, so filter/
  * projection pushdown crosses step boundaries (the reference fully
  * materializes between steps, core/engine.py:49-52). A frame feeding
  * multiple loads can be cached via the "cache" transform.
  */
final class PipelineRunner(
    spark: SparkSession,
    repo: Repository,
    registry: TransformRegistry = new TransformRegistry) {

  def runById(id: String): RunResult = // ≅ run_task_by_id, core/engine.py:28-30
    run(repo.getPipeline(id).getOrElse(
      throw new IllegalArgumentException(s"unknown pipeline '$id'")))

  /** One run is one [[CacheScope]]: the loads inside it are the
    * run's terminal actions, so whatever its steps persisted is
    * released when it ends — a later run re-reads its sources instead
    * of serving the blocks this run cached. */
  def run(p: PipelineSpec): RunResult = {
    val started = Instant.now()
    repo.appendHistory(HistoryEvent(p.id, started, None, "running", "started"))
    try CacheScope.scoped {
      val ordered = p.steps.sortBy(_.order) // ≅ core/engine.py:49
      // per connection: how many loads would share its connection-level
      // checkpoint — feeds StreamingLoad's sole-load legacy adoption
      val sharedCkLoads = ordered
        .collect { case l: LoadStep if !l.options.contains("checkpointLocation") =>
          l.connectionId }
        .groupBy(identity).view.mapValues(_.size).toMap
      ordered.foldLeft(Option.empty[DataFrame]) { (data, step) =>
        val next = runStep(data, step, sharedCkLoads)
        step match {
          case t: TransformStep if t.audit =>
            // per-stage retention accounting (see TransformStep.audit):
            // the count is an extra action by design; streaming frames
            // cannot be counted — refuse instead of silently skipping
            val frame = next.get
            require(!frame.isStreaming,
              s"transform '${t.name}': audit=true is unsupported on a " +
                "streaming frame (counting forces execution); audit the " +
                "batch twin or the landed output instead")
            val n = frame.count()
            repo.appendHistory(HistoryEvent(p.id, Instant.now(),
              Some(Instant.now()), "audit", s"step '${t.name}': rows=$n"))
          case _ => ()
        }
        next
      }
      repo.appendHistory(HistoryEvent(p.id, started, Some(Instant.now()), "success",
        s"${ordered.size} steps"))
      RunResult(p.id, "success", s"${ordered.size} steps")
    } catch {
      case e: Exception =>
        repo.appendHistory(HistoryEvent(p.id, started, Some(Instant.now()), "error",
          String.valueOf(e.getMessage)))
        throw e // ≅ history+reraise, core/engine.py:68-76
    }
  }

  private def connection(id: String): ConnectionSpec =
    repo.getConnection(id).getOrElse(
      throw new IllegalArgumentException(s"unknown connection '$id'"))

  private def runStep(data: Option[DataFrame], step: StepSpec,
      sharedCkLoads: Map[String, Int] = Map.empty): Option[DataFrame] =
    step match {
      case e: ExtractStep =>
        Some(Sources.read(spark, connection(e.connectionId), e))
      case t: TransformStep =>
        val df = data.getOrElse(throw new IllegalStateException(
          s"transform '${t.name}' has no upstream frame"))
        t.kind match {
          case "sql" =>
            Some(PipelineRunner.sqlOverInput(spark, df, t.sql.getOrElse(
              throw new IllegalArgumentException(s"transform '${t.name}': sql required"))))
          case "named" =>
            Some(registry(t.transformName.getOrElse(
              throw new IllegalArgumentException(
                s"transform '${t.name}': transformName required")))(df))
          case "cache" => Some(df.persistScoped())
          case other => // ≅ unknown-transform guard, core/engine.py:160-162
            throw new IllegalArgumentException(s"unknown transform kind '$other'")
        }
      case l: LoadStep =>
        val df = data.getOrElse(throw new IllegalStateException(
          s"load '${l.name}' has no upstream frame"))
        val out = if (l.sanitize) Sanitize(df) else df
        // a streaming frame (extract had streaming=true) runs as an
        // AvailableNow incremental drain — bounded, so the scheduled
        // run still completes and writes its history row
        if (out.isStreaming)
          graft.streaming.StreamingLoad.write(out, connection(l.connectionId), l,
            soleConnectionLoad = sharedCkLoads.getOrElse(l.connectionId, 1) <= 1)
        else Sources.write(out, connection(l.connectionId), l)
        Some(df) // frame keeps flowing (a pipeline may load twice)
    }
}

object PipelineRunner {
  private val inputViewLock = new Object

  /** Runs a `sql` step's query against its frame, bound as the session
    * temp view `input`. The view name is shared by every pipeline on
    * the session and the scheduler runs pipelines concurrently, so
    * binding and analysis happen under one lock; analysis is eager,
    * so the returned frame keeps its own input after the view is
    * dropped.
    */
  private def sqlOverInput(spark: SparkSession, df: DataFrame, sql: String): DataFrame =
    inputViewLock.synchronized {
      df.createOrReplaceTempView("input")
      try spark.sql(sql)
      finally spark.catalog.dropTempView("input")
    }
}
