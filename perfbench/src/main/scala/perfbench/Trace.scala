package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** In-memory span and counter recorder for the traced run.
  *
  * A span wraps one call the benchmark makes into a layer of the
  * program: name, start, end (epoch-aligned nanoseconds), the span that
  * was open on the same thread when it started (its parent), and the
  * operation it belongs to. A counter is a number read at the same
  * boundary (rows returned, blocks drained, Catalyst phase times).
  * Nothing is recorded while tracing is off, so the untraced run pays
  * one branch per boundary. Everything is written once, when the run
  * ends.
  */
object Trace {
  @volatile var on: Boolean = false

  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long)
  final case class Counter(op: Long, name: String, value: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentLinkedQueue[Counter]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  // System.nanoTime is monotonic but not epoch-aligned; listener times
  // are epoch millis, so spans carry both on one clock
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  def span[A](name: String, op: Long)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val t0 = nowNs()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, nowNs()))
        open.set(parent)
      }
    }

  def count(op: Long, name: String, value: Double): Unit =
    if (on) counters.add(Counter(op, name, value))

  def write(dir: String): Unit = {
    val sp = new PrintWriter(s"$dir/spans.jsonl", "UTF-8")
    try spans.asScala.foreach { s =>
      sp.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally sp.close()
    val cw = new PrintWriter(s"$dir/counters.jsonl", "UTF-8")
    try counters.asScala.foreach { c =>
      cw.println(s"""{"op":${c.op},"name":${Json.str(c.name)},"value":${Json.num(c.value)}}""")
    } finally cw.close()
  }
}

/** Spark job, stage and task metrics for the traced run.
  *
  * Jobs carry the job group the benchmark set on its own thread
  * (`op-<id>-<phase>`), so catalog and index work is attributed per
  * operation. Jobs started by the scheduler's pool threads or a
  * streaming query carry no benchmark group; they are attributed by
  * the call site Spark records for the SQL execution that caused them
  * (for example `count at PipelineRunner.scala:96`), or else by the
  * call site of their last stage.
  */
final class SparkProbe extends SparkListener {
  private final class Job(val id: Int, val group: String, val stages: Seq[Int],
      val callSite: String, val execution: Long, val start: Long) {
    var end = 0L
    var ok = false
  }
  private final class Stage(val id: Int) {
    var name = ""
    var rdds = ""
    var submitted = 0L
    var completed = 0L
    var tasks = 0
    var waitMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes, inRecs, outBytes, outRecs, shR, shW, spill = 0L
  }
  private val lock = new Object
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  // SQL execution id -> the action's call site. Jobs that adaptive
  // execution submits from its own threads carry a useless stage call
  // site, but keep the execution id of the action that caused them.
  private val executions = scala.collection.mutable.Map.empty[Long, String]
  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val last = e.stageInfos.maxBy(_.stageId)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, group, e.stageIds, last.name, exec, e.time)
    e.stageInfos.foreach { si =>
      val s = stage(si.stageId)
      s.name = si.name
      s.rdds = si.rddInfos.map(_.name).mkString("|")
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      lock.synchronized { executions(x.executionId) = x.description }
    case _ =>
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      stage(e.stageInfo.stageId).submitted =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.tasks += 1
    if (s.submitted > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecs += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecs += m.outputMetrics.recordsWritten
      s.shR += m.shuffleReadMetrics.totalBytesRead
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val s = stage(e.stageInfo.stageId)
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitted == 0L) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
    }

  def write(dir: String): Unit = lock.synchronized {
    val jw = new PrintWriter(s"$dir/jobs.jsonl", "UTF-8")
    try jobs.values.foreach { j =>
      val site = executions.getOrElse(j.execution, j.callSite)
      jw.println(s"""{"job":${j.id},"group":${Json.str(j.group)},""" +
        s""""call_site":${Json.str(site)},"start_ms":${j.start},""" +
        s""""end_ms":${j.end},"ok":${j.ok},"stages":[${j.stages.mkString(",")}]}""")
    } finally jw.close()
    val sw = new PrintWriter(s"$dir/stages.jsonl", "UTF-8")
    try stages.values.filter(_.completed > 0).foreach { s =>
      sw.println(s"""{"stage":${s.id},"name":${Json.str(s.name)},"rdds":${Json.str(s.rdds)},""" +
        s""""submitted_ms":${s.submitted},"completed_ms":${s.completed},""" +
        s""""tasks":${s.tasks},"task_wait_ms":${s.waitMs},"task_run_ms":${s.runMs},""" +
        s""""task_cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"input_bytes":${s.inBytes},""" +
        s""""input_rows":${s.inRecs},"output_bytes":${s.outBytes},"output_rows":${s.outRecs},""" +
        s""""shuffle_read_bytes":${s.shR},"shuffle_write_bytes":${s.shW},"spill_bytes":${s.spill}}""")
    } finally sw.close()
  }
}

/** Minimal JSON writing for the benchmark's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  /** A result value: timestamps as UTC ISO-8601 (microseconds only
    * when non-zero), floats widened exactly, NaN as null. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      val ldt = java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
      val base = ldt.withNano(0).format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      str(if (ldt.getNano == 0) base else f"$base.${ldt.getNano / 1000}%06d")
    case d: java.sql.Date => str(s"${d.toLocalDate}T00:00:00")
    case a: Array[Byte] => str(a.map("%02x".format(_)).mkString)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
