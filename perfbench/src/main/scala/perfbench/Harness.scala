package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** One timed operation. A failed operation carries no time (`ms` is NaN
  * and is written as null) and is never part of any timing. */
final case class OpRec(id: Long, kind: String, name: String, round: Int,
    ok: Boolean, ms: Double, rows: Long, err: String)

/** One round of the workload's fixed work: its wall time, the CPU time
  * of the whole process and the bytes it wrote through write(2). */
final case class RoundRec(round: Int, ms: Double, writtenBytes: Long, cpuMs: Double)

/** A materialized result kept for the output check. */
final case class Kept(schema: StructType, rows: Array[Row])

/** The first result of each operation, kept for the oracle; every later
  * pass of the operation must return the same result. */
final class FirstResults(h: Harness) {
  val kept = scala.collection.mutable.LinkedHashMap.empty[String, Kept]
  private val digests = scala.collection.mutable.Map.empty[String, String]

  def add(name: String, round: Int, k: Kept): Unit = {
    val d = Canon.digest(k.schema, k.rows)
    digests.get(name) match {
      case None => digests(name) = d; kept(name) = k
      case Some(first) => h.check(first == d, s"$name: round $round returned a different result")
    }
  }
}

/** The closed-loop runner every workload runs on: one client thread,
  * each operation starts after the previous one returned. */
final class Harness(val spark: SparkSession, val dataDir: String,
    val workDir: String, val outDir: String, val seed: Long) {
  val ops = ArrayBuffer.empty[OpRec]
  val rounds = ArrayBuffer.empty[RoundRec]
  val problems = ArrayBuffer.empty[String]
  /** True during the untimed warm pass: operations run but are not recorded. */
  var warm = false
  private var opSeq = 0L
  private val sc = spark.sparkContext

  def nextOp(): Long = { opSeq += 1; opSeq }

  /** Attribute the jobs this thread starts to operation `op`, phase
    * `phase` (the traced run's listener reads the group back). */
  def group(op: Long, phase: String): Unit =
    sc.setJobGroup(s"op-$op-$phase", phase, interruptOnCancel = false)

  /** Time `body` as one operation. `body` returns the number of rows
    * it materialized or loaded. A throwing body is recorded as failed,
    * without a time. */
  def timed(kind: String, name: String, round: Int)(body: Long => Long): OpRec = {
    val id = nextOp()
    group(id, kind)
    val t0 = System.nanoTime()
    val rec =
      try {
        val rows = Trace.span(s"op.$kind", id)(body(id))
        OpRec(id, kind, name, round, ok = true, (System.nanoTime() - t0) / 1e6, rows, "")
      } catch {
        case e: Throwable =>
          OpRec(id, kind, name, round, ok = false, Double.NaN, 0L,
            String.valueOf(e.getMessage).take(300))
      } finally sc.clearJobGroup()
    if (!warm) ops += rec
    rec
  }

  /** Record an operation timed elsewhere (a scheduled pipeline run,
    * read back from its history rows). */
  def record(kind: String, name: String, round: Int, ok: Boolean, ms: Double,
      rows: Long, err: String): Unit =
    if (!warm) ops += OpRec(nextOp(), kind, name, round, ok, if (ok) ms else Double.NaN, rows, err)

  /** Fill in rows for operations whose row count is known only later. */
  def setRows(which: OpRec => Boolean, rows: OpRec => Long): Unit =
    ops.indices.foreach { i => if (which(ops(i))) ops(i) = ops(i).copy(rows = rows(ops(i))) }

  /** Run whole rounds until `seconds` have passed (at least one). */
  def loop(seconds: Double)(round: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      val w0 = Host.writtenBytes()
      val c0 = Host.cpuNs()
      val t0 = System.nanoTime()
      Trace.span("round", 0)(round(r))
      rounds += RoundRec(r, (System.nanoTime() - t0) / 1e6, Host.writtenBytes() - w0,
        (Host.cpuNs() - c0) / 1e6)
      r += 1
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  /** Write kept results as JSON lines for the oracle: a header with
    * the column names, then one array of values per row. */
  def dumpResults(kept: Iterable[(String, Kept)]): Unit = {
    Files.createDirectories(Paths.get(s"$outDir/results"))
    kept.foreach { case (name, k) =>
      val w = new PrintWriter(s"$outDir/results/$name.jsonl", "UTF-8")
      try {
        w.println(k.schema.fieldNames.map(Json.str).mkString("[", ",", "]"))
        k.rows.foreach(r => w.println(r.toSeq.map(Json.value).mkString("[", ",", "]")))
      } finally w.close()
    }
  }

  def writeRecords(): Unit = {
    val ow = new PrintWriter(s"$outDir/ops.jsonl", "UTF-8")
    try ops.foreach { o =>
      ow.println(Json.obj("id" -> o.id.toString, "kind" -> Json.str(o.kind),
        "name" -> Json.str(o.name), "round" -> o.round.toString,
        "ok" -> o.ok.toString, "ms" -> Json.num(o.ms), "rows" -> o.rows.toString,
        "err" -> Json.str(o.err)))
    } finally ow.close()
    val rw = new PrintWriter(s"$outDir/rounds.jsonl", "UTF-8")
    try rounds.foreach { r =>
      rw.println(Json.obj("round" -> r.round.toString, "ms" -> Json.num(r.ms),
        "written_bytes" -> r.writtenBytes.toString, "cpu_ms" -> Json.num(r.cpuMs)))
    } finally rw.close()
  }
}

/** Order-insensitive digest of a materialized result: columns sorted by
  * name, every row rendered, rows sorted. Two passes of one operation
  * must produce the same digest. */
object Canon {
  private def render(v: Any): String = v match {
    case null => "␀"
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }
  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Process-level readings from /proc (zeros where unavailable). */
object Host {
  private def read(p: String): Seq[String] =
    scala.util.Try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(p)).asScala.toSeq
    }.getOrElse(Nil)

  /** Bytes this process has passed to write(2) (`wchar`). */
  def writtenBytes(): Long =
    read("/proc/self/io").find(_.startsWith("wchar:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads), in nanoseconds. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (load1, steal ticks, total ticks) of the machine. */
  def sample(): (Double, Long, Long) = {
    val load1 = read("/proc/loadavg").headOption
      .flatMap(l => scala.util.Try(l.split(" ")(0).toDouble).toOption).getOrElse(0.0)
    val cpu = read("/proc/stat").find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    (load1, if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  }

  /** Directory size in bytes and file count (0, 0 when missing). */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
  }
}
