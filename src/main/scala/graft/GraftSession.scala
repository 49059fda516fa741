package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory the mains, tools and specs share. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, no UI and WARN logging; `extra` confs are applied last, so
    * they may override any of these.
    */
  def local(cpus: Int = envCpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
