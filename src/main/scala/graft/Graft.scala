package graft

import org.apache.spark.sql.SparkSession

/** User entry point and the one place a SparkSession is built: every
  * main, the benchmark and the test session start through here. On a
  * cluster, pair with `spark.sql.extensions=graft.GraftExtensions` (or
  * call `functions.GraftFunctions.register`). */
object Graft {

  /** The confs the library requires: parquet TIMESTAMP(NANOS) read as
    * long and pre-3.4 LTZ timestamp inference (both consumed by
    * `Relational.events`), and the UTC session timezone the oracles
    * align with. Shuffle partitions sized by the caller. */
  def builder(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if (shufflePartitions > 0) b.config("spark.sql.shuffle.partitions", shufflePartitions)
    else b
  }

  def session(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }

  /** The session a main runs in: `local[$SPARK_GRAFT_CPUS]` (default 4)
    * with as many shuffle partitions, no UI, log level WARN. `confs`
    * are the main's own; `SPARK_GRAFT_CONF="k=v,k=v"` is applied after
    * them, so a sweep can set or override any conf (ops and their
    * oracle SQL read `graft.*` knobs through the session, so a swept
    * knob stays in sync with its oracle). */
  def local(appName: String, confs: (String, String)*): SparkSession =
    local(appName, cpus, confs ++ parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))

  /** [[local]] with the core count and confs given, reading no
    * environment (the shared test session). */
  def local(appName: String, cpus: Int, confs: Seq[(String, String)]): SparkSession = {
    val b = builder(s"local[$cpus]", cpus).appName(appName).config("spark.ui.enabled", "false")
    val s = confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count from `$SPARK_GRAFT_CPUS` (default 4). */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive whole number, or a refusal naming the value: it goes
    * into the Spark master and, unquoted, into the bench JSON. */
  private[graft] def parseCpus(v: Option[String]): Int = v.fold(4) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a positive whole number, got '$s'"))
  }

  /** `k=v,k=v` pairs; an entry without `=` or with an empty key is
    * refused by name rather than dropped. */
  private[graft] def parseConf(v: String): Seq[(String, String)] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, value) if k.trim.nonEmpty => k.trim -> value.trim
        case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }
}
