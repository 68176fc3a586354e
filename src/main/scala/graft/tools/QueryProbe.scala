package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Generic decade-timing main: run one registry query over a list of
 * scale dirs, min-of-2 warm runs each, one JSON line per dir, so every
 * op gets its decade numbers the same way (BASELINE.md scale-rehearsal
 * tables).
 *
 * Usage: runMain graft.tools.QueryProbe <queryName> <dir> [dir...]
 */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // wide-start/coalesce-down (see TpchSuite): decade probes span
      // sf1→sf100, and a fixed partition count cannot serve both ends
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS", "1024"))
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v,k=v" — session confs for knob rehearsals
    // (e.g. graft.semdedup.cellPop for the constant-population decade)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    val q = graft.SparkEntry.queries(name)
    def once(dir: String): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = q(spark, dir).agg(count(lit(1))).head().getLong(0)
      (n, (System.nanoTime() - t0) / 1e9)
    }
    args.drop(1).foreach { dir =>
      val (n1, t1) = once(dir); val (_, t2) = once(dir)
      println(f"""{"query":"$name","dir":"$dir","rows":$n1,""" +
        f""""run1_sec":$t1%.1f,"run2_sec":$t2%.1f,"min_sec":${math.min(t1, t2)}%.1f}""")
    }
    spark.stop()
  }
}
