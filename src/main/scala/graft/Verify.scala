package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the correctness gate's json.load fail and silently
    * zero the round's correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local mode needs no tight liveness detection: GC pauses under the
    // O(n²) baselines at large SF can exceed the 10s default heartbeat,
    // and a "dead" local executor takes the whole context down with it
    val spark = Graft.local("graft-verify",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "600s")
    new java.io.File(outDir).mkdirs()
    // per-query watchdog: one pathological query must not stall the whole
    // correctness dump — cancel its job group after the timeout and move on
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toInt
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // scale sweeps skip the labeled O(n²) correctness baselines rather
    // than burn a watchdog timeout each (e.g. SPARK_GRAFT_SKIP=c2_dedup_ngram)
    val skip = sys.env.getOrElse("SPARK_GRAFT_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // SPARK_GRAFT_ONLY=b24_asof_join,b25_range_join → dump just those
    // (local iteration on a new operator without the full registry)
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // names whose missing output is EXPECTED (env-skipped, ONLY-excluded)
    // — written to skipped.json so the oracle checker can distinguish
    // them from a query that crashed before writing. Watchdog timeouts
    // go to cancelled.json instead: a formerly-passing query that starts
    // hanging must surface as a FAILURE, not a policy skip.
    val intentionallySkipped = scala.collection.mutable.ArrayBuffer[String]()
    val cancelled = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.nonEmpty && !only(name)) { intentionallySkipped += name }
      else if (skip(name)) {
        intentionallySkipped += name
        System.err.println(s"[verify] $name skipped (SPARK_GRAFT_SKIP)")
      }
      else {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      try {
        Await.result(Future {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }, timeoutSec.seconds)
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          cancelled += name
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s, cancelled")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/skipped.json"),
      intentionallySkipped.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/cancelled.json"),
      cancelled.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
