package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{Graft, SparkEntry}
import graft.Verify.q

/** Per-key profile of registry queries: where one construction and run
  * of a key spends its time and its Spark jobs.
  *
  * Usage: KeyProfile <dir[,dir…]> <reps> <key[,key…]|all> [explainDir]
  *
  * Prints one JSON line per (dir, key, rep) with
  *   - `construct_s`, `construct_jobs`, `construct_sites`: building the
  *     DataFrame — the eager pins, heads and collects a query function
  *     runs before it returns, each a blocking round-trip per serving
  *     batch; `construct_sites` holds each such job's short callsite;
  *   - `plan_s`: analysis, optimization and physical planning;
  *   - `exec_s`, `exec_jobs`: the noop-sink materialization (the jobs
  *     count from planning on).
  * Rep 1 includes one-time index fits; later reps are the steady-state
  * serving shape. A rep whose construction or run throws is recorded
  * with its `error`, never dropped. With `explainDir`, each key's
  * formatted plan from rep 1 goes to `<explainDir>/<key>.txt` (the
  * error, if construction failed; a later dir overwrites an earlier
  * one's).
  */
object KeyProfile {
  def main(args: Array[String]): Unit = {
    val dirs = csv(args(0))
    val reps = args(1).toInt
    val keys = if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted else csv(args(2))
    val explainDir = args.lift(3).map(Paths.get(_))
    val spark = Graft.local("graft-key-profile")
    run(spark, dirs, reps, keys, explainDir)(println)
    spark.stop()
  }

  private def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Emit the records, one per (dir, key, rep), as they are made. */
  def run(spark: SparkSession, dirs: Seq[String], reps: Int, keys: Seq[String],
          explainDir: Option[Path])(emit: String => Unit): Unit = {
    explainDir.foreach(Files.createDirectories(_))
    val counter = new JobCounter(spark)
    try for (dir <- dirs; key <- keys; rep <- 1 to reps) {
      def explain(text: => String): Unit =
        if (rep == 1) explainDir.foreach(d => Files.writeString(d.resolve(s"$key.txt"), text))
      val fields = try {
        val ((df, constructS), sites) = counter.during {
          val t0 = System.nanoTime()
          (SparkEntry.queries(key)(spark, dir), sec(t0))
        }
        val constructed =
          f""","construct_s":$constructS%.3f,"construct_jobs":${sites.size},""" +
            s""""construct_sites":${sites.map(q).mkString("[", ",", "]")}"""
        try {
          val ((planS, execS), execJobs) = counter.during {
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan
            val planS = sec(t1)
            explain(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
            val t2 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            (planS, sec(t2))
          }
          constructed + f""","plan_s":$planS%.3f,"exec_s":$execS%.3f,"exec_jobs":${execJobs.size}"""
        } catch { case e: Throwable => constructed + s""","error":${q(e.toString)}""" }
      } catch {
        case e: Throwable =>
          explain(s"CONSTRUCTION FAILED: $e")
          s""","error":${q(e.toString)}"""
      }
      emit(s"""{"dir":${q(dir)},"key":${q(key)},"rep":$rep$fields}""")
    } finally counter.close()
  }
}
