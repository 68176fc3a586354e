package graft.tools

import org.apache.spark.sql.functions._

/**
 * Full classic-TPC-H-surface throughput: run all 22 shapes from the
 * registry against one SF dir, min-of-2 warm runs each, per-query JSON
 * lines on stderr and ONE summary line on stdout. This is the
 * Athena-replacement number — not five headline queries but the whole
 * classic surface, the suite a warehouse user would actually run
 * (reference README.md:3 positions orca inside an Athena/Presto stack;
 * the 22 shapes are that stack's canonical workload).
 *
 * Results are forced via a `noop`-format write — FULL execution of
 * every operator including the final ORDER BY and output projection
 * (a count(*) force, round 11's method, lets EliminateSorts drop the
 * top-level sort and prune output columns under the aggregate — the
 * timings omitted final-sort cost; round-12 advice), still without
 * driver-side materialization (the noop sink discards rows on the
 * executors). Row counts come from one untimed count(*) per query
 * that doubles as the warm-up, so the timed runs are both warm.
 * Timings are therefore modestly HIGHER than round-11's for sorted
 * output-heavy shapes — the honest number for a warehouse that
 * actually delivers ordered results.
 *
 * Usage: runMain graft.tools.TpchSuite <dir> [onlyCsv]
 *   onlyCsv: optional comma-separated query-name subset (decade runs
 *   at sf100 can restrict to the shapes under study).
 */
object TpchSuite {
  /** the classic 22, in query-number order */
  val shapes: Seq[(Int, String)] = Seq(
    1  -> "b3_agg_group",   2  -> "b36_tpch_q2",  3  -> "b47_tpch_q3",
    4  -> "b30_sql_exists", 5  -> "b32_tpch_q5",  6  -> "b51_tpch_q6",
    7  -> "b46_tpch_q7",    8  -> "b48_tpch_q8",  9  -> "b49_tpch_q9",
    10 -> "b33_tpch_q10",   11 -> "b43_tpch_q11", 12 -> "b50_tpch_q12",
    13 -> "b41_tpch_q13",   14 -> "b44_tpch_q14", 15 -> "b37_tpch_q15",
    16 -> "b42_tpch_q16",   17 -> "b38_tpch_q17", 18 -> "b35_tpch_q18",
    19 -> "b45_tpch_q19",   20 -> "b39_tpch_q20", 21 -> "b34_tpch_q21",
    22 -> "b40_tpch_q22")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    // Shuffle sizing is AQE's wide-start/coalesce-down: partitions
    // START at initialPartitionNum and AQE merges them to the advisory
    // size at runtime — so one config serves every scale. A fixed
    // shuffle.partitions=cpus was measured to be the sf100 killer:
    // 600M lineitem rows / 32 partitions ≈ 19M rows (~2 GB) per
    // reducer, and the Q2-shape decorrelated-min join ground past 12
    // minutes at 91 GB RSS in spill before being killed (vs 9.1 s at
    // sf10). With the wide start the same query finishes in seconds;
    // at sf0.1 AQE coalesces back to a handful of partitions so small
    // scales pay only map-side bucket count. This is exactly what a
    // 1000-executor cluster does with initialPartitionNum.
    val spark = graft.Graft.local("graft-tpch-suite",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS", "1024"),
      // a 96 GB heap means organic GC almost never runs, so the
      // ContextCleaner (which reclaims shuffle files via weak refs)
      // never fires — at sf100 the suite accumulated >60 GB of dead
      // shuffle spill across queries and filled the disk. Fast
      // periodic GC + an explicit gc between queries bound the spill
      // footprint to the live query's.
      "spark.cleaner.periodicGC.interval" -> "60s",
      // Broadcast threshold: DEFAULT (10 MB). The round-11 64 MB
      // static posture is RETIRED this round: its reason to exist was
      // the sf100 collapse of filtered dim lists (non-CBO estimates
      // never shrink on a filter → Q8/Q9/Q19/Q20's part lists fell to
      // SortMergeJoin, 14–19 GB shuffles), and those queries now carry
      // explicit BROADCAST hints on exactly those lists (author
      // knowledge; see the tpchQ19/tpchQ9 comments for the measured
      // why and the scale boundary). CBO statistics were measured as
      // the posture replacement (BASELINE.md round 12): they fix the
      // ESTIMABLE cases (q19's brand/size brackets) but make the
      // contains-filtered dims WORSE — CBO cannot estimate LIKE '%…%'
      // (selectivity 1.0) and prices the list at raw width (~1.4 GB
      // for q9/q20's part list at sf100 vs the 32–72 MB pruned-file
      // estimate), so at ANY static threshold those joins regress to
      // SMJ under stats. The hints are the mechanism that is right in
      // BOTH worlds. AQE's SMJ→BHJ conversion remains measured-useless
      // for this class (it fires after the map stage wrote its 17 GB
      // shuffle).
      "spark.sql.autoBroadcastJoinThreshold" ->
        sys.env.getOrElse("SPARK_GRAFT_BCAST", "10485760"))

    // Per-query IO accounting: byte volumes are PLAN properties
    // (identical across warm runs), so one capture per query turns the
    // decade's time ratios into evidence — a 20× query that shuffles
    // 20× the bytes is the disk speaking, not the plan regressing.
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    object io {
      val input, shufW, spillDisk = new AtomicLong
      def reset(): Unit = Seq(input, shufW, spillDisk).foreach(_.set(0))
      def gb(a: AtomicLong): Double = a.get / 1e9
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          io.input.addAndGet(m.inputMetrics.bytesRead)
          io.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          io.spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val jobs = new JobCounter(spark)

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val picked = shapes.filter { case (_, n) => only.isEmpty || only(n) }
    val perQ = picked.map { case (qn, name) =>
      // untimed warm-up that also yields the row count (sorts elided
      // here is fine — it is not the timed run)
      val rows = graft.SparkEntry.queries(name)(spark, dir)
        .agg(count(lit(1))).head().getLong(0)
      io.reset()
      val t1 = once(name)
      jobs.settle() // the listener bus is async: drain it before reading
      val (inGb, swGb, spGb) = (io.gb(io.input), io.gb(io.shufW), io.gb(io.spillDisk))
      val t2 = once(name)
      System.gc() // release dead shuffle refs so the cleaner reclaims their files
      val best = math.min(t1, t2)
      System.err.println(
        f"""{"q":$qn,"query":"$name","rows":$rows,"run1_sec":$t1%.1f,"run2_sec":$t2%.1f,"min_sec":$best%.1f,""" +
        f""""input_gb":$inGb%.2f,"shuffle_write_gb":$swGb%.2f,"spill_disk_gb":$spGb%.2f}""")
      (qn, name, rows, best)
    }
    val total = perQ.map(_._4).sum
    val detail = perQ.map { case (qn, _, _, s) => f""""q$qn":$s%.1f""" }.mkString(",")
    println(f"""{"metric":"tpch_suite","dir":"$dir","n_queries":${perQ.size},""" +
      f""""total_min_sec":$total%.1f,"queries":{$detail}}""")
    spark.stop()
  }
}
