package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{IndexMeta, Similarity}

/**
 * Rehearsal main for the persistent-IVF-index maintenance cycle
 * (BASELINE.md round-6 index lifecycle): measure, at a given scale,
 *
 *   1. the initial build on a 95% corpus slice,
 *   2. N micro-batch appends of the held-out 5% (the hourly-crawl
 *      arrival pattern that fragments the cell directories),
 *   3. probe latency on the fragmented layout + its file count,
 *   4. compaction, then probe latency on the compacted layout,
 *   5. a full rebuild over 100% — the cost the append path avoids.
 *
 * Usage: runMain graft.tools.IndexLifecycle <sfDir> [nAppendBatches] [cadenceMaxFiles]
 * Prints one JSON line; probe timings are min-of-3.
 *
 * With a third argument > 0 the run exercises the round-8 compaction
 * CADENCE instead of the manual end-of-run compaction: after every
 * append, [[Similarity.compactIvfIndexIfFragmented]] fires iff the
 * live layout's file count exceeds the bound, and a probe runs after
 * every batch — the claim under test is that probe latency stays
 * bounded across the whole soak with NO manual compaction call, at a
 * total compaction cost amortized by the trigger threshold.
 */
object IndexLifecycle {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batches = if (args.length > 1) args(1).toInt else 8
    val cadence = if (args.length > 2) args(2).toLong else 0L
    // driver memory must come from JVM opts (-Xmx / spark.driver.memory
    // at launch): setting it via the builder after the JVM is up is a
    // no-op in local mode (round-6 advice)
    val spark = graft.Graft.local("graft-index-lifecycle")

    def sec[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def minOf3(body: => Unit): Double =
      (1 to 3).map(_ => sec(body)._2).min

    // prefix-GC'd scratch: repeated rehearsals must not accumulate
    // multi-hundred-MB index copies in /tmp. File counts go through
    // the Hadoop listing helpers — the old Files.walk streams here
    // were never closed (fd leak in a long-lived driver, round-6
    // advice) and java.nio wouldn't see a non-local index anyway.
    val idx = Similarity.freshScratch(spark, "graft_ivf_lifecycle_")
    def vecFiles = Similarity.liveVectorsPaths(spark, idx)
      .map(IndexMeta.countUnder(spark, _, ".parquet")).sum

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.count()
    val base = e.filter(col("vec_id") % 20 =!= 7)
    val appendix = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
      .withColumn("b", pmod(xxhash64(col("vec_id")), lit(batches)))

    val (_, buildSec) = sec {
      Similarity.buildIvfIndexFrom(spark, base, idx.toString)
    }
    var cadenceFired = 0
    var cadenceCompactSec = 0.0
    val perBatchProbeSecs = collection.mutable.ArrayBuffer.empty[Double]
    val appendSecs = (0 until batches).map { b =>
      val t = sec {
        Similarity.appendToIvfIndex(spark, idx.toString,
          appendix.filter(col("b") === b).drop("b"))
      }._2
      if (cadence > 0) {
        val (fired, cSec) = sec {
          Similarity.compactIvfIndexIfFragmented(spark, idx.toString, cadence)
        }
        if (fired) { cadenceFired += 1; cadenceCompactSec += cSec }
        perBatchProbeSecs += sec {
          Similarity.annIvfIndexed(spark, sfDir, idx.toString).collect()
        }._2
      }
      t
    }
    val filesFragmented = vecFiles
    val probeFragmented = minOf3 {
      Similarity.annIvfIndexed(spark, sfDir, idx.toString).collect()
    }
    // with a cadence the end-of-run compaction goes through the same
    // trigger (usually a no-op — the cadence already kept the layout
    // bounded); without one this is the round-6/7 manual compaction
    val (_, compactSec) = sec {
      if (cadence > 0)
        Similarity.compactIvfIndexIfFragmented(spark, idx.toString, cadence)
      else Similarity.compactIvfIndex(spark, idx.toString)
    }
    val filesCompacted = vecFiles
    val probeCompacted = minOf3 {
      Similarity.annIvfIndexed(spark, sfDir, idx.toString).collect()
    }
    val rebuild = s"$idx.rebuild"
    val (_, rebuildSec) = sec {
      Similarity.buildIvfIndexFrom(
        spark, e.select(col("vec_id"), col("embedding")), rebuild)
    }

    println(f"""{"n":$n,"batches":$batches,"build_sec":$buildSec%.1f,""" +
      f""""append_total_sec":${appendSecs.sum}%.1f,""" +
      f""""append_per_batch_sec":${appendSecs.sum / batches}%.2f,""" +
      // first vs last batch: a guard whose cost grows with layout
      // fragmentation shows up as last >> first (the round-7 pre-sidecar
      // soak); the ids sidecar should hold them level
      f""""append_first_sec":${appendSecs.head}%.2f,""" +
      f""""append_last_sec":${appendSecs.last}%.2f,""" +
      f""""files_fragmented":$filesFragmented,"files_compacted":$filesCompacted,""" +
      f""""probe_fragmented_sec":$probeFragmented%.2f,""" +
      f""""probe_compacted_sec":$probeCompacted%.2f,""" +
      f""""compact_sec":$compactSec%.1f,"rebuild_sec":$rebuildSec%.1f""" +
      (if (cadence > 0)
        f""","cadence_max_files":$cadence,"cadence_fired":$cadenceFired,""" +
        f""""cadence_compact_total_sec":$cadenceCompactSec%.1f,""" +
        f""""probe_per_batch_max_sec":${perBatchProbeSecs.max}%.2f,""" +
        f""""probe_per_batch_avg_sec":${perBatchProbeSecs.sum / perBatchProbeSecs.size}%.2f"""
       else "") + "}")
    IndexMeta.delete(spark, idx)
    IndexMeta.delete(spark, rebuild)
    spark.stop()
  }
}
