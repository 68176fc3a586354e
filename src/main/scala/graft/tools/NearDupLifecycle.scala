package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{IndexMeta, Similarity}

/**
 * Rehearsal main for the persistent near-dup signature store (c27):
 * measure, at a given scale,
 *
 *   1. the one-time store build on a 95% corpus slice (shingle + sign
 *      + band + corpus-internal pairs),
 *   2. scoring/appending the held-out 5% as an arrival batch — the
 *      recurring daily-crawl cost the store exists to bound,
 *   3. the fit-every-time baseline: the batch LSH→exact composition
 *      (c2_dedup_ngram_scaled) re-shingling the WHOLE union per run,
 *
 * and assert the store's pair set equals the baseline's exactly.
 *
 * Usage: runMain graft.tools.NearDupLifecycle <sfDir>
 * Prints one JSON line.
 */
object NearDupLifecycle {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Graft.local("graft-neardup-lifecycle")

    def sec[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val base = docs.filter(col("doc_id") % 20 =!= 7)
    val arrivals = docs.filter(col("doc_id") % 20 === 7)
    val nArr = arrivals.count()
    val idx = Similarity.freshScratch(spark, "graft_neardup_lifecycle_")

    val (_, buildSec) = sec {
      Similarity.buildNearDupIndex(spark, base, idx)
    }
    val (_, scoreSec) = sec {
      Similarity.appendToNearDupIndex(spark, idx, arrivals)
    }
    val storePairs = Similarity.nearDupIndexPairs(spark, idx)
      .select(col("da"), col("db"))
    val nPairs = storePairs.count()

    val (full, fullSec) = sec {
      val f = Similarity.dedupNgramScaled(spark, sfDir).select(col("da"), col("db"))
      f.count()
      f
    }
    val missed = full.except(storePairs).count()
    val invented = storePairs.except(full).count()

    println(f"""{"n":$n,"arrivals":$nArr,"build_sec":$buildSec%.1f,""" +
      f""""score_append_sec":$scoreSec%.1f,"full_rerun_sec":$fullSec%.1f,""" +
      f""""pairs":$nPairs,"missed_vs_full":$missed,"invented_vs_full":$invented}""")
    IndexMeta.delete(spark, idx)
    spark.stop()
  }
}
