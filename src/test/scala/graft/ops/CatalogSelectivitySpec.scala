package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The filtered ANN probes widen their probe set by the filter's
  * selectivity, computed in one aggregate pass over the metadata table.
  * This pins that value to the exact aggregate fraction. */
class CatalogSelectivitySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def aggregateFraction(): Double = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = docs.agg(count(lit(1)).as("n"),
      count(when(col("lang") === "en", 1)).as("k")).head()
    r.getLong(1).toDouble / r.getLong(0)
  }

  test("fallback (no catalog stats) selectivity equals the one-pass aggregate fraction") {
    val docs = Relational.table(spark, dir, "documents")
    // plain parquet relation: no CBO row count
    assert(docs.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    val sel = Similarity.filterSelectivity(docs, col("lang") === "en")
    assert(math.abs(sel - aggregateFraction()) < 1e-12,
      s"fallback selectivity $sel != aggregate fraction ${aggregateFraction()}")
  }
}
