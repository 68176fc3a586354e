package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/**
 * The c43c capsweep treatment applied to the RAG DENSE leg (round-13
 * verdict item 7): measures mean overlap@5 of the chunk-index probe vs
 * exact brute-force cosine for NON-TWIN queries (index built on the
 * train split, queries from the eval split — no planted copy to hide
 * behind), per `graft.ann.nprobe`. One JSON line per dir for the
 * BASELINE table; the TierCSpec twin pins monotonicity at sf0.001 so
 * the trade can never silently invert.
 *
 * Usage: runMain graft.tools.RagRecallSweep <sfDir> [sfDir...]
 */
object RagRecallSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.local("graft-rag-recall-sweep")
    val nprobes = sys.env.getOrElse("SPARK_GRAFT_NPROBES", "1,2,4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    args.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val idx = Similarity.freshScratch(spark, "graft_ragsweep_")
      val t0 = System.nanoTime()
      val table = Similarity.ragDenseRecall(spark, docs, idx, nprobes)
      val cells = table.map { case (np, ov) => s""""$np":${f"$ov%.4f"}""" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"rag_dense_recall","dir":"$dir",""" +
        s""""overlap_at_5":$cells,"sec":${f"${(System.nanoTime() - t0) / 1e9}%.1f"}}""")
    }
    spark.stop()
  }
}
