package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/**
 * Recall/time sweep over the two-level ANN index knobs
 * (`graft.ann.nprobe`, `graft.ann.hammingPerCell`, `graft.ann.shortlist`)
 * — the measurement behind the defaults' position on the curve
 * (BASELINE.md round-6 ANN sweep).
 *
 * Usage: runMain graft.tools.AnnSweep <sfDir> [nQuerySample]
 *
 * Ground truth = exact top-3 by the same (rounded sim, vb) order the
 * queries use. Computed for a hash-sampled query subset (c13 doctrine:
 * deterministic, rerun-stable) via a broadcast of the sampled queries —
 * n·sample exact scores, so the sweep stays feasible at sf1+ where the
 * full O(n²) brute join does not.
 */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nSample = if (args.length > 1) args(1).toInt else 500
    val spark = graft.Graft.local("graft-ann-sweep")
    import spark.implicits._

    graft.functions.GraftFunctions.register(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.count()
    // deterministic query sample (hash-bucket, not random — rerun-stable)
    val mod = math.max(1L, n / nSample)
    val qs = e.filter(xxhash64(col("vec_id")) % mod === 0)
      .select(col("vec_id").as("qva"), col("embedding").as("qea"))
    val nq = qs.count()

    // exact top-3 for the sampled queries: broadcast the sample, scan
    // the corpus once — n·nq scores, one pass
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qva")).orderBy(col("sim").desc, col("vb").asc)
    val exact = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      .crossJoin(broadcast(qs))
      .filter(col("qva") =!= col("vb"))
      .select(col("qva"), col("vb"),
        round(expr("graft_cosine(qea, eb)"), 4).as("sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("qva"), col("vb"))
      .as[(Long, Long)].collect().toSet
    System.err.println(s"[sweep] n=$n sample=$nq exact pairs=${exact.size}")

    // grid override: args(2..4) = comma-lists for nprobe / m / S
    def list(i: Int, dflt: Seq[Int]): Seq[Int] =
      if (args.length > i) args(i).split(",").map(_.trim.toInt).toSeq else dflt
    val grid = for {
      np <- list(2, Seq(8, 12))
      m <- list(3, Seq(16, 32))
      s <- list(4, Seq(48, 96, 192))
    } yield (np, m, s)

    grid.foreach { case (np, m, s) =>
      spark.conf.set("graft.ann.nprobe", np.toString)
      spark.conf.set("graft.ann.hammingPerCell", m.toString)
      spark.conf.set("graft.ann.shortlist", s.toString)
      val t0 = System.nanoTime()
      val approx = Similarity.queries("c3_knn_join_ivf2")(spark, sfDir)
        .select(col("va"), col("vb")).as[(Long, Long)].collect().toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val hit = exact.count { case (a, b) => approx.contains((a, b)) }
      val recall = hit.toDouble / math.max(exact.size, 1)
      println(f"""{"nprobe":$np,"m":$m,"S":$s,"sec":$sec%.1f,"recall3":$recall%.4f}""")
    }
    spark.stop()
  }
}
