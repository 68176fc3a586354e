package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-rehearsal data generator: concatenates a source SF directory N
 * times with re-keyed ids (each copy's keys shifted by copy × (max+1) per
 * key column) so joins keep referential integrity and dedup gains real
 * exact-duplicate structure (every document text appears N times — the
 * honest "dedup at scale" workload). Fixed-size dims (region/nation) are
 * copied once. Fact tables are written multi-file so scans are
 * multi-row-group, unlike the single-row-group testdata.
 *
 * Usage: runMain graft.tools.MakeScale [srcDir] [dstDir] [copies] [tables] [dupCap] [skew]
 * `tables` (optional, comma-separated) restricts generation — a
 * documents-only sf10 rehearsal need not materialize 60M lineitem rows.
 *
 * `skew` (optional literal "skew"): produce HOT-KEY data — 30% of all
 * events collapse onto one user, 80% of all documents onto one
 * language, and 30% of all orders onto one customer (deterministic
 * hash choice, so reruns agree). This is the head-heavy shape of real
 * crawl/event corpora that a uniform replica never exercises: per-user
 * session chains (b17/b19), the salted customer join (b20), and
 * per-(lang, shard) packing (c15) all see one giant key.
 *
 * `dupCap` (optional, 0 = off) fixes the DUPLICATE-CLIQUE SIZE while the
 * corpus scales: copies 0..dupCap-1 stay verbatim (each text/vector
 * forms a dupCap-clique, like the sf1 rehearsal's ×10) and copies ≥
 * dupCap are made DISSIMILAR — documents keep every 4th token and
 * replace the rest with copy-unique junk (no 3 consecutive original
 * tokens survive, so the perturbed copy shares ZERO 3-gram shingles
 * with anything — near-dup Jaccard ≈ 0, and no spurious LSH candidates
 * from a mid-similarity tail), embeddings get
 * a copy-specific pseudo-random offset at the corpus RMS norm (cosine
 * between perturbed copies ≈ 0.5, far under the 0.99 near-dup bar,
 * while each copy's planted +100000 jitter pairs survive intact since
 * both sides shift by the same offset). Without a cap, ×N replication
 * multiplies every pairwise op's OUTPUT by N² (C(N,2) pairs per clique)
 * — a workload artifact that swamps the scaling signal the rehearsal is
 * after.
 */
object MakeScale {

  /** key columns to shift per table; empty = copy verbatim (fixed dims) */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** output files per table — facts get enough splits for parallel
    * scans. Parquet packs small files into shared splits (openCost
    * charges 4 MB each), and each output file is one row group, so
    * EFFECTIVE scan parallelism ≈ file count: facts need ≥32 files for
    * a local[32] scan to use every core (round-15 — at 16 files the
    * 8-vs-32-core bench ratio topped out at 16-way). */
  private def filesFor(name: String, copies: Int): Int = name match {
    case "region" | "nation"          => 1
    case "lineitem" | "orders"        => math.max(copies * 2, 32)
    case _                            => math.max(copies, 8)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val dupCap = if (args.length > 4) args(4).toInt else 0
    val skew = args.length > 5 && args(5) == "skew"
    val spark = graft.Graft.local("graft-make-scale")

    // copy-specific embedding offset at the corpus RMS norm (computed
    // lazily, once): deterministic from the copy index
    lazy val (embDim, embRms) = {
      val e = spark.read.parquet(s"$src/embeddings.parquet")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val rms = math.sqrt(e.select(
        avg(expr("aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x)")))
        .head().getDouble(0))
      (dim, rms)
    }
    def perturb(name: String, d: DataFrame, i: Int): DataFrame =
      if (dupCap <= 0 || i < dupCap) d
      else name match {
        case "documents" =>
          // junk tokens carry the DOC id, not just the copy id: junk
          // shared across a whole copy gives any two same-copy docs
          // ~25% identical all-junk shingles (J ≈ 0.14), and at large
          // copies that J⁴-per-band collision rate alone generates
          // candidate pairs quadratically (8e8 projected for a 500k-doc
          // copy at sf100). Doc-unique junk keeps cross-doc Jaccard at
          // exactly the planted structure.
          d.withColumn("text", expr(
            s"""array_join(transform(split(text, ' '),
               |  (t, ix) -> IF(ix % 4 = 0, t, concat('u${i}x', doc_id, '_', ix))), ' ')""".stripMargin))
            .withColumn("n_chars", length(col("text")))
        case "embeddings" =>
          val rng = new scala.util.Random(i)
          val raw = Array.fill(embDim)(rng.nextGaussian())
          val norm = math.sqrt(raw.map(x => x * x).sum)
          val off = raw.map(x => x / norm * embRms)
          d.withColumn("embedding", expr(
            s"""zip_with(embedding, ${off.mkString("array(", "D, ", "D)")},
               |  (x, o) -> cast(x + o as float))""".stripMargin))
        case _ => d
      }
    // hot-key collapse (after re-keying, so EVERY copy feeds the hot
    // key): hash-chosen rows keep referential shape but pile onto one
    // key value. pmod keeps the bucket non-negative (xxhash64 is signed
    // — a bare % would skew-select ~15%, not 30%).
    def skewIt(name: String, d: DataFrame): DataFrame =
      if (!skew) d
      else name match {
        case "events" => d.withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(10)) < 3, lit(0L))
            .otherwise(col("user_id")))
        case "documents" => d
          .withColumn("lang",
            when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, lit("en"))
              .otherwise(col("lang")))
          // the hot domain for c26: 80% of docs pile onto one source
          .withColumn("source",
            when(pmod(xxhash64(col("doc_id") + 17), lit(10)) < 8, lit("src0"))
              .otherwise(col("source")))
        // 30% of orders onto one customer: the b20 salted-join hot key.
        // Key 1 exists in every copy (custkeys start at 1 and copy 0 is
        // unshifted), so referential integrity holds and the b4 oracle
        // SQL still reproduces the join on the skewed data.
        case "orders" => d.withColumn("o_custkey",
          when(pmod(xxhash64(col("o_orderkey")), lit(10)) < 3, lit(1L))
            .otherwise(col("o_custkey")))
        case _ => d
      }
    keyCols.filter(t => only.isEmpty || only(t._1)).foreach { case (name, keys) =>
      val df = spark.read.parquet(s"$src/$name.parquet")
      val out0 =
        if (keys.isEmpty) df
        else {
          // stride = max+1 per key column, computed once from the source
          val strides = keys.map { k =>
            k -> (df.agg(max(col(k))).head().getLong(0) + 1L)
          }
          (0 until copies).map { i =>
            perturb(name, strides.foldLeft(df) { case (d, (k, stride)) =>
              d.withColumn(k, col(k) + lit(i * stride))
            }, i)
          }.reduce(_.unionAll(_))
        }
      val out = skewIt(name, out0)
      out.repartition(filesFor(name, copies))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[make-scale] $name x${if (keys.isEmpty) 1 else copies}${if (skew) " skewed" else ""} -> $dst/$name.parquet")
    }
    spark.stop()
  }
}
