package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** relational_scan — a seeded rotation over five registry queries of
  * `SparkEntry.queries` on generated TPC-H-shaped tables at the sf0.05
  * row counts (lineitem 300,000, orders 75,000, customer 7,500,
  * embeddings 2,000; about 9 MB of parquet, so it fits in the page
  * cache and the library's schema memo). Half of sf0.1, to keep the
  * data generation in set-up short. Bound by scan, shuffle and
  * planning in `graft.ops.Relational`, with no typedef, Lenient or index
  * work: ingest and serving optimisations should leave it unchanged.
  * `a2_roundtrip` is left out because orc_ingest owns the write path.
  *
  * One op = one rotation: every key of the mix once, in a seeded order.
  * Each query's DataFrame is constructed through its executed plan, then
  * collected (every result is at most 25 rows). The keys' latencies are
  * 0.1–1 s apart, so quantiles of single queries jump between keys as
  * the mix's counts shift; a rotation's latency does not. Each query's
  * rows must equal the key's first result in the run, and that result
  * is checked against the key's `SparkEntry.oracleSql` run in DuckDB
  * over the same files (by perfbench/run.py, after the JVM exits). */
final class RelationalWorkload(seed: Long, sidecar: String) extends Workload {
  import RelationalWorkload._

  val sizes: Map[String, Any] = Map("tables" -> Tables, "query_mix" -> Keys)
  /** Two rotations: every key twice. */
  val window = 2
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: String = _
  private val reference = mutable.LinkedHashMap.empty[String, Seq[Row]]
  private var columns = Map.empty[String, Seq[String]]

  def setup(s: SparkSession, d: String, phase: Phases): Unit = {
    spark = s
    tr = phase.tracer
    dir = s"$d/data"
    phase("setup.datagen") { generate(spark, seed, dir) }
    // two passes over the mix: the first records each key's reference
    // result and pays the cold start, the second lets the compiler catch
    // up before timing
    phase("setup.warmup") {
      for (_ <- 0 until 2; k <- Keys) {
        val df = SparkEntry.queries(k)(spark, dir)
        val rows = df.collect().toSeq
        reference.getOrElseUpdate(k, rows)
        columns += k -> df.columns.toSeq
      }
    }
  }

  /** Rotation `i`: a seeded permutation of the mix. */
  def rotation(i: Int): Seq[String] = new scala.util.Random(seed * 7919L + i).shuffle(Keys)

  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val results = rotation(i).map { k =>
      val q0 = System.nanoTime()
      val df = tr.span("relational.construct") {
        val df = SparkEntry.queries(k)(spark, dir)
        df.queryExecution.executedPlan
        df
      }
      val rows = tr.span("relational.execute") { df.collect().toSeq }
      (k, (System.nanoTime() - q0) / 1e9, rows == reference(k))
    }
    OpResult((System.nanoTime() - t0) / 1e9, results.map(r => r._1 -> r._2).toMap, results.forall(_._3))
  }

  /** Hands run.py what it needs for the DuckDB oracle check. */
  override def finalChecks(done: Int): Int = {
    val out = Map(
      "data_dir" -> dir,
      "oracle_sql" -> Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap,
      "results" -> reference.map { case (k, rows) =>
        k -> Map("columns" -> columns(k), "rows" -> rows.map(_.toSeq)) })
    java.nio.file.Files.write(java.nio.file.Paths.get(sidecar), Main.json(out).getBytes("UTF-8"))
    0
  }

  def detail(ops: Seq[OpResult]): Map[String, Double] = {
    val lat = ops.flatMap(_.parts.values)
    val (_, tail, _) = Stats.tail(lat)
    Map("query_p50_s" -> Stats.median(lat), "query_tail_s" -> tail,
      "queries_per_s" -> lat.size / lat.sum) ++
      Keys.map(k => s"query_p50_s.$k" -> Stats.median(ops.flatMap(_.parts.get(k))))
  }

  def perLayer(t: Tracer, ops: Int): Map[String, Double] = {
    def per(f: Int => Double) = Stats.median((0 until ops).map(f))
    def spanS(name: String)(i: Int) = t.of(i, name).map(_.seconds).sum
    def all(i: Int) = t.of(i, "relational.construct") ++ t.of(i, "relational.execute")
    def win(f: Counters => Long) = (0 until window).flatMap(all).map(s => f(s.counters)).sum.toDouble
    Map(
      "relational.construct_s" -> per(spanS("relational.construct")),
      "relational.execute_s" -> per(spanS("relational.execute")),
      "relational.jobs" -> win(_.jobs),
      "relational.stages" -> win(_.stages),
      "relational.scan_bytes" -> win(_.inputBytes),
      "relational.shuffle_bytes" -> win(_.shuffleWriteBytes),
      "relational.task_cpu_s" -> per(i => all(i).map(_.counters.cpuNs).sum / 1e9),
      "relational.gc_s" -> per(i => all(i).map(_.counters.gcMs).sum / 1e3),
      "relational.spill_bytes" -> win(_.spillBytes))
  }
}

object RelationalWorkload {
  val Keys = Seq("b3_agg_group", "b5_join_multi", "b8_topk", "a10_stats", "c3_sim_topk")
  val Tables: Map[String, Long] = Map("lineitem" -> 300000L, "orders" -> 75000L,
    "customer" -> 7500L, "nation" -> 25L, "region" -> 5L, "embeddings" -> 2000L)

  /** Writes `<dir>/<table>.parquet` for every table the mix reads, in the
    * column layout of the library's testdata. Every value is a hash of
    * (row id, seed, column), so a seed always gives the same files. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    def rows(t: String): DataFrame = spark.range(Tables(t)).toDF("id")
    def h(salt: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))
    def pick(salt: Int, xs: String*) = element_at(array(xs.map(lit): _*), (h(salt, xs.size) + 1).cast("int"))
    def ts(salt: Int) = timestamp_seconds(lit(694224000L) + h(salt, 7L * 365 * 86400))
    def write(t: String, df: DataFrame): Unit = df.write.parquet(s"$dir/$t.parquet")

    write("lineitem", rows("lineitem").select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h(1, 20000).as("l_partkey"),
      h(2, 1000).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(3, 50) + 1).cast("double").as("l_quantity"),
      round((h(3, 50) + 1) * (lit(900.0) + h(4, 100000) / 100.0), 2).as("l_extendedprice"),
      (h(5, 11) / 100.0).as("l_discount"),
      (h(6, 9) / 100.0).as("l_tax"),
      pick(7, "A", "N", "R").as("l_returnflag"),
      pick(8, "F", "O").as("l_linestatus"),
      ts(9).as("l_shipdate")))
    write("orders", rows("orders").select(
      col("id").as("o_orderkey"),
      h(1, Tables("customer")).as("o_custkey"),
      pick(2, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + h(3, 50000000) / 100.0, 2).as("o_totalprice"),
      ts(4).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    write("customer", rows("customer").select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      round(h(2, 1100000) / 100.0 - 1000.0, 2).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    write("nation", rows("nation").select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("region", rows("region").select(
      col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id").cast("string")).as("r_name")))
    write("embeddings", rows("embeddings").select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> cast(pmod(xxhash64(id, ${seed}L, j), 2001) / 1000.0 - 1.0 as float))")
        .as("embedding"),
      h(1, 10).cast("int").as("label")))
  }
}
