package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Result of one timed operation: its latency, the latency of each kind
  * of call it made (a serving round is a search plus an append), and
  * whether its output check passed. */
final case class OpResult(seconds: Double, parts: Map[String, Double], ok: Boolean)

/** One workload: builds its inputs under a fresh directory, then runs
  * operations one at a time (closed loop, a single client). */
trait Workload {
  /** Input sizes, reported with the result. */
  def sizes: Map[String, Any]
  /** The first `window` operations make up the counter window: per-layer
    * counts are summed over exactly these, so they repeat exactly for a
    * seed however many operations fit into the run. */
  def window: Int
  def setup(spark: SparkSession, dir: String, phase: Phases): Unit
  def op(i: Int): OpResult
  /** False once the workload has no more inputs to offer. */
  def hasNext(i: Int): Boolean = true
  /** Checks that need the whole run (state left by every op); the
    * number of ops they mark failed. */
  def finalChecks(done: Int): Int = 0
  /** Workload-specific end-to-end figures for the detail line. */
  def detail(ops: Seq[OpResult]): Map[String, Double]
  /** Per-layer metrics of a traced run. */
  def perLayer(t: Tracer, ops: Int): Map[String, Double]
}

/** Set-up phase timer: every phase is timed in every run (a few spans per
  * run), and traced as a span when tracing is on. */
final class Phases(val tracer: Tracer) {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally seconds(name) = (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * but not below p75 (nearest rank), as (percentile, value, samples
    * beyond). Below 40 samples the p75 floor applies and fewer than ten
    * samples lie beyond it: a run of few, slow ops reports its p75. */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return (75, 0.0, 0)
    def rank(p: Int) = math.max(1, math.ceil(p * n / 100.0).toInt)
    val p = (75 to 99).reverse.find(p => n - rank(p) >= 10).getOrElse(75)
    (p, s(rank(p) - 1), n - rank(p))
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, root: String, out: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("root"), need("out"))
  }

  def workload(name: String, seed: Long, cores: Int, out: String): Workload = name match {
    case "orc_ingest"      => new IngestWorkload(seed, cores)
    case "relational_scan" => new RelationalWorkload(seed, s"$out.relational.json")
    case "index_serving"   => new ServingWorkload(seed)
    case other             => sys.error(s"unknown workload $other")
  }

  private def session(cores: Int, root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      // the library's derived-index cache and scratch dirs: per run, so
      // no run is served a cache another run built
      .config("graft.index.root", s"$root/index-root")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def json(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(json).mkString("[", ",", "]")
    case b: Boolean                 => b.toString
    case n: java.math.BigDecimal    => n.toPlainString
    case n: Number                  => n.toString
    case other                      => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val tracer = new Tracer(a.trace)
    val phases = new Phases(tracer)
    val w = workload(a.workload, a.seed, a.cores, a.out)
    // One set-up, timed from JVM start to the first timed op.
    val dir = Files.createDirectories(Paths.get(a.root, "work"))
    val s0 = System.nanoTime()
    val spark = session(a.cores, a.root)
    phases.seconds("session.start") = (System.nanoTime() - s0) / 1e9
    tracer.attach(spark.sparkContext)
    w.setup(spark, dir.toString, phases)
    val setupSeconds = (System.nanoTime() - jvmStartNs) / 1e9

    val ops = ArrayBuffer.empty[OpResult]
    val loop0 = System.nanoTime()
    val deadline = loop0 + (a.seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || ops.size < w.window) && w.hasNext(ops.size)) {
      tracer.op = ops.size
      val t0 = System.nanoTime()
      ops += (try w.op(ops.size) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"op ${ops.size} failed: $e")
          OpResult((System.nanoTime() - t0) / 1e9, Map.empty, ok = false)
      })
    }
    val loopSeconds = (System.nanoTime() - loop0) / 1e9
    tracer.op = -2
    val lateFailed = try w.finalChecks(ops.size) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"final check failed: $e")
        ops.size
    }
    tracer.drain()

    val lat = ops.map(_.seconds).toSeq
    val (tailPct, tailVal, tailBeyond) = Stats.tail(lat)
    val failed = math.min(ops.size, ops.count(!_.ok) + lateFailed)
    val e2e = Map(
      "setup_s" -> setupSeconds,
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tailVal,
      "ops_per_s" -> ops.size / lat.sum,
      "peak_rss_mb" -> peakRssMb())
    val detail: Map[String, Any] = w.detail(ops.toSeq) ++ Map(
      "failed_op_ratio" -> failed.toDouble / ops.size.max(1),
      "op_tail_percentile" -> tailPct,
      "op_tail_samples_beyond" -> tailBeyond,
      "op_samples" -> ops.size,
      "op_s" -> lat,
      "loop_s" -> loopSeconds,
      "setup_phase_s" -> phases.seconds)
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else {
        phases.seconds.map { case (k, v) => s"${k}_s" -> v }.toMap ++
          w.perLayer(tracer, ops.size)
      }
    if (a.trace) tracer.write(Paths.get(a.out + ".spans.jsonl"))
    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "master" -> spark.sparkContext.master, "traced" -> a.trace,
      "sizes" -> w.sizes, "attempted" -> ops.size, "failed" -> failed,
      "end_to_end" -> e2e, "detail" -> detail, "per_layer" -> perLayer)
    Files.write(Paths.get(a.out), json(out).getBytes("UTF-8"))
    spark.stop()
  }
}
