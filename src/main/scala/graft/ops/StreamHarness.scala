package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one Structured Streaming replay harness: every micro-batch replay
  * in the library — the `foreachBatch` ingest legs and the file-sink
  * replays of the registry's streaming entries — runs through here.
  *
  * Exactly-once is the Structured Streaming contract (SIGMOD 2018): a
  * replayable source plus a sink that is idempotent per epoch. The
  * staged slices are the replayable source. Each ingest leg's store
  * commits an append marker under the batch key this harness builds,
  * so the engine's replay of a crashed batch (same batch id) is a
  * no-op. The key carries the STREAM name, `<name>_<bid>`, not the bare
  * engine bid: bids restart at 0 for every fresh checkpoint (the sink
  * dir is swept on entry), so a bare bid would turn a second stream's
  * batches into no-op "replays" of the first one's — idempotence is per
  * (stream, bid).
  *
  * LOCAL-TEST-HARNESS-ONLY by contract, like [[Relational.stageSlices]]:
  * sink and checkpoint dirs live under `java.io.tmpdir`. Single writer by
  * construction — `foreachBatch` batches run sequentially, so a leg's
  * body is the only writer of its store while the stream runs. */
object StreamHarness {

  /** One micro-batch as a leg's body sees it: the batch rows, the engine
    * batch id, the batch key for the store's append marker, and the
    * stream's own output dir (for a leg that sinks a result besides its
    * store). */
  final case class Batch(df: DataFrame, bid: Long, key: String, out: String)

  /** In-stream maintenance of a leg's store: `census` lists its true file
    * count, `compact` folds it. */
  final case class Maintenance(census: () => Long, compact: () => Unit)

  /** The files-added bound of a leg that runs without [[Maintenance]]. */
  val NoBound: () => Long = () =>
    throw new IllegalStateException("a leg with in-stream maintenance must return its files-added bound")

  /** Replay `arrivals`, staged as `nSlices` slices by `order`, one file per
    * trigger; `body` applies each micro-batch to the leg's store and returns
    * an upper bound on the parquet files that batch added to any table the
    * census walks. The bound is a thunk, read only when in-stream
    * maintenance runs, so an unmaintained run pays no job for it.
    *
    * With `maintenance` given and `graft.stream.compactMaxFiles` set, every
    * batch commit is followed by the amortized file-census trigger
    * ([[CensusCadence]]) and a compaction when the store is truly over the
    * limit, so a long-running ingest stream never needs an out-of-band
    * maintenance job. Each batch emits one `[stream-batch]` line with its
    * wall time (the per-micro-batch cost a streaming-ingest capacity plan
    * needs; BASELINE.md's streaming tables read these lines) and, under
    * maintenance, one `[stream-census]` line, which a long soak reads to
    * prove the file count stays bounded. Returns the output dir. */
  def run(spark: SparkSession, name: String, arrivals: DataFrame, order: Column,
      nSlices: Int = Relational.replaySlices, maintenance: Option[Maintenance] = None)(
      body: Batch => (() => Long)): String = {
    val stage = Relational.stageSlices(spark, arrivals, order, s"${name}_stage", nSlices)
    val cadence = maintenance.map(m => (m, new CensusCadence(m.census)))
    val source = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    replay(spark, source, name) { (w, out) =>
      w.foreachBatch { (batch: Dataset[Row], bid: Long) =>
        val t0 = System.nanoTime()
        val filesAdded = body(Batch(batch, bid, s"${name}_$bid", out.toString))
        for ((m, cad) <- cadence; mf <- compactMaxFiles(spark)) {
          val (n, exact) = cad.check(filesAdded(), mf)
          val compacted = exact && n > mf
          val (shown, mark) =
            if (compacted) {
              m.compact()
              val c = m.census()
              cad.reset(c)
              (c, "=")
            } else (n, if (exact) "=" else "<=")
          System.err.println(s"[stream-census] $name bid=$bid files$mark$shown compacted=$compacted")
        }
        System.err.println(f"[stream-batch] $name bid=$bid sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      }
    }._2.toString
  }

  /** Run a streaming frame through an AvailableNow micro-batch replay
    * into a parquet FILE sink and read the committed output back as a
    * batch frame — the tail of every file-sink replay op
    * (b16/b19/b26/b27/b28/c9/c21/c22). The sink is executor-side, the
    * production stream shape; the memory sink this replaced funnels
    * every emitted row through the driver, a ceiling the sf100 events
    * rehearsal actually hit (b19's ~95M session rows vs the 1 GiB
    * spark.driver.maxResultSize — see BASELINE.md round-6). `onDone`
    * gets the terminated query, so specs can read StateOperatorProgress
    * (state row counts, evictions). */
  private[graft] def replayToSink(spark: SparkSession, streamed: DataFrame, sinkName: String,
      onDone: StreamingQuery => Unit = _ => ()): DataFrame = {
    val (q, out) = replay(spark, streamed, sinkName) { (w, out) =>
      w.outputMode("append").format("parquet").option("path", out.toString)
    }
    onDone(q)
    spark.read.schema(streamed.schema).parquet(out.toString)
  }

  /** Sweep the stream's sink dir, run `streamed` through the writer `sink`
    * configures to the end of its input (one AvailableNow pass, one
    * checkpoint under the sink dir), and return the terminated query and
    * the dir's `out` path, which exists afterwards. */
  private def replay(spark: SparkSession, streamed: DataFrame, name: String)(
      sink: (DataStreamWriter[Row], Path) => DataStreamWriter[Row]): (StreamingQuery, Path) = {
    // applicationId in the path: two concurrent sessions (e.g. the
    // correctness dump and a rehearsal) must never share sink directories
    val base = Paths.get(System.getProperty("java.io.tmpdir"),
      s"sink_${spark.sparkContext.applicationId}_$name")
    if (Files.exists(base)) {
      Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    val out = base.resolve("out")
    val q = sink(streamed.writeStream.queryName(name), out)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Files.createDirectories(out) // zero-batch streams never create it
    (q, out)
  }

  /** When set, the maintained legs compact their store whenever a
    * post-batch file census exceeds this bound (unset = no in-stream
    * maintenance — the caller owns the cadence). */
  private def compactMaxFiles(spark: SparkSession): Option[Long] =
    spark.conf.getOption("graft.stream.compactMaxFiles").map(_.toLong)

  /** Amortized census for the in-stream compaction trigger. A true
    * recursive listing of a cell-partitioned layout costs SECONDS per
    * call at scale — the round-11 32-batch soak measured ~19 s/batch of
    * pure listing on a 19k-cell sf100e index (two walks per batch),
    * 2.5× the batch's own ~8 s of work — so the cadence must not list
    * per batch. This tracks an UPPER BOUND instead: last true census +
    * each batch's files-added bound since (the CALLER supplies a bound
    * that holds for every table the census walks — for a single
    * rows-appended table that is the row count, since every parquet
    * file holds ≥ 1 row; for a multi-table store it must be the max of
    * the per-table bounds — see appendToNearDupIndex, whose pairs
    * table can gain more files than the batch has rows). It pays for a
    * real listing only when the bound could have crossed `maxFiles`. A
    * crossing is never missed (the bound is conservative); between
    * listings the census telemetry reports the bound, marked `<=`.
    * Single-writer only — exactly the foreachBatch
    * sequential-batches contract. */
  private[ops] final class CensusCadence(list: () => Long) {
    private var bound: Long = -1L
    private var boundExact = false
    /** Fold in one batch's files-added bound (read only when no listing
      * replaces it); re-list only if the bound could have crossed
      * `maxFiles`. Returns (census-or-bound, exact). */
    def check(filesAddedBound: => Long, maxFiles: Long): (Long, Boolean) = {
      if (bound < 0) { bound = list(); boundExact = true }
      else { bound += filesAddedBound; boundExact = false }
      if (bound > maxFiles && !boundExact) { bound = list(); boundExact = true }
      (bound, boundExact)
    }
    /** Record a fresh post-compaction census. */
    def reset(census: Long): Unit = { bound = census; boundExact = true }
  }
}
