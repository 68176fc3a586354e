package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.ops.Relational

/**
 * Custom stateful sessionization over the events stream:
 * `KeyValueGroupedDataset.flatMapGroupsWithState` with event-time
 * timeout — the state-store path for session semantics that
 * `session_window` (graft.ops.Relational B17) can't express when the
 * session carries custom per-session state (here: event counts and
 * value sums folded incrementally).
 *
 * Contract: sessions close when a 30-minute gap elapses, emitted in
 * append mode either when a later event closes them or when the
 * event-time watermark times the state out. Sessions still open at the
 * watermark frontier stay in the store — at stream end that is at most
 * one open session per user (asserted against the batch session_window
 * result in StreamingSpec).
 */
object Sessionize {

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(startMs: Long, lastMs: Long, n: Int, sumScaled: Long)
  final case class Session(user_id: Long, session_start: Timestamp, n_events: Long, sum_value: Double)

  val gapMs: Long = 30L * 60 * 1000

  /** Per-event money scaling (the moneySum doctrine, SURVEY §2.4): fold
    * 4-decimal scaled longs so the session sum is exact and independent
    * of fold order — a plain double fold would differ from the oracle's
    * unordered sum in the last bits. BigDecimal.valueOf + HALF_UP is
    * bit-identical to Spark's `round(x, 0)` and DuckDB's `round(x, 0)`. */
  private def scaled(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 10000).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** Fold a batch of events for one user into open/closed sessions.
    * Events inside a trigger arrive unordered → sort by time first. */
  private[streaming] def sessionFunc(
      userId: Long, events: Iterator[Event], state: GroupState[SessionState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(Session(userId, new Timestamp(s.startMs), s.n.toLong, s.sumScaled / 10000.0))
    }
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var open = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      open match {
        case Some(s) if t - s.lastMs < gapMs =>
          open = Some(s.copy(lastMs = t, n = s.n + 1, sumScaled = s.sumScaled + scaled(e.value)))
        case Some(s) =>
          closed += Session(userId, new Timestamp(s.startMs), s.n.toLong, s.sumScaled / 10000.0)
          open = Some(SessionState(t, t, 1, scaled(e.value)))
        case None =>
          open = Some(SessionState(t, t, 1, scaled(e.value)))
      }
    }
    open match {
      case Some(s) =>
        state.update(s)
        // time out once the watermark passes the session's close boundary
        state.setTimeoutTimestamp(s.lastMs + gapMs)
      case None => state.remove()
    }
    closed.result().iterator
  }

  /** Streaming sessionization of the events table (file-source replay,
    * one AvailableNow pass). Returns the emitted (closed) sessions as a
    * batch DataFrame. */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rawSchema = graft.ops.Relational.cachedSchemaParquet(spark, s"$dir/events.parquet").schema
    val sinkName = "graft_sessionize_sink"
    val rawStream = spark.readStream.schema(rawSchema).parquet(s"$dir/events.parque[t]")
    val stream = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawStream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => rawStream
    }
    val sessions = stream
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .as[Event]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessionFunc)
    // parquet file sink, not a memory sink: b19 emits ~one row per
    // session, and at the sf100 rehearsal (100M events) the memory
    // sink's driver collect fatally exceeded driver.maxResultSize
    graft.ops.StreamHarness.replayToSink(spark, sessions.toDF(), sinkName)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy("user_id", "session_start", "n_events")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b19_sessionize_stateful" -> (sessionizeEvents _))

  /** Append-mode emission = every non-last session per user (closed by
    * its successor's first event) plus last sessions the final watermark
    * (max event time − 10 min, ms precision) has timed out — i.e. the
    * gaps-and-islands result minus sessions still open at the frontier.
    * Sum via the scaled-long money pattern so both engines fold exactly. */
  val oracleSql: Map[String, String] = Map(
    "b19_sessionize_stateful" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, min(ts) AS start_ts, max(ts) AS last_ts,
        |    count(*) AS n_events,
        |    round(sum(cast(round(value * 10000, 0) as bigint)) / 10000.0, 4) AS sum_value,
        |    max(sid) OVER (PARTITION BY user_id) AS max_sid
        |  FROM sess GROUP BY user_id, sid),
        |f AS (SELECT epoch_ms(max(ts)) - 600000 AS wm FROM events)
        |SELECT user_id, strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  n_events, sum_value
        |FROM agg, f
        |WHERE sid < max_sid OR epoch_ms(last_ts) + 1800000 < wm
        |ORDER BY user_id, session_start, n_events""".stripMargin)
}
