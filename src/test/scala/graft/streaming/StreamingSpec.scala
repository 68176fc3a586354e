package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ops.Relational

/** Stateful sessionization parity: the flatMapGroupsWithState stream
  * must emit exactly the batch session_window sessions, minus at most
  * one still-open session per user at the watermark frontier. */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("stateful sessionize ⊆ batch session_window; only frontier sessions missing") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.get(2).asInstanceOf[Number].longValue())
    val batch = Relational.eventsSession(spark, dir).collect().map(key).toSet
    val stream = Sessionize.sessionizeEvents(spark, dir).collect().map(key).toSet
    val extra = stream -- batch
    assert(extra.isEmpty, s"stream emitted ${extra.size} sessions the batch result lacks: ${extra.take(3)}")
    val missing = batch -- stream
    val users = batch.map(_._1).size
    assert(missing.size <= users,
      s"stream missed ${missing.size} sessions but only $users users can hold an open session")
    assert(stream.nonEmpty && stream.size >= batch.size - users)
  }

  /** The B16 late-data contract (SURVEY B16: watermark + late-data
    * drop): in append mode, a row arriving after the watermark has
    * closed its window must be silently dropped, and still-open windows
    * are withheld. */
  test("append-mode window agg drops a beyond-watermark late row") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val q = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .writeStream.queryName("graft_late_sink").outputMode("append").format("memory")
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 12:00:00"), 1.0), (t("2024-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    // watermark 12:20 — window [12:00,13:00) still open, nothing emitted
    mem.addData((t("2024-01-01 14:00:00"), 1.0))
    q.processAllAvailable()
    // watermark now 13:50 → [12:00,13:00) finalized and emitted with n=2
    mem.addData((t("2024-01-01 12:45:00"), 9.0), // LATE: watermark already closed its window
      (t("2024-01-01 14:30:00"), 1.0)) //          on-time, lands in the open [14:00,15:00)
    q.processAllAvailable()
    q.stop()
    // epoch-second comparison: independent of JVM default timezone
    val got = spark.table("graft_late_sink")
      .select(col("w.start").cast("long"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h12 = t("2024-01-01 12:00:00").getTime / 1000
    assert(got == Set((h12, 2L)),
      s"expected exactly the closed [12:00,13:00) window with the late row dropped, got $got")
  }

  /** B26: an inner stream-stream interval join emits on match, not on
    * watermark close — the micro-batch replay must produce the COMPLETE
    * batch join, including pairs whose sides arrive in different
    * micro-batches (state retention derived from the interval bound). */
  test("stream-stream interval join equals the batch join exactly") {
    import org.apache.spark.sql.functions._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val stream = Relational.eventsStreamJoin(spark, dir).collect().map(key).toSet
    val ev = Relational.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"), col("ts").as("vts"))
    val batch = c.join(v, col("user_id") === col("vu") &&
        col("vts") >= col("cts") - expr("INTERVAL 24 HOURS") && col("vts") <= col("cts"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        expr("(unix_micros(cts) - unix_micros(vts)) div 60000000").as("lag_min"))
      .collect().map(key).toSet
    assert(batch.nonEmpty, "degenerate fixture: batch join is empty")
    assert(stream === batch,
      s"stream/batch divergence: missing=${(batch -- stream).take(3)} extra=${(stream -- batch).take(3)}")
    // prove the join exercised cross-batch STATE: at least one matched
    // pair's view and click must land in different staged slices (a
    // regression that dropped join state between micro-batches would
    // still pass a same-slice-only check)
    val ts = Relational.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (lo, hi) = (ts.values.min, ts.values.max)
    val n = Relational.replaySlices
    val step = Relational.sliceStep(lo, hi, n)
    def slice(us: Long) = math.min(((us - lo) / step).toInt, n - 1)
    assert(stream.exists { case (clickId, viewId, _, _) =>
      slice(ts(clickId)) != slice(ts(viewId))
    }, "no matched pair straddles a micro-batch boundary — state retention unexercised")
  }

  /** B28: left-outer adds watermark-gated null finalization on top of
    * B26's eager matches — null rows appear exactly for unmatched clicks
    * the final watermark has decided. */
  test("stream-stream outer join: matches are eager, nulls are watermark-gated") {
    import org.apache.spark.sql.functions._
    val rows = Relational.eventsStreamJoinOuter(spark, dir).collect()
    val matched = rows.filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val nulls = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    // matched part = the inner join exactly
    val inner = Relational.eventsStreamJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === inner, "outer join's matched rows must equal the inner join")
    // null rows: unmatched clicks decided by the final watermark, none beyond it
    val ev = Relational.events(spark, dir)
    // Spark tracks event-time watermarks at MILLISECOND precision —
    // floor the frontier max to ms before subtracting the delay, or the
    // boundary is off by up to 999 µs (data-dependent flake)
    val maxUs = ev.filter(col("event_type").isin("click", "view"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(col("m"))).head().getLong(0)
    val wm = (maxUs / 1000L) * 1000L - 3600L * 1000000L
    val clickTs = ev.filter(col("event_type") === "click")
      .select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val matchedClicks = matched.map(_._1)
    val expectNull = clickTs.collect {
      case (id, ts) if ts < wm && !matchedClicks(id) => id
    }.toSet
    assert(nulls === expectNull,
      s"null-row set diverges: missing=${(expectNull -- nulls).take(3)} extra=${(nulls -- expectNull).take(3)}")
    assert(nulls.nonEmpty, "degenerate fixture: no unmatched decided clicks")
  }

  /** B27: stream-static enrichment is stateless — every micro-batch joins
    * the full static dim, so the replay equals the batch join with no
    * watermark and no state store involved. */
  test("stream-static enrichment join equals the batch join exactly") {
    import org.apache.spark.sql.functions._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))
    val stream = Relational.eventsStreamEnrich(spark, dir).collect().map(key).toSet
    val batch = Relational.events(spark, dir)
      .join(Relational.table(spark, dir, "customer"), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment").as("segment"),
        round(col("value"), 4).as("value"))
      .collect().map(key).toSet
    assert(batch.nonEmpty && stream === batch,
      s"missing=${(batch -- stream).take(3)} extra=${(stream -- batch).take(3)}")
  }

  /** C21: a stateless curation pipeline (repetitionStats) is
    * batch/stream-unified — the replay output equals the batch operator
    * row-for-row. */
  test("streaming repetition-quality equals the batch operator exactly") {
    import graft.ops.Curation
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))
    val stream = Curation.qualityStream(spark, dir).collect().map(key).toSet
    val batch = Curation.qualityRepetition(spark, dir).collect().map(key).toSet
    assert(batch.nonEmpty && stream === batch,
      s"missing=${(batch -- stream).take(3)} extra=${(stream -- batch).take(3)}")
  }

  test("streaming near-dup dedup equals the batch LSH→exact result; cross-batch pairs caught") {
    import graft.ops.Similarity
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val stream = Similarity.dedupStreamNear(spark, dir).collect().map(key).toSet
    val batch = Similarity.dedupNgramScaled(spark, dir).collect().map(key).toSet
    assert(batch.nonEmpty && stream === batch,
      s"missing=${(batch -- stream).take(3)} extra=${(stream -- batch).take(3)}")
    // the state store must carry buckets ACROSS micro-batches: at least
    // one verified pair must span two different replay slices (same
    // doc_id-range slicing the stager uses — shared constants, not a
    // re-derivation)
    val docs = Relational.table(spark, dir, "documents")
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val (lo, hi) = (docs.getLong(0), docs.getLong(1))
    val step = Relational.sliceStep(lo, hi, Relational.replaySlices)
    def slice(id: Long) = math.min((id - lo) / step, (Relational.replaySlices - 1).toLong)
    val cross = stream.filter { case (da, db, _) => slice(da) != slice(db) }
    assert(cross.nonEmpty,
      "no emitted pair spans micro-batches — cross-batch state is not being consulted")
  }

  test("bounded-state near-dup stream: exact in-window pairs, state rows evicted") {
    import graft.ops.Similarity
    val w = 200L // the graft.neardup.windowSec default
    var stateRows = Seq.empty[Long]
    val stream = Similarity.dedupStreamNearBounded(spark, dir, q =>
        stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.dedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // SHARP window semantics: emitted = exact pairs with gap <= w,
    // nothing more, nothing less — eviction timing must not blur it
    assert(stream === exact.filter(p => p._2 - p._1 <= w),
      s"missing=${(exact.filter(p => p._2 - p._1 <= w) -- stream).take(3)} extra=${
        (stream -- exact).take(3)}")
    // the bound must BITE (an out-of-window pair exists and is absent)
    // while in-window cross-batch pairs are still caught (slice width
    // at sf0.001 is ~125 ids < w, so in-window pairs span slices)
    assert(exact.exists(p => p._2 - p._1 > w), "no out-of-window pair to exclude")
    val docs = Relational.table(spark, dir, "documents")
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val step = Relational.sliceStep(docs.getLong(0), docs.getLong(1), Relational.replaySlices)
    assert(stream.exists { case (da, db, _) =>
      (da - docs.getLong(0)) / step != (db - docs.getLong(0)) / step },
      "no in-window pair spans micro-batches")
    // EVICTION: by end of replay the store must hold strictly fewer
    // bucket rows than the corpus' distinct (band, key) buckets — the
    // unbounded baseline retains every bucket it ever saw
    val totalBuckets = Relational.table(spark, dir, "documents")
      .withColumn("shingles", org.apache.spark.sql.functions.expr(
        """transform(array(split(text, ' ')), toks ->
          |  array_distinct(CASE WHEN size(toks) < 3 THEN array(text)
          |  ELSE transform(sequence(0, size(toks) - 3),
          |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
          |  END))[0]""".stripMargin))
      .withColumn("sigs", org.apache.spark.sql.functions.expr(Similarity.minhashSigSql))
      .selectExpr("explode(transform(array(sigs), sg -> transform(sequence(0, 15), b -> named_struct('band', b, 'key', slice(sg, b * 4 + 1, 4)))))")
      .selectExpr("explode(col) as bk").distinct().count()
    assert(stateRows.nonEmpty, "no StateOperatorProgress captured")
    assert(stateRows.last < totalBuckets,
      s"final state ${stateRows.last} did not evict below the ${totalBuckets}-bucket ceiling")
  }

  test("store-backed near-dup stream: complete exact pair set, cross-batch pairs through the store") {
    import graft.ops.Similarity
    val stream = Similarity.queries("c22d_dedup_stream_store")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // COMPLETE pair parity with the exact batch computation — the
    // property c22b's windowed state discipline necessarily gives up
    val exact = Similarity.dedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream === exact,
      s"missing=${(exact -- stream).take(3)} extra=${(stream -- exact).take(3)}")
    // cross-batch proof with PLANTED arrivals (the 5% split has no
    // internal near-dups at sf0.001): two byte-identical docs whose
    // ids land in the FIRST and LAST replay slice must pair — only
    // catchable because batch 1's append entered the store before
    // batch 4's probe ran
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_c22d_planted").toString
    val corpus = Relational.table(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 20 =!= 7)
    Similarity.buildNearDupIndex(spark, corpus, idx)
    val dupText = "planted cross batch duplicate text with enough tokens to shingle"
    val planted = Seq(
      (1000001L, dupText), (1000050L, "an unrelated singleton document body"),
      (1000100L, "another unrelated filler document body"), (1000199L, dupText))
      .toDF("doc_id", "text")
    val pairs = Similarity.dedupStreamNearStoreOn(spark, idx, planted, "graft_c22d_planted")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000001L, 1000199L)),
      s"planted cross-batch pair not caught through the store: $pairs")
    // ids 1000001/1000199 are slices 0 and 3 of the 4-slice stager
    val step = Relational.sliceStep(1000001L, 1000199L, Relational.replaySlices)
    assert((1000199L - 1000001L) / step != 0L, "planted ids landed in one slice")
    // IN-STREAM compaction cadence: the same replay with
    // graft.stream.compactMaxFiles=1 compacts after every batch —
    // output pairs identical, and the store ends with a bounded file
    // census instead of the append pile
    val idx2 = java.nio.file.Files.createTempDirectory("graft_c22d_cadence").toString
    Similarity.buildNearDupIndex(spark, corpus, idx2)
    spark.conf.set("graft.stream.compactMaxFiles", "1")
    try {
      val pairs2 = Similarity.dedupStreamNearStoreOn(spark, idx2, planted, "graft_c22d_cadence")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2 === pairs, "in-stream compaction changed the pair set")
    } finally spark.conf.unset("graft.stream.compactMaxFiles")
    def census(idx: String) = Seq("shingles", "bands", "pairs").map(t =>
      Similarity.nearDupTablePaths(spark, idx, t)
        .map(graft.ops.IndexMeta.countUnder(spark, _, ".parquet")).sum).max
    assert(census(idx2) < census(idx),
      s"cadence did not bound the census: ${census(idx2)} vs ${census(idx)}")
  }

  /** One ingest stream leg as the two-streams test drives it: `build`
    * fills a fresh index dir from its corpus slice, `stream` replays an
    * arrival set into it under a stream name, and `held` reads back the
    * arrival ids the index holds. `also` adds a leg's own check. */
  private final case class IngestLeg(index: String, tag: String,
      build: String => Unit, first: () => org.apache.spark.sql.DataFrame,
      second: () => org.apache.spark.sql.DataFrame,
      stream: (String, org.apache.spark.sql.DataFrame, String) => Unit,
      held: String => Set[Long], also: String => Unit = _ => ())

  private def ingestLegs: Seq[IngestLeg] = {
    import graft.ops.{Pipeline, Similarity, Training}
    import org.apache.spark.sql.functions.{col, max}
    import spark.implicits._
    // two batches per stream: both streams replay as bids 0 and 1
    val slices = 2
    def docs = Relational.table(spark, dir, "documents")
    def ids(paths: Seq[String], c: String) = idsOf(spark.read.parquet(paths: _*), c)
    def idsOf(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getLong(0)).toSet
    def shingleIds(idx: String) = ids(Similarity.nearDupTablePaths(spark, idx, "shingles"), "doc_id")
    def liveIds(idx: String) = idsOf(Similarity.storedVectors(spark, idx), "vec_id")
    def vecs = Relational.table(spark, dir, "embeddings").select("vec_id", "embedding")
    lazy val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    lazy val copied = docs.orderBy("doc_id").head().getString(1)
    // texts that occur once in the corpus: every such arrival is a keeper
    // of the pretrain chain's exact-dup stage, so it must reach its store
    def unique = docs.join(docs.groupBy("text").count().filter(col("count") === 1),
      Seq("text")).select(docs.columns.map(col): _*)
    Seq(
      IngestLeg("near-dup store", "c22d",
        idx => Similarity.buildNearDupIndex(spark, docs.select("doc_id", "text"), idx),
        () => Seq((2000001L, "first stream filler one"), (2000050L, "first stream filler two"),
          (2000100L, "first stream filler three"), (2000199L, "first stream filler four"))
          .toDF("doc_id", "text"),
        // the second stream carries a copy of a corpus document that
        // must pair
        () => Seq((3000001L, copied), (3000050L, "second stream filler two"),
          (3000100L, "second stream filler three"), (3000199L, "second stream filler four"))
          .toDF("doc_id", "text"),
        (idx, a, n) => Similarity.dedupStreamNearStoreOn(spark, idx, a, n, slices),
        shingleIds,
        idx => assert(Similarity.nearDupIndexPairs(spark, idx).filter(col("db") === 3000001L)
          .count() > 0, "the second stream's copy of a corpus document did not pair")),
      IngestLeg("semantic-dedup index", "c22c",
        idx => Similarity.buildIvfIndexFrom(spark,
          vecs.filter(col("vec_id") % 20 =!= 7 && col("vec_id") % 20 =!= 13), idx),
        () => vecs.filter(col("vec_id") % 20 === 7),
        () => vecs.filter(col("vec_id") % 20 === 13),
        (idx, a, n) => Similarity.dedupSemanticStream(spark, idx, a, n, slices).count(),
        liveIds),
      IngestLeg("RAG chunk index", "c42c",
        idx => Similarity.buildIvfIndexFrom(spark, Similarity.ragChunkVecs(
          docs.filter(col("doc_id") % 20 =!= 3 && col("doc_id") % 20 =!= 13)), idx),
        () => docs.filter(col("doc_id") % 20 === 3),
        () => docs.filter(col("doc_id") % 20 === 13),
        (idx, a, n) => Similarity.ragIngestStreamOn(spark, idx, a, n, slices),
        idx => liveIds(idx).map(v => (v - 1) / 4096)),
      IngestLeg("lexical index", "c43f",
        idx => Pipeline.fitLexIndex(
          docs.filter(col("doc_id") % 20 =!= 3 && col("doc_id") % 20 =!= 13), idx),
        () => docs.filter(col("doc_id") % 20 === 3),
        () => docs.filter(col("doc_id") % 20 === 13),
        (idx, a, n) => Pipeline.lexIngestStreamOn(spark, idx, a, n, slices),
        idx => idsOf(Pipeline.lexLiveTables(spark, idx)._4, "doc_id")),
      // the pretrain chain takes arrivals in id order only, so the two
      // streams are consecutive id ranges
      IngestLeg("pretrain state", "c33c",
        st => Training.buildPretrainState(spark, docs.filter(col("doc_id") <= maxId * 80 / 100), st),
        () => unique.filter(col("doc_id") > maxId * 80 / 100 && col("doc_id") <= maxId * 90 / 100),
        () => unique.filter(col("doc_id") > maxId * 90 / 100),
        (st, a, n) => Training.pretrainIngestStreamOn(spark, st, a, n, slices),
        st => shingleIds(s"$st/neardup"))
    )
  }

  // engine batch ids restart at 0 with every fresh checkpoint, so a
  // batch key built from the bid alone makes the second stream's
  // batches look like replays of the first one's and no-ops them
  ingestLegs.foreach { leg =>
    test(s"two streams into one ${leg.index}: the second stream's batches are not replays") {
      val idx = graft.ops.Similarity.freshScratch(spark, s"graft_two_${leg.tag}_")
      leg.build(idx)
      leg.stream(idx, leg.first(), s"graft_two_${leg.tag}_a")
      leg.stream(idx, leg.second(), s"graft_two_${leg.tag}_b")
      val arrived = Seq(leg.first(), leg.second())
        .flatMap(_.select("*").collect().map(_.getLong(0))).toSet
      assert(arrived.size > 1, "no arrivals to stream")
      val missing = arrived -- leg.held(idx)
      assert(missing.isEmpty, s"arrivals missing from the ${leg.index}: ${missing.toSeq.sorted.take(5)}")
      leg.also(idx)
    }
  }

  test("semantic dedup stream: in-stream compaction leaves the drop list unchanged") {
    // the near-dup cadence pin above, on the IVF index: the same replay
    // with graft.stream.compactMaxFiles=1 compacts after every batch, so
    // the second batch probes a compacted layout
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val e = Relational.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    val off = Similarity.plantedOffset(e)
    val heldout = e.filter(col("vec_id") % 20 === 7)
    // c22c's arrival mix: held-outs, twins of indexed vectors, and twins
    // of the held-outs, which land in the later of the two batches
    val arrivals = heldout.unionByName(Similarity.plantedNoisy(corpus, off))
      .unionByName(Similarity.plantedNoisy(heldout, 2 * off))
    def run(tag: String) = {
      val idx = Similarity.freshScratch(spark, s"graft_c22c_${tag}_")
      Similarity.buildIvfIndexFrom(spark, corpus, idx)
      val drops = Similarity.dedupSemanticStream(spark, idx, arrivals, s"graft_c22c_$tag", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      (drops, Similarity.steadyStateCensus(spark, "seminc", idx))
    }
    val (drops, piled) = run("pile")
    spark.conf.set("graft.stream.compactMaxFiles", "1")
    val (drops2, compacted) = try run("compact")
      finally spark.conf.unset("graft.stream.compactMaxFiles")
    assert(drops.nonEmpty && drops2 === drops, "in-stream compaction changed the drop list")
    assert(compacted < piled, s"cadence did not bound the census: $compacted vs $piled")
  }

  test("RAG stream: the census bound counts chunk files, so a crossing is not missed") {
    // one arrival per micro-batch: a one-chunk document, then three
    // long ones whose ~25 chunks each add a file to many cells. The
    // limit sits at the built census + 4: no crossing under a bound
    // that adds one per document (the first check lists the true
    // census, ≤ built + 1), but the chunk files cross it
    import graft.ops.Similarity
    import spark.implicits._
    val idx = Similarity.freshScratch(spark, "graft_c42c_census_")
    Similarity.buildIvfIndexFrom(spark,
      Similarity.ragChunkVecs(Relational.table(spark, dir, "documents")), idx)
    def census() = Similarity.steadyStateCensus(spark, "seminc", idx)
    val maxFiles = census() + 4
    def long(d: Int) = (0 until 200).map(i => s"arrival${d}_tok$i").mkString(" ")
    val arrivals = Seq((5000001L, "a short arrival"), (5000060L, long(1)),
      (5000120L, long(2)), (5000199L, long(3))).toDF("doc_id", "text")
    val chunks = Similarity.ragChunkVecs(arrivals).count()
    assert(chunks > 10 * arrivals.count(), s"arrivals carry only $chunks chunks")
    spark.conf.set("graft.stream.compactMaxFiles", maxFiles.toString)
    try Similarity.ragIngestStreamOn(spark, idx, arrivals, "graft_c42c_census")
    finally spark.conf.unset("graft.stream.compactMaxFiles")
    assert(census() <= maxFiles, s"the stream ended at ${census()} files, over the limit $maxFiles")
    val live = Similarity.storedVectors(spark, idx)
      .filter($"vec_id" >= 5000001L * 4096).count()
    assert(live == chunks, s"$live of $chunks arrival chunks are live")
  }

  test("streaming semantic dedup sink: replaying a batch's drop write is idempotent") {
    // the c22c crash window the ADVICE flagged: sink write lands, the
    // checkpoint commit doesn't, the engine replays the batch — the
    // drop rows must not duplicate. writeDropsBatch owns the batch=bid
    // partition via dynamic overwrite, so the replay REWRITES it.
    import graft.ops.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_drops_sink").toString + "/out"
    val d0 = Seq((1L, 10L, 0.995), (2L, 20L, 0.991))
      .toDF("arrival_id", "kept_by", "cos")
    Similarity.writeDropsBatch(d0, 0L, out)
    Similarity.writeDropsBatch(Seq((5L, 50L, 0.999)).toDF("arrival_id", "kept_by", "cos"), 1L, out)
    // replay batch 0 (identical content, as a foreachBatch replay is)
    Similarity.writeDropsBatch(d0, 0L, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 3, s"replay duplicated drop rows: ${back.count()}")
    // batch 1's partition untouched by batch 0's replay
    assert(back.filter(col("batch") === 1L).count() == 1)
    assert(back.groupBy("arrival_id", "batch").count().filter(col("count") > 1).count() == 0)
  }

  test("streaming semantic dedup: later batches drop twins of earlier batches' survivors") {
    import graft.ops.Similarity
    val rows = Similarity.queries("c22c_dedup_semantic_stream")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // exactly-once sink contract: no (arrival_id, batch) row twice
    assert(rows.size == rows.distinct.size, "duplicate drop rows in the sink")
    val drops = rows.map(t => (t._1, t._2)).toMap
    val batchOf = rows.map(t => (t._1, t._3)).toMap
    val e = Relational.table(spark, dir, "embeddings")
    val off = Similarity.plantedOffset(e)
    val corpusIds = e.filter(org.apache.spark.sql.functions.col("vec_id") % 20 =!= 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val heldoutIds = e.filter(org.apache.spark.sql.functions.col("vec_id") % 20 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // twins of INDEXED vectors drop against their corpus originals, in
    // whatever micro-batch they arrive
    val corpusTwins = drops.filter { case (a, k) => a >= off && a < 2 * off && k == a - off }
    assert(corpusTwins.size == corpusIds.size,
      s"dropped ${corpusTwins.size} of ${corpusIds.size} corpus twins")
    // twins of HELD-OUT survivors drop against the survivor — only
    // possible if earlier micro-batches folded their survivors in
    val survivorTwins = drops.filter { case (a, k) => a >= 2 * off && k == a - 2 * off }
    assert(survivorTwins.size == heldoutIds.size,
      s"caught ${survivorTwins.size} of ${heldoutIds.size} twins of streamed survivors")
    assert(survivorTwins.values.toSet == heldoutIds,
      "survivor twins witnessed by something other than the streamed survivors")
    // ... and the catch is genuinely CROSS-batch: every survivor twin
    // arrives in a strictly later micro-batch than its original (slice
    // index = id-range slice, the stager's replay contract)
    val b = e.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val lo = b.getLong(0)
    val hi = heldoutIds.max + 2 * off
    val step = Relational.sliceStep(lo, hi, Relational.replaySlices)
    survivorTwins.foreach { case (twin, orig) =>
      assert(batchOf(twin) > (orig - lo) / step,
        s"twin $twin (batch ${batchOf(twin)}) did not arrive after its original " +
          s"$orig (slice ${(orig - lo) / step})")
    }
    // the genuinely-new held-out arrivals pass (no natural ≥0.99 pair)
    val falseDrops = drops.keys.filter(_ < off)
    assert(falseDrops.isEmpty, s"held-out arrivals wrongly dropped: ${falseDrops.take(5)}")
    assert(drops.size == corpusTwins.size + survivorTwins.size,
      s"unexpected extra drops: ${(drops.keySet -- corpusTwins.keySet -- survivorTwins.keySet).take(5)}")
  }
}
