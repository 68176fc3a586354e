package graft.ops

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Tier C — deduplication and similarity search over `documents` /
 * `embeddings` (SURVEY §2 Tier C; nothing like this exists in the
 * reference — its README targets exactly this "encode for an analytics
 * stack" role, and a 100 TB training-data pipeline needs these ops).
 *
 * Scale doctrine: every op is shuffle-parallel (explode→join→group), no
 * driver-side loops. The exact O(n²) variants (`c2_dedup_cosine`,
 * `c3_sim_topk`) are the correctness baselines; the banded/LSH variants
 * (`c2_dedup_minhash`, `c2_dedup_simhash`, `c2_dedup_cosine_lsh`,
 * `c3_ann_ivf`) are the 100 TB paths — candidate generation through
 * equi-joins on band keys, exact verification only on candidates.
 */
object Similarity extends NearDupStore with SemanticDedup with PqIndex with IvfIndex with Rag {

  /** Distinct token 3-gram shingles; single-token guard keeps short docs
    * non-empty. The token array is bound ONCE as a lambda variable
    * (`transform(array(split(..)), toks -> ..)[0]`): a plain
    * `withColumn("tokens", split(..))` is NOT safe — CollapseProject
    * inlines the alias into its consumers, and a `tokens[i]` reference
    * inside the shingle transform then re-splits the whole text per
    * shingle index. That O(tokens²)-per-row trap passed every sf0.01
    * check and surfaced only in the sf1 rehearsal as a 100%-CPU
    * interpreted `UTF8String.split` loop. A lambda binding is opaque to
    * the optimizer, so the split stays once-per-row in every plan. */
  private[ops] def withShingles(df: DataFrame): DataFrame =
    df.withColumn("shingles", expr(
      """transform(array(split(text, ' ')), toks ->
        |  array_distinct(CASE WHEN size(toks) < 3 THEN array(text)
        |  ELSE transform(sequence(0, size(toks) - 3),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |  END))[0]""".stripMargin))

  // C2b — exact n-gram Jaccard near-dup pairs (oracle-checked).
  // At 100 TB the shingle self-join amplifies hot shingles quadratically —
  // there the minhash op below generates candidates first and this exact
  // computation runs only on the candidate set.
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = withShingles(Relational.table(spark, dir, "documents"))
      .select(col("doc_id"), col("shingles"))
    val sizes = docs.select(col("doc_id"), size(col("shingles")).as("n"))
    val ex = docs.select(col("doc_id"), explode(col("shingles")).as("s"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        round(col("inter") * lit(1.0) / (col("sa.n") + col("sb.n") - col("inter")), 4).as("j"))
      .filter(col("j") >= 0.8)
      .orderBy("da", "db")
  }

  /** Banded MinHash signatures + candidate pairs. 64 hash functions =
    * 16 bands × 4 rows: per-band collision probability is J⁴, so
    * background pairs (J ≲ 0.1) almost never collide while J ≥ 0.8
    * pairs collide in ≥1 of 16 bands with probability ≈ 1 − 3.8e−8.
    * Spark ML's MinHashLSH was dropped here after the sf1 rehearsal: its
    * r = 1 banding (one hash per table) admits candidates at probability
    * J per table, which on a corpus with shared vocabulary grows the
    * candidate set quadratically (timed out at 50k docs where this
    * formulation takes seconds). Each shingle is hashed ONCE to a long;
    * per-plane values are `xxhash64(h, plane)` — long arithmetic only,
    * no per-row string building, deterministic on any cluster. */
  /** Callers must size docs via [[Scale.sizeForCompute]] BEFORE the
    * shingle projection (see shingledDocs): signature work must scale
    * with cores on an under-partitioned source, with zero corpus-side
    * exchange on a many-partitioned one. */
  /** The stateless banded-minhash projection, shared VERBATIM by the
    * batch candidate join below and the streaming composition (c22) —
    * one formula, two execution modes. */
  private[graft] val minhashSigSql =
    """transform(array(transform(shingles, s -> xxhash64(s))), hs ->
      |  transform(sequence(0, 63), i ->
      |    array_min(transform(hs, h -> xxhash64(h, i)))))[0]""".stripMargin
  private[ops] val bandKeysSql =
    """transform(array(sigs), sg ->
      |  transform(sequence(0, 15), b -> named_struct(
      |    'band', b, 'key', slice(sg, b * 4 + 1, 4))))[0]""".stripMargin

  private def minhashCandidates(docs: DataFrame): DataFrame = {
    val sigs = docs.withColumn("sigs", expr(minhashSigSql))
    // band key = the 4-row slice; sigs bound once so the 64-hash
    // signature is never recomputed per band (see withShingles). Only
    // (doc_id, band key) flows into the self-join — carrying the shingle
    // arrays through a 16×-exploded shuffle would move the corpus text
    // many times over
    val banded = sigs.select(col("doc_id"),
      explode(expr(bandKeysSql)).as("bk"))
    // distinct BEFORE re-attaching shingles: deduping (da, db) id pairs
    // shuffles a few bytes per row, while a distinct over rows carrying
    // both shingle arrays shuffles the corpus text ~16× (measured at sf1
    // as the dominant cost); the two verify joins below fetch each doc's
    // shingles exactly once
    // shuffle-hash, never broadcast: the banded side is "small" by
    // byte-size estimate but EXPENSIVE to compute — a broadcast build
    // would funnel the whole signature subplan through a driver collect
    // (and the probe side would recompute it); shuffling (doc_id, bk)
    // pairs costs almost nothing
    val cands = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cands
      .join(docs.select(col("doc_id").as("da"), col("shingles").as("sa")), Seq("da"))
      .join(docs.select(col("doc_id").as("db"), col("shingles").as("sb")), Seq("db"))
  }

  // C2 — MinHash+LSH near-dup candidates, exact Jaccard distance on the
  // candidate set only (array_intersect of the two shingle sets — no
  // shingle explosion). Deterministic; approximate candidate generation →
  // rows-only check, recall asserted against dedupNgram in the spec.
  /** Size the RAW text scan, THEN shingle ([[Scale.sizeForCompute]]):
    * an under-partitioned local source repartitions up so shingle +
    * signature work scales with cores (shuffling text ~2 KB/row beats
    * shuffling computed shingle arrays ~5 KB/row, and the single
    * exchange is reused by every downstream consumer); a production
    * many-partitioned scan flows through with ZERO corpus-side
    * exchange (PlanSpec-pinned). */
  private def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    withShingles(Scale.sizeForCompute(Relational.table(spark, dir, "documents")))
      .select(col("doc_id"), col("shingles"))

  def dedupMinHash(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingledDocs(spark, dir)
    minhashCandidates(docs)
      .select(col("da"), col("db"), expr(
        """round(1.0D - size(array_intersect(sa, sb)) * 1.0D /
          |(size(sa) + size(sb) - size(array_intersect(sa, sb))), 4)""".stripMargin).as("dist"))
      .filter(col("dist") <= 0.5)
      .orderBy("da", "db")
  }

  // C2e — the composed 100 TB near-dup pipeline: banded-MinHash candidate
  // generation, then EXACT jaccard verification computed per candidate
  // pair (array_intersect on the two shingle sets — no shingle
  // explosion, no O(n²)). Oracle: identical to the exact dedupNgram
  // result (candidate recall at J ≥ 0.8 is ≈1 − 3.8e−8 per pair with 16×4
  // banding; equality asserted by the driver oracle and in TierCSpec).
  // 1.0D, not 1.0: a bare SQL-string literal parses as DECIMAL(2,1) and
  // would make j decimal where the exact path (and oracle) is double.
  def dedupNgramScaled(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingledDocs(spark, dir)
    minhashCandidates(docs)
      .select(col("da"), col("db"), expr(
        """round(size(array_intersect(sa, sb)) * 1.0D /
          |(size(sa) + size(sb) - size(array_intersect(sa, sb))), 4)""".stripMargin).as("j"))
      .filter(col("j") >= 0.8)
      .orderBy("da", "db")
  }

  /** One near-dup LSH bucket member held in streaming state: the doc id
    * and its distinct hashed shingles (8-byte longs, not strings — the
    * c12 broadcast doctrine applied to the state store). */
  final case class BucketDoc(id: Long, hs: Seq[Long])

  /** Per-bucket pair emission for the c22 stream: new arrivals pair
    * against every doc already seen in this (band, key) bucket — and
    * against each other — with EXACT hashed-shingle Jaccard verification
    * inline, so only verified near-dup pairs leave the state machine.
    * Pure function of (state, batch) → deterministic replay. */
  private[ops] def bucketPairs(
      key: String,
      rows: Iterator[(Long, Seq[Long], Int, Seq[Long])],
      state: org.apache.spark.sql.streaming.GroupState[Seq[BucketDoc]])
      : Iterator[(Long, Long, Double)] = {
    val seen = state.getOption.getOrElse(Seq.empty)
    // a doc meets a bucket at most once per replay (slices partition by
    // doc_id), but guard against re-delivery anyway: state is truth
    val fresh = rows.map(t => BucketDoc(t._1, t._2)).toSeq
      .distinctBy(_.id).sortBy(_.id)
      .filterNot(d => seen.exists(_.id == d.id))
    val out = Seq.newBuilder[(Long, Long, Double)]
    var acc = seen
    fresh.foreach { d =>
      acc.foreach { o =>
        val j = jaccardRounded(d.hs, o.hs)
        if (j >= 0.8) out += ((math.min(d.id, o.id), math.max(d.id, o.id), j))
      }
      acc = acc :+ d
    }
    state.update(acc)
    out.result().iterator
  }

  /** Exact Jaccard over two distinct-hash sets, rounded exactly as
    * Spark's `round(x, 4)` (BigDecimal HALF_UP — the Sessionize scaled
    * doctrine) so the streamed pairs hash-match the batch oracle. */
  private def jaccardRounded(a: Seq[Long], b: Seq[Long]): Double = {
    val sa = a.toSet
    val inter = b.count(sa.contains)
    val j = inter.toDouble / (a.size + b.size - inter)
    java.math.BigDecimal.valueOf(j).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
  }

  // C22 — STREAMING near-dup dedup: the banded-minhash projection
  // (stateless, shared verbatim with the batch path via minhashSigSql /
  // bandKeysSql) feeds `flatMapGroupsWithState` keyed by LSH bucket;
  // state per bucket is its members' hashed shingle sets, and each
  // micro-batch pairs new arrivals against everything the bucket has
  // EVER seen — so near-dups split across batches are still caught
  // (proven in StreamingSpec). Verification is inline and exact, making
  // the emitted pair set equal to the BATCH c2_dedup_ngram_scaled
  // result on the same corpus — which is why this streaming op is
  // oracle-checked, not recall-tested. Cross-band duplicate emissions
  // (a pair can collide in several bands, each its own state group)
  // are folded by the post-sink distinct, exactly where the batch path
  // puts its candidate distinct. State is held forever like c9 (the
  // correctness baseline); at 100 TB the same pipeline bounds the store
  // with time- or shard-scoped bucket keys + state timeouts.
  def dedupStreamNear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val docs = Relational.table(spark, dir, "documents")
    val stage = Relational.stageSlices(spark, docs, col("doc_id"),
      s"graft_c22_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val banded = withShingles(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage))
      .withColumn("hs", expr("array_distinct(transform(shingles, s -> xxhash64(s)))"))
      .withColumn("sigs", expr(minhashSigSql))
      .select(col("doc_id"), col("hs"), explode(expr(bandKeysSql)).as("bk"))
      .select(col("doc_id"), col("hs"), col("bk.band").as("band"), col("bk.key").as("key"))
      .as[(Long, Seq[Long], Int, Seq[Long])]
    val pairs = banded
      .groupByKey { case (_, _, band, key) => s"$band:${key.mkString(",")}" }
      .flatMapGroupsWithState[Seq[BucketDoc], (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(bucketPairs _)
    StreamHarness.replayToSink(spark, pairs.toDF("da", "db", "j"), "graft_c22_sink")
      .distinct()
      .orderBy("da", "db")
  }

  /** The c22b state transition: [[bucketPairs]] with a sliding
    * event-time window. A doc's event time IS its id in seconds
    * (`timestamp_seconds(doc_id)` upstream), so the window prune and
    * the pair bound are the same arithmetic: an arrival pairs only
    * against members within `windowSec`, members older than that are
    * dropped BEFORE pairing (arrivals processed in ascending id order,
    * so a pruned member can never be in-window for a later arrival),
    * and the emitted set is EXACTLY { pairs: j ≥ 0.8 ∧ db − da ≤ W } —
    * sharp semantics a SQL oracle can state, not "approximately
    * bounded". Whole-bucket eviction rides the event-time timeout:
    * when the watermark passes lastTs + W every member is out of
    * window for ANY future arrival (staged replay feeds ascending
    * event times, so future rows are never below the watermark), and
    * the bucket's state row is removed — which is what bounds the
    * store where c22's NoTimeout baseline grows forever. */
  private[ops] def boundedBucketPairs(windowSec: Long)(
      key: String,
      rows: Iterator[(Long, Seq[Long], Int, Seq[Long], java.sql.Timestamp)],
      state: org.apache.spark.sql.streaming.GroupState[Seq[BucketDoc]])
      : Iterator[(Long, Long, Double)] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val seen = state.getOption.getOrElse(Seq.empty)
      val fresh = rows.map(t => BucketDoc(t._1, t._2)).toSeq
        .distinctBy(_.id).sortBy(_.id)
        .filterNot(d => seen.exists(_.id == d.id))
      val out = Seq.newBuilder[(Long, Long, Double)]
      var acc = seen
      fresh.foreach { d =>
        acc = acc.filter(o => d.id - o.id <= windowSec)
        acc.foreach { o =>
          val j = jaccardRounded(d.hs, o.hs)
          if (j >= 0.8) out += ((math.min(d.id, o.id), math.max(d.id, o.id), j))
        }
        acc = acc :+ d
      }
      state.update(acc)
      // evict once the watermark proves no future in-window arrival;
      // +1s because the timestamp must exceed the watermark strictly
      state.setTimeoutTimestamp((acc.map(_.id).max + windowSec) * 1000L + 1000L)
      out.result().iterator
    }
  }

  /** Near-dup window for the bounded stream, in event-time seconds
    * (= id units here). Read by query AND oracle (c15 def contract). */
  private def neardupWindowSec(spark: SparkSession): Long =
    spark.conf.getOption("graft.neardup.windowSec").map(_.toLong).getOrElse(200L)
  private def activeNeardupWindowSec: Long =
    SparkSession.getActiveSession.map(neardupWindowSec).getOrElse(200L)

  // C22b — BOUNDED-STATE streaming near-dup: the c22 pipeline with the
  // production state discipline its doc comment promised (time-scoped
  // membership + GroupStateTimeout eviction). Same stateless banded
  // projection, same bucket state machine — but membership slides on
  // event time, so the state store holds one window of docs per live
  // bucket instead of the whole history, and idle buckets' rows are
  // REMOVED by event-time timeout (spec-proven via
  // StateOperatorProgress). The pair contract narrows exactly with it:
  // emitted pairs are the exact n-gram pairs with db − da ≤ window —
  // SQL-expressible, so this op stays hash-oracle-checked rather than
  // dropping to a recall test.
  def dedupStreamNearBounded(spark: SparkSession, dir: String): DataFrame =
    dedupStreamNearBounded(spark, dir, _ => ())

  private[graft] def dedupStreamNearBounded(spark: SparkSession, dir: String,
      onDone: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val w = neardupWindowSec(spark)
    val docs = Relational.table(spark, dir, "documents")
    val stage = Relational.stageSlices(spark, docs, col("doc_id"),
      s"graft_c22b_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val banded = withShingles(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage))
      .withColumn("hs", expr("array_distinct(transform(shingles, s -> xxhash64(s)))"))
      .withColumn("sigs", expr(minhashSigSql))
      // +1: the stream's initial watermark is epoch 0, and the late-row
      // filter drops events AT the watermark — an id-0 doc with ts =
      // epoch 0 would silently vanish from batch one. A uniform shift
      // changes no gap arithmetic.
      .withColumn("ts", timestamp_seconds(col("doc_id") + 1))
      .withWatermark("ts", "0 seconds")
      // ts rides along to the stateful operator — the event-time
      // timeout checker requires the watermarked column in its input
      .select(col("doc_id"), col("hs"), explode(expr(bandKeysSql)).as("bk"), col("ts"))
      .select(col("doc_id"), col("hs"), col("bk.band").as("band"), col("bk.key").as("key"), col("ts"))
      .as[(Long, Seq[Long], Int, Seq[Long], java.sql.Timestamp)]
    val pairs = banded
      .groupByKey { case (_, _, band, key, _) => s"$band:${key.mkString(",")}" }
      .flatMapGroupsWithState[Seq[BucketDoc], (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(boundedBucketPairs(w) _)
    StreamHarness.replayToSink(spark, pairs.toDF("da", "db", "j"), "graft_c22b_sink", onDone)
      .distinct()
      .orderBy("da", "db")
  }

  /** Exact-duplicate contraction map: (doc_id, rep, grp_n) where rep is
    * the min doc_id among docs with byte-identical text and grp_n the
    * group size. Grouped on xxhash64(text) so the shuffle carries 8-byte
    * keys instead of document text (a 64-bit collision would merge two
    * distinct texts — ~n²/2⁶⁴, the same negligible-odds tradeoff as the
    * c12 gram hashing). This is the standard first stage of a dedup
    * pipeline at scale: a crawl corpus is dominated by EXACT duplicates,
    * and contracting them before any pairwise work turns d-fold
    * duplication from a d² cost multiplier into a groupBy. */
  private[ops] def exactDupGroups(spark: SparkSession, dir: String): DataFrame = {
    val withH = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("th"))
    val groups = withH.groupBy("th")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("grp_n"))
    withH.join(groups, "th").select(col("doc_id"), col("rep"), col("grp_n"))
  }

  /** Near-dup pairs among exact-duplicate REPRESENTATIVES only — what
    * the clustering/cleaning consumers (c14, c8) actually need. Since
    * Jaccard depends only on text, J(a, b) = J(rep(a), rep(b)) and
    * identical texts are J = 1 pairs, so rep-level pairs plus the
    * contraction map carry the complete component structure of the full
    * pairwise graph while candidate generation scales with UNIQUE
    * texts: on a corpus where every doc has d copies, the full path's
    * band joins blow up ~d² per clique (the sf10 ×100 rehearsal put
    * c14 past 1800 s); this path is duplication-invariant.
    * `c2_dedup_ngram_scaled` keeps the full-pairs contract (its oracle
    * is the exact pairwise list); this is the composition entry point. */
  def nearDupRepPairs(spark: SparkSession, dir: String): DataFrame = {
    val reps = exactDupGroups(spark, dir)
      .filter(col("doc_id") === col("rep")).select(col("doc_id"))
    // size the raw SCAN, then join: sizing a joined frame would be a
    // no-op (Scale.sizeForCompute passes exchange-bearing plans
    // through), and the broadcast rep-join preserves the sized docs
    // partitioning for the shingle work downstream
    val docs = withShingles(
      Scale.sizeForCompute(Relational.table(spark, dir, "documents"))
        .join(reps, "doc_id"))
      .select(col("doc_id"), col("shingles"))
    minhashCandidates(docs)
      .select(col("da"), col("db"), expr(
        """round(size(array_intersect(sa, sb)) * 1.0D /
          |(size(sa) + size(sb) - size(array_intersect(sa, sb))), 4)""".stripMargin).as("j"))
      .filter(col("j") >= 0.8)
  }

  // C2c — SimHash near-dup: 256-bit frequency-weighted token simhash
  // (codegen'd graft_simhash, 4 independent 64-bit words; word 0 is
  // bit-for-bit the original interpreted formulation), banded 8×32-bit
  // for candidate generation (equi-join, no O(n²)), hamming-verified at
  // the same relative radius the 64-bit version used (≤8/64 → ≤32/256,
  // with 4× lower estimator variance). Deterministic (xxhash64 +
  // splitmix64 word remix). Rows-only check.
  //
  // Round-6 history: the interpreted 64-bit version spent its sf100
  // budget in the vote HOF (64 lambda applications + a vote-array copy
  // PER TOKEN) and its 4×16-bit bands birthday-saturated the 65536-key
  // space at 5M docs (12.3× growth on 10× rows — the cosine-LSH lesson:
  // band keys must grow with log₂(n), which takes a signature wide
  // enough to cut log(n)-bit keys from).
  def dedupSimHash(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // size before the hash/vote projections — signature work must scale
    // with cores on an under-partitioned source, with zero exchange on
    // a many-partitioned one (Scale.sizeForCompute doctrine)
    val docs = Scale.sizeForCompute(Relational.table(spark, dir, "documents"))
      .withColumn("hashes", expr("transform(split(text, ' '), t -> xxhash64(t))"))
      .withColumn("sigs", expr("graft_simhash(hashes, 4)"))
      .select(col("doc_id"), col("sigs"))
    // sigs bound once — the vote chain must not be inlined and
    // recomputed per band (see withShingles)
    val banded = docs.select(col("doc_id"), col("sigs"),
      explode(expr(
        """transform(array(sigs), sg ->
          |  transform(sequence(0, 7), b -> named_struct(
          |    'band', b, 'key', shiftright(sg[b div 2], (b % 2) * 32) & 4294967295L)))[0]""".stripMargin)).as("bk"))
    val cands = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      .distinct()
    cands
      .withColumn("hamming", expr(
        "aggregate(zip_with(sa, sb, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)"))
      .filter(col("hamming") <= 32)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy("da", "db")
  }

  /** Cosine similarity via the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — same sequential double accumulation as the interpreted
    * `aggregate(zip_with(...))` folds it replaced (bit-identical, oracle-
    * stable) but inside whole-stage codegen. Callers must have called
    * [[graft.functions.GraftFunctions.register]] on the session. */
  private[graft] def cosineExpr(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"graft_cosine($a, $b)")

  /** C19 — per-label embedding centroid, dimension-wise: the cluster-
    * statistics primitive behind domain mixing, IVF seeding, and drift
    * monitoring. posexplode fans each vector into (pos, value) rows, but
    * the map-side partial aggregate collapses them to labels×dims partials
    * per partition BEFORE the shuffle — at 100 TB the exchange carries
    * kilobytes, not the corpus (pinned in PlanSpec). Sums use the exact
    * scaled-long doctrine so the per-dimension means are order-independent
    * and engine-identical. */
  def groupCentroid(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n"),
        // + 0.0 normalizes IEEE -0.0 (a signed mean rounding to zero) to
        // +0.0 — DuckDB's round already returns +0.0, and the hash compare
        // distinguishes the two (caught at sf0.1)
        (round(sum(expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
          / 1000000.0 / count(lit(1)), 4) + lit(0.0)).as("mval"))
      .orderBy("label", "pos")

  // C2d — exact embedding-cosine near-dup pairs (oracle-checked).
  // O(n²) baseline; the LSH variant below is the scale path.
  def dedupCosine(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(cosineExpr("a.embedding", "b.embedding"), 4).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy("va", "vb")
  }

  // (Sign-random-projection history: round 3 shipped the sign matrix as
  // a packed array<bigint> literal folded by interpreted HOFs; round 6
  // moved the whole projection into the codegen'd graft_srp_sign
  // expression — the SrpSign seed-42 matrix prefix reproduces the old
  // literal's planes bit-for-bit, so signatures are unchanged.)

  // C2d-LSH — embedding near-dup at scale: SRP signatures, banded 8×32
  // bits for candidate generation, exact cosine verification ≥ 0.99 on
  // candidates only. The testdata has no high-cosine pairs (max ≈ 0.51 —
  // below any LSH-effective regime), so the op plants deterministic
  // noisy duplicates of the real vectors (vec_id + 100000, per-dim
  // hash-signed ±0.001 jitter) — the standard construction for
  // validating a near-dup pipeline end-to-end. Rows-only check; recall
  // vs the planted truth asserted in the spec.
  /** Planted-twin id offset: 100000 (the historical constant) or just
    * past the corpus' max id, whichever is larger. A FIXED offset
    * collides with real vec_ids once the corpus passes 100k rows
    * (round-7 advice: at sf10/sf100 the fixed +100000 put two different
    * vectors under one id, corrupting the planted construction and its
    * no-base-vector-dropped invariant) — deriving it from the data
    * makes the construction valid at every scale. One O(1)-result agg. */
  private[graft] def plantedOffset(base: DataFrame): Long =
    math.max(100000L, base.agg(max(col("vec_id"))).head().getLong(0) + 1L)

  /** Deterministic planted near-duplicates (vec_id + plantedOffset,
    * per-dim hash-signed ±0.001 jitter) — shared by the embedding
    * near-dup validators: the testdata has no natural high-cosine pairs
    * (max ≈ 0.51), so each variant validates end-to-end against this
    * planted truth. */
  private def plantedNoisy(base: DataFrame): DataFrame = plantedNoisy(base, plantedOffset(base))

  private[graft] def plantedNoisy(base: DataFrame, offset: Long): DataFrame = {
    // non-core columns (label, …) pass through untouched, so the twin
    // frame unions cleanly with whatever schema the caller carries
    val passthrough = base.columns.toSeq
      .filter(c => c != "vec_id" && c != "embedding").map(col)
    base.select((col("vec_id") + offset).as("vec_id") +:
      expr("""zip_with(embedding, sequence(0, size(embedding) - 1),
        |(x, d) -> cast(x + IF((xxhash64(concat('jit_', cast(d as string), '_', cast(vec_id as string))) & 1) = 1, 0.001D, -0.001D) as float))"""
        .stripMargin).as("embedding") +: passthrough: _*)
  }

  def dedupCosineLsh(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val base = Relational.table(spark, dir, "embeddings")
    val noisy = plantedNoisy(base)
    // Band keys are sized from n AT RUNTIME — the round-6 lesson made
    // structural. A fixed key width is a scale ceiling twice over: the
    // original 4×16-bit banding birthday-saturated its 65536-key space
    // at 4M rows (723 s — buckets collided by coincidence, not
    // similarity), and the 8×32-bit rebanding that rescued it still
    // grew 15.5× on the sf10→sf100 decade because the background pairs
    // (this corpus' mode cos ≈ 0.5 → per-bit agreement p = 1 − 60°/180°
    // = 2/3) collide in a 32-bit band at (2/3)³² ≈ 2e-6 — times n²/2
    // pairs, a quadratically-growing candidate set. Sizing the key at
    // log_{1/p}(n) bits (+4 margin) holds expected background
    // candidates per band at ~O(n) at ANY scale: 32 bits below ~8e5
    // rows, 42 at sf100's 4M, 56 by ~1e10. Planted near-dups (cos ≥
    // 0.99 → p ≥ 0.997) still collide per band at ≥ 0.86 even at the
    // 56-bit cap, so 8 bands keep recall ≥ 1 − 1e-7. Each band masks
    // its OWN 64-plane word of the 512-bit codegen'd signature (word 0
    // reproduces the old srpSigExpr bit-for-bit — same seed-42 matrix).
    val n = base.count() * 2 // planted copies double the corpus
    val bBits = math.min(56, math.max(32,
      math.ceil(math.log(n.toDouble) / math.log(1.5)).toInt + 4))
    val mask = (1L << bBits) - 1
    val e = Scale.sizeForCompute(base.unionByName(noisy))
      .withColumn("sigs", expr("graft_srp_sign(embedding, 42L, 8)"))
    // sigs bound once inside the band transform — otherwise the optimizer
    // may inline the whole 512-plane projection per band (see withShingles)
    // Only (vec_id, band key) flows into the self-join, and the
    // candidate distinct folds bare 16-byte id pairs — the
    // minhashCandidates doctrine. The round-7 warm decade re-measure
    // caught the old shape carrying BOTH 512-byte embeddings through
    // the 8×-exploded join and the distinct: at sf100 that is a
    // multi-GB spill-bound exchange (the last super-linear residue
    // after the log(n) rebanding), while the two verify joins below
    // fetch each candidate's embedding exactly once.
    val banded = e.select(col("vec_id"),
      explode(expr(
        s"""transform(array(sigs), sg ->
           |  transform(sequence(0, 7), b -> named_struct(
           |    'band', b, 'key', sg[b] & ${mask}L)))[0]""".stripMargin)).as("bk"))
    val cands = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val vecs = base.unionByName(noisy).select(col("vec_id"), col("embedding"))
    cands
      .join(vecs.select(col("vec_id").as("va"), col("embedding").as("ea")), Seq("va"))
      .join(vecs.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
      .select(col("va"), col("vb"), round(cosineExpr("ea", "eb"), 4).as("cos"))
      .filter(col("cos") >= 0.99)
      .orderBy("va", "vb")
  }

  // C2g — SEMANTIC dedup (SemDeDup shape). Public technique: Abbas,
  // Tirumala, Simig, Ganguli, Morcos — "SemDeDup: Data-efficient
  // learning at web-scale through semantic deduplication" (2023).
  // Where the LSH variant above hashes for candidates, SemDeDup
  // k-means-clusters the embedding space and compares pairs ONLY
  // within a cluster: candidate generation is a cell equi-join, so no
  // global pairing step exists at any scale, and per-cluster all-pairs
  // work is n·(n/k) — with the √n coarse quantizer reused verbatim
  // from the IVF family that is Θ(n^1.5) comparisons; production
  // corpora hold cluster POPULATION constant instead (the paper's
  // k ≈ n/1000), making the comparison volume linear — SHIPPED as
  // `graft.semdedup.cellPop` (set pop → the quantizer fits k = n/pop
  // cells; decade-measured in BASELINE.md, output-invariance vs the
  // √n configuration spec-pinned). Within-cluster
  // pairs with cosine ≥ 0.99 are semantic duplicates; the keep rule
  // (lowest vec_id survives) emits each dropped vector with its
  // witness. Approximate — a pair straddling a cluster boundary is
  // never compared, the paper's accepted price of linearity —
  // → rows-only; planted recall + keep-rule semantics in the spec.
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val base = Relational.table(spark, dir, "embeddings")
    val all = Scale.sizeForCompute(base.unionByName(plantedNoisy(base)))
      .withColumn("features",
        array_to_vector(expr("cast(embedding as array<double>)")))
    // `graft.semdedup.cellPop` set → constant-population mode: k = n/pop
    // cells via the TWO-LEVEL quantizer (hierarchical fit + (k1+k2)·d
    // assignment — both the flat fit and the flat n·k·d assignment turn
    // quadratic in n when k grows linearly). Unset → the √n fitCoarse
    // shared with the IVF family.
    val assigned = spark.conf.getOption("graft.semdedup.cellPop").map(_.toLong) match {
      case Some(p) =>
        val n = all.count()
        val k = math.max(16, math.min(1 << 20,
          math.ceil(n.toDouble / math.max(1L, p)).toInt))
        val (coFlat, subFlat, dim, k2) = fitTwoLevel(all, k)
        all.withColumn("cell",
          twoLevelCellsColOf(col("embedding"), coFlat, subFlat, dim, k2, 1).getItem(0))
      case None => fitCoarse(all).transform(all)
    }
    // sigWords everywhere (never a literal width): the incremental op
    // probes INDEX-persisted signatures, and a width drift between
    // signer and index would make sigs[i] null past the end — the join
    // condition then evaluates null and every duplicate silently passes
    // as new (round-7 advice)
    val a = assigned
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("embedding"), col("sigs"), col("cell"))
    // Within-cluster candidates ride a (vec_id, sigs, cell) projection
    // — 40-byte rows (minhashCandidates doctrine) — and the SRP Hamming
    // screen sits INSIDE the join condition: with √n cells the
    // enumerated pair volume is Θ(n^1.5), and materializing it through
    // the verify joins is the sf100 killer, so background pairs must
    // die during the hash-join probe itself. A ≥0.99-cosine pair
    // disagrees on ~4.6% of SRP planes (E[hamming] ≈ 12/256, the ≤32
    // bar is ~6σ above), while this corpus' background pairs (cos ≈
    // 0.5) sit at ~85/256 (~6σ below) — so survivors ≈ true near-dups,
    // each enumerated candidate costs 4 XOR+popcount word ops, and
    // only survivors reach the exact-cosine verify joins. Production
    // corpora additionally hold cluster POPULATION constant (k = n/pop
    // instead of √n) to make enumeration itself linear — the
    // `graft.semdedup.cellPop` conf, consumed by dedupSemantic and
    // buildIvfIndexFrom (which then fit the two-level quantizer and
    // assign through the shared indexCellsCol kernel).
    val ids = a.select(col("vec_id"), col("cell"), col("sigs"))
    // four unrolled word popcounts, NOT aggregate(zip_with(...)): a HOF
    // in the join predicate allocates arrays per ENUMERATED pair — the
    // round-6 allocation-storm trap, fatal at Θ(n^1.5) enumerations —
    // while GetArrayItem + bit_count stay inside codegen
    val hamming = (0 until sigWords).map(i =>
      expr(s"bit_count(x.sigs[$i] ^ y.sigs[$i])")).reduce(_ + _)
    val cands = ids.as("x").hint("shuffle_hash").join(ids.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id") &&
          (hamming <= hammingBar))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
    val vecs = a.select(col("vec_id"), col("embedding"))
    val pairs = cands
      .join(vecs.select(col("vec_id").as("va"), col("embedding").as("ea")), Seq("va"))
      .join(vecs.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
      .select(col("va"), col("vb"), round(cosineExpr("ea", "eb"), 4).as("cos"))
      .filter(col("cos") >= 0.99)
    // keep rule: a vector is dropped iff a lower-id in-cluster
    // duplicate exists; emit (dropped, kept_by witness, similarity).
    // min_by pairs cos with the EMITTED witness — a bare max(cos) could
    // report a different witness' similarity when several ≥0.99
    // witnesses exist (round-7 advice)
    pairs.groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("kept_by"), min_by(col("cos"), col("va")).as("cos"))
      .orderBy("vec_id")
  }

  // C3 — brute-force cosine top-k for the vec_id=0 query vector
  // (oracle-checked). The single query row broadcasts; TakeOrdered keeps
  // the sort at k rows. At scale this is one map + top-k, no shuffle of
  // the corpus.
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  // C3g — attribute-FILTERED similarity search: top-k among only the
  // vectors whose metadata row passes a predicate (the vector-DB
  // "metadata filter" / FAISS IDSelector shape — every retrieval
  // pipeline that scopes search to a language, license, or source hits
  // this). Exact baseline first (oracle-checked): the lang predicate is
  // pushed down to the documents parquet scan, the id semi-join runs
  // BEFORE the cosine projection so only passing rows pay the distance,
  // and AQE picks the join strategy (at sf the filtered id side
  // broadcasts; at 100 TB a 38%-selectivity side is a shuffle join —
  // both correct, neither driver-materialized).
  def simTopKFiltered(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
    val allowed = Relational.table(spark, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .join(allowed, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Filter selectivity for probe widening: |filtered| / |total| from
    * one aggregate pass over the metadata table (both counts together),
    * clamped to [1e-9, 1]. */
  private[graft] def filterSelectivity(docs: DataFrame,
      pred: org.apache.spark.sql.Column): Double = {
    val selRow = docs.agg(count(lit(1)).as("n"),
      count(when(pred, 1)).as("k")).head()
    math.max(selRow.getLong(1).toDouble / math.max(1L, selRow.getLong(0)), 1e-9)
  }

  /** The vec_id=0 query embedding of the single-query probes: one Spark
    * job (a filtered scan collected whole — a `limit` would scan the
    * layout's partitions one batch of jobs at a time). A missing query
    * vector fails loudly. */
  private[ops] def queryVector(indexDir: String, vectors: DataFrame): Array[Float] = {
    val q = vectors.filter(col("vec_id") === 0).select(col("embedding")).collect()
    require(q.nonEmpty,
      s"query vector vec_id=0 is not in the live index at $indexDir " +
        "(tombstoned or never indexed) — probe with a live vector")
    q.head.getSeq[Float](0).toArray
  }

  /** The `n` cells whose centroids are nearest `q` (squared L2, ties to
    * the lower cell) — the driver-side cell choice of a single-query
    * probe. */
  private[ops] def probeCellsOf(cb: IvfCodebook, q: Array[Float], n: Int): Seq[Int] =
    (0 until cb.k).map { i =>
      var d = 0.0
      var j = 0
      while (j < cb.dim) {
        val x = cb.flat(i * cb.dim + j) - q(j); d += x.toDouble * x; j += 1
      }
      (i, d)
    }.sortBy(_._2).take(n).map(_._1)

  /** C3g2 — filtered probe of the PERSISTED IVF index. Post-filtering
    * with a selectivity-widened probe set: with filter selectivity s a
    * probed cell yields only ~s of its rows as candidates, so the probe
    * takes ceil(nprobe / s) nearest cells (capped at all cells) to keep
    * the expected candidate count at the unfiltered level — the
    * standard pre/post-filter tradeoff (cf. FAISS IDSelector notes,
    * Milvus/Qdrant filtered-search docs; public practice). The cap is
    * the honest degenerate case: a very selective filter widens to
    * every cell, which IS exact brute search over the filtered subset —
    * the right plan there, since the semi-join runs before the cosine
    * projection and only passing rows pay the distance. Selectivity
    * comes from one metadata-side aggregate (no embedding scan). The cell
    * scan stays partition-pruned for any non-degenerate s; approximate
    * → rows-only, recall vs [[simTopKFiltered]] pinned in TierCSpec. */
  def annIvfFiltered(spark: SparkSession, dir: String, indexDir: String): DataFrame =
    probeIndexed(spark, indexDir, Some(englishFilter(spark, dir)))

  /** The filtered probes' `lang = 'en'` ids and their selectivity. */
  private[ops] def englishFilter(spark: SparkSession, dir: String): (DataFrame, Double) = {
    val docs = Relational.table(spark, dir, "documents")
    (docs.filter(col("lang") === "en").select(col("doc_id").as("vec_id")),
      filterSelectivity(docs, col("lang") === "en"))
  }

  /** The probe width of a single-query probe: nprobe, widened to
    * ceil(nprobe / s) cells (capped at all cells) under a filter of
    * selectivity s. */
  private[ops] def probeWidth(spark: SparkSession, cb: IvfCodebook, sel: Option[Double]): Int =
    sel.fold(nprobe(spark))(s => math.min(cb.k.toLong, math.ceil(nprobe(spark) / s).toLong).toInt)

  /** The vec_id=0 top-10 over a persisted index, optionally filtered to
    * `allowed` ids of selectivity `sel` ([[annIvfIndexed]],
    * [[annIvfFiltered]]). */
  private[ops] def probeIndexed(spark: SparkSession, indexDir: String,
      filtered: Option[(DataFrame, Double)]): DataFrame = {
    GraftFunctions.register(spark)
    val vectors = liveIndexVectors(spark, indexDir)
    val cb = ivfCodebook(spark, indexDir)
    val probeCells = probeCellsOf(cb, queryVector(indexDir, vectors), probeWidth(spark, cb, filtered.map(_._2)))
    val q = vectors.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cands = vectors.filter(col("vec_id") =!= 0 && col("cell").isin(probeCells.toSeq: _*))
    filtered.fold(cands) { case (allowed, _) => cands.join(allowed, Seq("vec_id"), "left_semi") }
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  def annIvfFilteredQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfFiltered(spark, dir, ensureIndex(spark, dir))

  // C30 — cluster-balanced DIVERSITY sampling: pick a fixed budget of
  // vectors so that dense regions (near-duplicate blobs, boilerplate
  // clusters) stop dominating the sample — the cluster-quota curation
  // move from the SemDeDup/D4 line of work (Abbas et al. 2023, Tirumala
  // et al. 2023: dedup-then-diversify beats either alone) applied as a
  // SAMPLER rather than a dropper. Cells from the same coarse quantizer
  // the ANN family fits (√n cells, bounded-sample KMeans); each cell
  // gets quota ∝ √(cell population) — the square root flattens the head
  // (a 100× denser blob gets only 10× the rows) while never starving
  // the tail (every nonempty cell keeps ≥1 row). In-cell choice is
  // hash-ranked (xxhash64 of vec_id, the c13 deterministic-sample
  // doctrine) so reruns and engines agree.
  //
  // Plan shape: one KMeans assignment projection (map-only, codegen'd
  // NearestCells), one k-row groupBy for populations (k ≈ √n, driver
  // quota arithmetic on k rows — documented O(√n) collect), one
  // window rank partitioned by cell. The window's per-cell sort is the
  // scale cost: cells hold ~√n rows each by construction, so no single
  // partition sees more than ~√n rows at any corpus size — a hot blob
  // grows the CELL COUNT it spans (quantizer splits dense mass), not
  // one partition. KMeans-derived → no SQL oracle; determinism, quota
  // math, blob-flattening, and tail coverage pinned in TierCSpec.
  def sampleDiverse(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
      .withColumn("features", array_to_vector(expr("cast(embedding as array<double>)")))
    val n = e.count()
    // budget knob like the ANN nprobe/shortlist confs; default 10%
    val frac = spark.conf.getOption("graft.sample.fraction")
      .map(_.toDouble).getOrElse(0.1)
    val target = math.max(1L, math.round(n * frac))
    val model = fitCoarse(e)
    val (flat, dim) = centroidMatrix(model)
    val assigned = e.select(col("vec_id"),
      element_at(nearestCellsColOf(col("embedding"), flat, dim, 1), 1).as("cell"))
    val pops = assigned.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val sqrtSum = pops.map { case (_, p) => math.sqrt(p.toDouble) }.sum
    val quotas = pops.map { case (c, p) =>
      val q = math.max(1L, math.round(target * math.sqrt(p.toDouble) / sqrtSum))
      (c, math.min(q, p))
    }
    val quotaDf = spark.createDataFrame(quotas.toSeq)
      .toDF("cell", "quota")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(xxhash64(col("vec_id")), col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quotaDf), Seq("cell"))
      .filter(col("rk") <= col("quota"))
      .select(col("vec_id"), col("cell"))
  }

  // C3b — IVF ANN: KMeans coarse quantizer (k=16, fixed seed), corpus
  // partitioned by nearest centroid; the query exact-scores only its
  // nprobe=8 nearest cells. At scale the centroid table is tiny and
  // broadcast, the corpus is bucketed by cell, and each query touches
  // nprobe cells instead of the full corpus. Only the 1-row query vector
  // and the k centroids are driver-materialized (O(1), documented
  // exception to the no-collect rule). Approximate → rows-only check;
  // recall vs simTopK asserted in the spec.
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
      .withColumn("features", array_to_vector(expr("cast(embedding as array<double>)")))
    val model = fitCoarse(e)
    val assigned = model.transform(e)
    val qVec = assigned.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val centroids = model.clusterCenters
    val probeCells = centroids.zipWithIndex.map { case (c, i) =>
      val d = c.toArray.zip(qVec.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum
      (i, d)
    }.sortBy(_._2).take(nprobe(spark)).map(_._1)
    val q = assigned.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    assigned.filter(col("vec_id") =!= 0 && col("cell").isin(probeCells.toSeq: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  // C3c — brute-force kNN self-join (oracle-checked): top-3 neighbors for
  // EVERY vector, the batch retrieval op behind near-dup clustering and
  // training-data curation. Ranking happens on the ROUNDED similarity so
  // both engines order identically; vb breaks ties. O(n²) correctness
  // baseline — the IVF variant below is the scale path.
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val e = Relational.table(spark, dir, "embeddings")
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(cosineExpr("a.embedding", "b.embedding"), 4).as("sim"))
    val w = Window.partitionBy(col("va")).orderBy(col("sim").desc, col("vb").asc)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("va"), col("vb"), col("sim"), col("rnk"))
      .orderBy("va", "rnk")
  }

  // C3d — IVF kNN join: KMeans coarse quantizer; each vector exact-scores
  // only the corpus inside its nprobe=8 nearest cells (cell choice per
  // vector via a broadcast k-row (≤4096) centroid table — no driver loop).
  // Work drops from n² to n × nprobe × n/k. Approximate → rows-only
  // check; recall@3 vs the brute join asserted in the spec.
  /** Coarse IVF quantizer shared by the ANN family: KMeans with
    * k ≈ √n cells (FAISS sizing rule — with fixed k the per-cell
    * population, and with it the probe cost, grows linearly with the
    * corpus, eroding the IVF advantage; observed at sf1: k=16 left only
    * a 2× reduction over brute force). count() is an O(1)-result job. */
  private[ops] def fitCoarse(e: DataFrame): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    val n = e.count()
    val k = math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))
    // train the quantizer on a bounded sample (~64 points per cell, the
    // FAISS training-budget rule): the fit is Θ(iters·sample·k·d)
    // instead of Θ(iters·n·k·d), which at sf10 had the FIT rivaling the
    // probe it accelerates. Assignment below still covers every row.
    // Deterministic: hash-bucket sample (c13 doctrine), fixed seed.
    val budget = 64L * k
    val train = if (n <= budget) e
      else e.filter(xxhash64(col("vec_id")) % lit(math.max(1L, n / budget)) === 0)
    new KMeans().setK(k).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cell").fit(train)
  }

  /** Two-level quantizer fit for constant-population mode
    * (`graft.semdedup.cellPop`). A flat KMeans at k = n/pop cells costs
    * Θ(iters·sample·k·d) = Θ(k²) with the 64-per-cell training budget —
    * at the sf100e rehearsal (k = 4000) the FIT alone outweighed the
    * enumeration it was meant to linearize. The hierarchical split
    * (FAISS IMI doctrine): fit k1 ≈ √k coarse branches on the budgeted
    * sample, assign the sample to branches with the codegen kernel, and
    * Lloyd-refine k2 ≈ k/k1 sub-centroids per branch LOCALLY — each
    * branch holds ≈ 64·k2 sample points, so the refinement is
    * Θ(iters·64·k2²·d) per branch, Θ(k^1.5)-ish overall instead of k².
    * Deterministic: seeded coarse fit, hash-bucket sample, branch
    * refinement over lexicographically sorted points with evenly-spaced
    * init and fixed iterations. Returns (coarseFlat, subFlat, dim, k2)
    * for [[graft.functions.TwoLevelCells]] assignment. */
  private[ops] def fitTwoLevel(e: DataFrame, k: Int): (Array[Float], Array[Float], Int, Int) = {
    import org.apache.spark.ml.clustering.KMeans
    val n = e.count()
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(k.toDouble / k1).toInt)
    val budget = 64L * k
    val train = (if (n <= budget) e
      else e.filter(xxhash64(col("vec_id")) % lit(math.max(1L, n / budget)) === 0))
      .localCheckpoint() // one sample, reused by both levels
    val coarseModel = new KMeans().setK(k1).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cell1").fit(train)
    val (coarseFlat, dim) = centroidMatrix(coarseModel)
    // k1 from the FITTED model, not the request: Spark KMeans returns
    // fewer than k centers on duplicate-heavy or tiny samples (exactly
    // the dedup-corpus shape); sizing subFlat with the requested k1
    // would fail TwoLevelCells' k1·k2·dim length check downstream.
    val k1f = coarseFlat.length / dim
    val subs: Map[Int, Array[Array[Double]]] = train
      .withColumn("cell1", nearestCellsColOf(col("embedding"), coarseFlat, dim, 1).getItem(0))
      .select(col("cell1"), col("embedding"))
      .rdd.map(r => (r.getInt(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .groupByKey(k1f)
      .mapValues(vs => localLloyd(vs.toArray, k2, 10))
      .collect().toMap // ≤ k1 rows of k2×d doubles — driver-safe
    val subFlat = new Array[Float](k1f * k2 * dim)
    var c = 0
    while (c < k1f) {
      val cs = subs.getOrElse(c, Array.empty)
      var s = 0
      while (s < k2) {
        var j = 0
        while (j < dim) {
          // empty branches (no sample landed) inherit the coarse
          // centroid; short branches repeat their first center —
          // duplicate centroids just tie, and ties break to lowest id
          val v: Double =
            if (s < cs.length) cs(s)(j)
            else if (cs.nonEmpty) cs(0)(j)
            else coarseFlat(c * dim + j).toDouble
          subFlat((c * k2 + s) * dim + j) = v.toFloat
          j += 1
        }
        s += 1
      }
      c += 1
    }
    (coarseFlat, subFlat, dim, k2)
  }

  /** Deterministic in-memory Lloyd's: lexicographically sorted points,
    * evenly-spaced init, fixed iterations, ties to the lowest center,
    * empty clusters keep their previous center. */
  private[graft] def localLloyd(points0: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val ord = new Ordering[Array[Double]] {
      def compare(a: Array[Double], b: Array[Double]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val cmp = java.lang.Double.compare(a(i), b(i))
          if (cmp != 0) return cmp
          i += 1
        }
        java.lang.Integer.compare(a.length, b.length)
      }
    }
    val points = points0.sorted(ord)
    val kk = math.min(k, points.length)
    if (kk == 0) return Array.empty
    val d = points(0).length
    var centers = Array.tabulate(kk)(i => points((i.toLong * points.length / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, d)
      val cnts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          var dist = 0.0
          var j = 0
          while (j < d) { val df = p(j) - centers(c)(j); dist += df * df; j += 1 }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      centers = Array.tabulate(kk) { c =>
        if (cnts(c) > 0) {
          val m = new Array[Double](d)
          var j = 0
          while (j < d) { m(j) = sums(c)(j) / cnts(c); j += 1 }
          m
        } else centers(c)
      }
      it += 1
    }
    centers
  }

  private[ops] def twoLevelCellsColOf(child: org.apache.spark.sql.Column, coarse: Array[Float],
      sub: Array[Float], dim: Int, k2: Int, nprobe: Int,
      nprobe1: Int = 1): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.{GraftColumns => ExpressionUtils}
    ExpressionUtils.column(graft.functions.TwoLevelCells(
      ExpressionUtils.expression(child), coarse, sub, dim, k2, nprobe, nprobe1))
  }

  /** THE cell-choice kernel for an index with codebook `cb`:
    * hierarchical ([[TwoLevelCells]] through the coarse codebook) when
    * the index was built constant-population, flat [[NearestCells]]
    * otherwise. EVERY reader and writer of the index must route through
    * this — the append path placing a vector with a different kernel
    * than the probe searches with silently loses the vector in boundary
    * cells (caught by the cycle-under-cellPop spec: 10 of 25
    * appended-survivor twins missed when append used the flat-global
    * argmin against a hierarchical probe — the sigWords width-drift
    * lesson, applied to cell choice). */
  private[ops] def indexCellsCol(spark: SparkSession, cb: IvfCodebook,
      nprobe: Int): org.apache.spark.sql.Column = cb.coarse match {
    case Some(co) =>
      // `graft.semdedup.coarseProbes` (default 2): search the top-b
      // coarse branches, not just the nearest — the standard FAISS
      // coarse-nprobe knob that closes the hierarchical probe's
      // coarse-boundary recall dip. b=2 is the default because the
      // round-10 coarse-width table (BASELINE.md) shows it recovering
      // 1000/1000 planted twins at sf10e AND sf100e — parity-or-better
      // vs the FLAT reference (999/1000 at sf100e) — at 1.34–1.43×
      // probe cost, still well under the flat probe's total cost
      // (BASELINE.md round-10 crossover: 32.8 s vs 43.0 s at 19k
      // cells). b=1 stays available as the opt-in economy mode
      // (993–995/1000 measured). Placement is
      // b-INVARIANT (TwoLevelCells element 1 is always the nearest
      // branch's best cell), so probe width can change over an
      // index's lifetime without re-placing.
      val b = spark.conf.getOption("graft.semdedup.coarseProbes")
        .map(_.toInt).getOrElse(2)
      twoLevelCellsColOf(col("embedding"), co, cb.flat, cb.dim,
        cb.k / (co.length / cb.dim), nprobe, b)
    case None => nearestCellsCol(cb.flat, cb.dim, nprobe)
  }

  /** nprobe-nearest-cell choice as a Column over the codegen'd
    * [[graft.functions.NearestCells]]: the k×dim centroid matrix rides
    * inside the expression (flattened floats, plan-shipped once —
    * same payload as the broadcast literal row it replaces, none of
    * the per-cell-per-row HOF allocation; see the round-6 sf100
    * rehearsal in BASELINE.md). */
  private[ops] def centroidMatrix(
      model: org.apache.spark.ml.clustering.KMeansModel): (Array[Float], Int) = {
    val cents = model.clusterCenters
    val dim = cents.head.size
    val flat = new Array[Float](cents.length * dim)
    var c = 0
    while (c < cents.length) {
      val arr = cents(c).toArray
      var j = 0
      while (j < dim) { flat(c * dim + j) = arr(j).toFloat; j += 1 }
      c += 1
    }
    (flat, dim)
  }

  private[ops] def nearestCellsCol(flat: Array[Float], dim: Int, nprobe: Int): org.apache.spark.sql.Column =
    nearestCellsColOf(col("embedding"), flat, dim, nprobe)

  /** [[NearestCells]] over an arbitrary array<float> column — the PQ
    * encoder reuses the argmin-L2 kernel per subspace slice. */
  private[ops] def nearestCellsColOf(child: org.apache.spark.sql.Column,
      flat: Array[Float], dim: Int, nprobe: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.{GraftColumns => ExpressionUtils}
    ExpressionUtils.column(graft.functions.NearestCells(
      ExpressionUtils.expression(child), flat, dim, nprobe))
  }

  private[ops] def nearestCellsCol(
      model: org.apache.spark.ml.clustering.KMeansModel, nprobe: Int): org.apache.spark.sql.Column = {
    val (flat, dim) = centroidMatrix(model)
    nearestCellsCol(flat, dim, nprobe)
  }

  def knnJoinIvf(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val e = Relational.table(spark, dir, "embeddings")
      .withColumn("features", array_to_vector(expr("cast(embedding as array<double>)")))
    val model = fitCoarse(e)
    val assigned = model.transform(e).select(col("vec_id"), col("embedding"), col("cell"))
    // probe-cell choice history: round 4 replaced a crossJoin-to-n×k-rows
    // + window shape (354M rows shuffled/sorted at sf10) with a map-side
    // HOF over one broadcast centroid row; round 6 replaced the HOF (two
    // array allocations per cell per row — the sf100 allocation storm)
    // with the codegen'd NearestCells below. Ties on distance still
    // break by cell id — the same (d, cell) total order throughout.
    // probe-cell choice is MAP-SIDE and codegen'd (NearestCells — the
    // centroid matrix ships inside the expression; no crossJoin row, no
    // HOF allocation): no exchange between the scan and the explode
    val probes = assigned
      .withColumn("probe_cells", nearestCellsCol(model, nprobe(spark)))
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        explode(col("probe_cells")).as("cand_cell"))
    // per-cell equi-join: force shuffle-hash with the corpus (n rows, the
    // smaller side — probes carry n×nprobe) as the hinted build, so
    // neither side pays a sort (the band-join doctrine)
    val scored = probes.join(assigned.select(col("vec_id").as("vb"),
        col("embedding").as("eb"), col("cell").as("cand_cell")).hint("shuffle_hash"),
        Seq("cand_cell"))
      .filter(col("va") =!= col("vb"))
      .select(col("cand_cell"), col("va"), col("vb"),
        round(cosineExpr("ea", "eb"), 4).as("sim"))
    // two-stage top-k: the global top-3 ⊆ the union of per-cell top-3s
    // (every candidate lives in exactly one probed cell), and the
    // per-cell window's (cand_cell, va) clustering is already satisfied
    // by the join's hashpartitioning(cand_cell) — a LOCAL sort, no
    // exchange. This shrinks the global window's input from
    // n·nprobe·cellpop scored pairs (≈2.8e9 at sf10 — the 335 s
    // bottleneck) to n·nprobe·3.
    val wc = Window.partitionBy(col("cand_cell"), col("va"))
      .orderBy(col("sim").desc, col("vb").asc)
    val w = Window.partitionBy(col("va")).orderBy(col("sim").desc, col("vb").asc)
    scored
      .withColumn("crk", row_number().over(wc)).filter(col("crk") <= 3)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("va"), col("vb"), col("sim"), col("rnk"))
      .orderBy("va", "rnk")
  }

  /** Screen geometry. sigWords 64-bit plane sets = 256-bit signatures:
    * the corpus' neighbors are weakly similar (max cos ≈ 0.51), so the
    * Hamming estimator needs enough planes to ORDER candidates whose
    * angles differ by a few degrees — 64 bits landed recall@3 at 0.43,
    * 128 at 0.40 on sf0.1, 256 clears the 0.5 bar with margin.
    * m survivors per probed cell × nprobe cells funnel into the global
    * top-S that alone get exact d-dim scoring. All three are per-query
    * constants → the exact re-rank stays Θ(n·S·d), linear in n.
    * m and S are index-tuning knobs (`graft.ann.hammingPerCell`,
    * `graft.ann.shortlist`) — the recall/time curve they trace is
    * measured in BASELINE.md's round-6 ANN sweep; defaults sit at the
    * measured knee. `graft.ann.nprobe` tunes cell fan-out the same way
    * for both IVF variants. */
  private[ops] val sigWords = 4
  /** Semantic-dedup Hamming screen bar, scaled to the signature width
    * (≤32/256 bits at sigWords=4 — the ≥0.99-pair 6σ margin documented
    * at the batch op). Derived, not a literal, so a sigWords change
    * moves signer, index, and screen together. */
  private[ops] val hammingBar = 8 * sigWords
  private def hammingPerCell(spark: SparkSession): Int =
    spark.conf.getOption("graft.ann.hammingPerCell").map(_.toInt).getOrElse(16)
  private[ops] def shortlistGlobal(spark: SparkSession): Int =
    spark.conf.getOption("graft.ann.shortlist").map(_.toInt).getOrElse(48)
  private[ops] def nprobe(spark: SparkSession): Int =
    spark.conf.getOption("graft.ann.nprobe").map(_.toInt).getOrElse(8)

  // C3e — two-level IVF kNN join (IVF + SRP shortlist + exact re-rank):
  // the flat probe above exact-scores every vector in its nprobe cells —
  // n · nprobe · n/k d-dimensional dot products, which with k ≈ √n is
  // Θ(n·√n·d) exact flops: the one cost model in the file that fails
  // before 100 TB. This variant breaks that ceiling by screening each
  // probed cell with packed sign-random-projection signatures first
  // (same SRP machinery as dedupCosineLsh, sigWords×64 planes):
  //   1. coarse quantize (KMeans, k ≈ √n) and sign each vector once —
  //      sigWords 64-plane projections per vector, Θ(n·d) one-time;
  //   2. per cell, pack a directory array<struct<vb, sigs>> — ONE
  //      shuffle of ~40-byte rows (vs the flat path's n·nprobe·cellpop
  //      scored pairs through sort);
  //   3. each probe row XOR+popcounts its sigs against the directory
  //      map-side (sigWords word ops per candidate instead of d
  //      multiply-adds) and keeps the m smallest Hamming distances;
  //   4. only the global top-S Hamming survivors per vector get the
  //      exact d-dimensional cosine — Θ(n·S·d), LINEAR in n.
  // Probe-side cell choice stays map-side/exchange-free (broadcast
  // centroid literal, same as the flat path). The remaining Θ(n·√n)
  // term is the popcount screen: at d=64 a candidate costs ~sigWords
  // word ops vs 64 FMAs; at production dims (768–4096 floats) the gap
  // is 100–500×, and the screen never materializes candidates as rows.
  // Measured per-scale timings: BASELINE.md round-6 rehearsal table.
  // Approximate → rows-only check; recall@3 vs the brute join asserted
  // in the spec at the same bar as the flat variant.
  def knnJoinIvf2(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Relational.table(spark, dir, "embeddings")
      .withColumn("features", array_to_vector(expr("cast(embedding as array<double>)")))
    val model = fitCoarse(e)
    // sigWords×64 planes packed as array<bigint> via the codegen'd
    // SrpSign expression — Θ(n · planes · d) one-time in generated Java.
    // (The interpreted HOF formulation allocated an array per plane per
    // row; measured at sf1 it alone out-costed the flat probe.)
    val assigned = model.transform(e)
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("embedding"), col("cell"), col("sigs"))
      // signatures feed TWO consumers (directory + probes); materialize
      // once so the plane projections aren't recomputed per branch
      .localCheckpoint()
    val (flat, dim) = centroidMatrix(model)
    twoLevelJoinOn(spark, assigned, flat, dim)
  }

  /** The two-level probe pipeline from an already-quantized,
    * already-signed corpus frame (vec_id, embedding, cell, sigs) —
    * shared by the per-query-fit path above and the persistent-index
    * path ([[knnJoinIvf2Indexed]]), which differ ONLY in where that
    * frame comes from. */
  private def twoLevelJoinOn(spark: SparkSession, assigned: DataFrame,
      flat: Array[Float], dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-cell signature directory as PARALLEL arrays (ids + flattened
    // sig words — the layout the codegen'd scan reads with zero
    // per-candidate allocation). Derived from ONE collect_list so the
    // two arrays can never disagree on order; cellpop ≈ √n entries ×
    // ~40 B — the whole directory is n × ~40 B spread over k rows
    val cellDir = assigned.groupBy(col("cell").as("cand_cell"))
      .agg(collect_list(struct(col("vec_id").as("vb"), col("sigs").as("sigsb"))).as("members"))
      .select(col("cand_cell"),
        expr("transform(members, m -> m.vb)").as("vbs"),
        expr("flatten(transform(members, m -> m.sigsb))").as("sigs_flat"))
    // map-side probe-cell choice — identical shape to the flat path:
    // codegen'd NearestCells with the centroid matrix inside the plan
    val probes = assigned
      .withColumn("probe_cells", nearestCellsCol(flat, dim, nprobe(spark)))
      .select(col("vec_id").as("va"), col("sigs").as("sigsa"),
        explode(col("probe_cells")).as("cand_cell"))
    // Hamming screen: each (va, cell) probe row scans the cell directory
    // with the codegen'd graft_hamming_topk (XOR+popcount + bounded
    // insertion, zero per-candidate allocation) and keeps its m best —
    // candidates never become rows until AFTER the screen, so the
    // n·nprobe·cellpop candidate set exists only inside one generated
    // loop, not in a shuffle, sort, or allocation. Survivors come back
    // as (h << 48 | vb) packed longs whose natural order IS (h, vb).
    val screened = probes.join(cellDir.hint("shuffle_hash"), Seq("cand_cell"))
      .select(col("va"), explode(expr(
        s"graft_hamming_topk(sigsa, vbs, sigs_flat, va, ${hammingPerCell(spark)})")).as("packed"))
    // global shortlist: union the per-cell survivors (each vb lives in
    // exactly one cell — no duplicates) and keep the S best by Hamming;
    // the window input is n·nprobe·m rows, not n·nprobe·cellpop, and it
    // sorts bare packed longs
    val ws = Window.partitionBy(col("va")).orderBy(col("packed").asc)
    val shortlist = screened
      .withColumn("srk", row_number().over(ws)).filter(col("srk") <= shortlistGlobal(spark))
      .select(col("va"), expr("packed & 281474976710655L").as("vb"))
    // exact re-rank: fetch both embeddings (shuffle-hash equi-joins on
    // the corpus — n·S tiny rows against n-row build sides) and score
    // only the shortlist with the codegen'd cosine. vb joins FIRST so
    // the va join's hashpartitioning feeds the top-3 window with only a
    // local sort — va-last saves one n·S-row exchange
    val w = Window.partitionBy(col("va")).orderBy(col("sim").desc, col("vb").asc)
    shortlist
      .join(assigned.select(col("vec_id").as("vb"), col("embedding").as("eb")).hint("shuffle_hash"), Seq("vb"))
      .join(assigned.select(col("vec_id").as("va"), col("embedding").as("ea")).hint("shuffle_hash"), Seq("va"))
      .select(col("va"), col("vb"), round(cosineExpr("ea", "eb"), 4).as("sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("va"), col("vb"), col("sim"), col("rnk"))
      .orderBy("va", "rnk")
  }

  /** Two-level kNN join over a PERSISTENT index ([[buildIvfIndex]]):
    * the fit, assignment, and signing — the one-time Θ(n·d) passes the
    * per-query path pays every call — are read back from parquet
    * instead. Same pipeline, same knobs, byte-identical results
    * (spec-pinned vs [[knnJoinIvf2]]). */
  def knnJoinIvf2Indexed(spark: SparkSession, dir: String, indexDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vectors = liveIndexVectors(spark, indexDir)
      .select(col("vec_id"), col("embedding"), col("cell"), col("sigs"))
      // one materialized read: the pipeline consumes this frame four
      // times (directory, probes, two re-rank fetches), and four scans
      // of a k-directory partitioned layout pay the listing cost 4×
      // (measured at sf10: 30.2 s vs 28.1 s for the fit path, which
      // already checkpoints); same harness-local choice as the fit path
      .localCheckpoint()
    val cb = ivfCodebook(spark, indexDir)
    twoLevelJoinOn(spark, vectors, cb.flat, cb.dim)
  }

  /** Shared index-location contract of the registry wrappers: under a
    * scratch root (`graft.index.root` conf; default java.io.tmpdir),
    * keyed by the data dir AND a fingerprint of the embeddings files
    * (names + sizes + mtimes via `FileSystem.listStatus`). The
    * fingerprint is the staleness guard: a regenerated corpus at the
    * same path must get a fresh index — a path-only key would silently
    * serve vectors from the previous corpus. Builds go DIRECTLY to a
    * builder-unique dir (key + fingerprint + appId) and publish with
    * their header commit: readiness = a live `ivf` header whose codebook
    * reads — no renames anywhere, so the contract holds on object
    * stores too.
    * Concurrent builders of the same fingerprint build side by side
    * (content is deterministic — the dirs are interchangeable) and
    * readers take the first ready one. A successful build then GCs
    * every index dir of a superseded fingerprint of the same data dir,
    * ready or not (in-flight builds of the current fingerprint stay). */
  private[ops] def ensureIndex(spark: SparkSession, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    IndexMeta.ensureDerived(spark, s"$dir/embeddings.parquet",
      s"graft_ivf_index_${key}_", ivfFamily)(
      buildIvfIndex(spark, dir, _))
  }

  /** The last component of a path — the name a header records. */
  private[ops] def baseName(p: String): String = new org.apache.hadoop.fs.Path(p).getName

  /** The segment dir generation `g` of an index (IVF or near-dup store)
    * writes. */
  private[ops] def segOf(indexDir: String, g: String): String = s"$indexDir/seg_${baseName(g)}"

  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Per-CALL scratch dir under java.io.tmpdir, with SCOPED prefix GC:
    * leftovers of finished runs (other-app dirs idle ≥ 30 minutes) are
    * removed before a new dir is handed out — repeated Verify/sweep
    * runs must not fill /tmp with index copies. Two round-6 advice
    * findings are structural fixes here: GC never touches another LIVE
    * process's dirs (the age gate — the old prefix GC deleted any
    * match, racing concurrent runs), and never this app's own earlier
    * dirs (a lazily-evaluated frame returned by an earlier wrapper
    * call may still read them; per-call sequence numbers make reuse
    * impossible instead). Shared with graft.ops.Training's
    * persisted-LM wrapper and the lifecycle rehearsal tool. */
  private[graft] def freshScratch(spark: SparkSession, prefix: String): String = {
    val tmpRoot = System.getProperty("java.io.tmpdir")
    val appId = spark.sparkContext.applicationId
    val now = System.currentTimeMillis()
    IndexMeta.list(spark, tmpRoot)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(prefix) && !n.contains(appId) &&
          now - st.getModificationTime > 30 * 60 * 1000
      }
      .foreach(st => IndexMeta.delete(spark, st.getPath.toString))
    s"$tmpRoot/$prefix${appId}_${scratchSeq.incrementAndGet()}"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c3_knn_join_ivf2x" -> ((s: SparkSession, d: String) => knnJoinIvf2Indexed(s, d, ensureIndex(s, d))),
    "c3_knn_join" -> (knnJoin _),
    "c3_knn_join_ivf" -> (knnJoinIvf _),
    "c3_knn_join_ivf2" -> (knnJoinIvf2 _),
    "c2_dedup_ngram" -> (dedupNgram _),
    "c2_dedup_minhash" -> (dedupMinHash _),
    "c2_dedup_ngram_scaled" -> (dedupNgramScaled _),
    "c22_dedup_stream_near" -> (dedupStreamNear _),
    "c22b_dedup_stream_bounded" -> ((s: SparkSession, d: String) => dedupStreamNearBounded(s, d)),
    "c27_dedup_incremental" -> (dedupIncrementalQuery _),
    "c22d_dedup_stream_store" -> (dedupStreamNearStore _),
    "c2_dedup_simhash" -> (dedupSimHash _),
    "c2_dedup_cosine" -> (dedupCosine _),
    "c2_dedup_cosine_lsh" -> (dedupCosineLsh _),
    "c2_dedup_semantic" -> (dedupSemantic _),
    "c2_dedup_semantic_inc" -> (dedupSemanticIncrementalQuery _),
    "c2_dedup_semantic_cycle" -> (dedupSemanticCycleQuery _),
    "c22c_dedup_semantic_stream" -> (dedupSemanticStreamQuery _),
    "c12b_decontaminate_semantic" -> (decontaminateSemanticQuery _),
    "c3_sim_topk" -> (simTopK _),
    "c3_sim_topk_filtered" -> (simTopKFiltered _),
    "c3_ann_filtered" -> (annIvfFilteredQuery _),
    "c3_ann_pq_filtered" -> (annIvfPqFilteredQuery _),
    "c30_sample_diverse" -> (sampleDiverse _),
    "c3_ann_ivf" -> (annIvf _),
    "c3_ann_ivfpq" -> (annIvfPq _),
    "c3_ann_ivfpq_indexed" -> (annIvfPqIndexedQuery _),
    "c3_ann_indexed" -> (annIvfIndexedQuery _),
    "c3_ann_batch" -> (annIvfBatchQuery _),
    "c42_rag_e2e" -> (ragE2E _),
    "c42b_rag_ingest" -> (ragIncrementalQuery _),
    "c42c_rag_stream" -> (ragStreamQuery _),
    "c3_ann_index_append" -> (annIndexAppendQuery _),
    "c3_ann_index_compact" -> (annIndexCompactQuery _),
    "c3_ann_index_delete" -> (annIndexDeleteQuery _),
    "c19_group_centroid" -> (groupCentroid _))

  /** The exact n-gram Jaccard pair SQL — the shared oracle of the exact
    * path (c2_dedup_ngram), the batch LSH→exact composition
    * (c2_dedup_ngram_scaled), and the STREAMING LSH→exact composition
    * (c22_dedup_stream_near): all three must produce this exact result. */
  private def ngramPairsOracleWhere(extraWhere: String) =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |    ELSE list_transform(generate_series(1, len(t) - 2),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingles FROM toks),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
       |SELECT da, db, round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS j
       |FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8$extraWhere
       |ORDER BY da, db""".stripMargin

  private val ngramPairsOracle = ngramPairsOracleWhere("")

  // a def, not a val: the c22b entry embeds the session's EFFECTIVE
  // near-dup window at dump time (the c15/c25 conf-threading contract)
  def oracleSql: Map[String, String] = Map(
    // the bounded stream emits exactly the in-window slice of the
    // exact pair set — the window bound doubles as an id-gap clause
    // because event time is the id in seconds
    "c22b_dedup_stream_bounded" ->
      ngramPairsOracleWhere(s" AND db - da <= $activeNeardupWindowSec"),
    "c2_dedup_ngram" -> ngramPairsOracle,
    // the scaled pipeline must produce exactly the exact-ngram result
    "c2_dedup_ngram_scaled" -> ngramPairsOracle,
    // ... and so must the streaming composition, batch-split and all
    "c22_dedup_stream_near" -> ngramPairsOracle,
    // ... and the persistent store after build(95%) + append(5%)
    "c27_dedup_incremental" -> ngramPairsOracle,
    // ... and the store-backed STREAM: the same complete pair set,
    // accumulated micro-batch by micro-batch through the store
    "c22d_dedup_stream_store" -> ngramPairsOracle,
    "c2_dedup_cosine" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(cast(list_cosine_similarity(cast(a.embedding as double[]),
        |    cast(b.embedding as double[])) as double), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(cast(list_cosine_similarity(cast(a.embedding as double[]),
        |    cast(b.embedding as double[])) as double), 4) >= 0.45
        |ORDER BY va, vb""".stripMargin,
    "c3_knn_join" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    round(cast(list_cosine_similarity(cast(a.embedding as double[]),
        |      cast(b.embedding as double[])) as double), 4) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT va, vb, sim,
        |  row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rnk FROM pairs)
        |SELECT va, vb, sim, rnk FROM r WHERE rnk <= 3
        |ORDER BY va, rnk""".stripMargin,
    "c3_sim_topk" ->
      """SELECT vec_id,
        |  round(cast(list_cosine_similarity(cast(embedding as double[]),
        |    (SELECT cast(embedding as double[]) FROM embeddings WHERE vec_id = 0)) as double), 4) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "c3_sim_topk_filtered" ->
      """SELECT vec_id,
        |  round(cast(list_cosine_similarity(cast(embedding as double[]),
        |    (SELECT cast(embedding as double[]) FROM embeddings WHERE vec_id = 0)) as double), 4) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |  AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // zipped unnests pair each value with its 0-based position; scaled-long
    // sums keep the mean order-independent across engines
    "c19_group_centroid" ->
      """WITH x AS (SELECT label, unnest(cast(embedding as double[])) AS v,
        |  unnest(generate_series(0, len(embedding) - 1)) AS pos FROM embeddings)
        |SELECT label, pos, count(*) AS n,
        |  round(cast(sum(cast(round(v * 1000000, 0) as bigint)) as bigint)
        |    / 1000000.0 / count(*), 4) + 0.0 AS mval
        |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin)
}
