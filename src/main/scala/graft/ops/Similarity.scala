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
object Similarity {

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
  private def withShingles(df: DataFrame): DataFrame =
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
  private val bandKeysSql =
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

  // ------------------------------------------------------------------
  // C27 — PERSISTENT near-dup signature store: the c24b/IVF-index
  // treatment applied to MinHash dedup. Every batch variant above
  // re-shingles and re-signs the WHOLE corpus per run, and c22 keeps
  // its bucket state only inside one streaming session — but the
  // daily-crawl reality is "dedup this arrival batch against a 100 TB
  // corpus", which must not pay a corpus-sized text pass per batch.
  // The store persists three tables under an index dir:
  //   shingles/  (doc_id, hs)   — distinct xxhash64'd 3-gram shingles
  //   bands/     (bkh, doc_id)  — the doc's 16 banded-minhash bucket
  //                               keys, each folded to ONE 8-byte
  //                               xxhash64 of the (band, key) struct
  //   pairs/     (da, db, j)    — the verified near-dup pair set so far
  // A new batch shingles/signs ITSELF (Θ(batch) — the same stateless
  // banded projection the batch join and c22 share), probes bands/ for
  // arrival-vs-corpus candidates plus itself for arrival-vs-arrival,
  // exact-verifies every candidate by hashed-shingle Jaccard against
  // shingles/, and appends all three tables — so pairs/ stays COMPLETE:
  // after build(95%) + append(5%) it equals the exact n-gram pair set
  // on the union, the same ngramPairsOracle contract the batch
  // composition (c2_dedup_ngram_scaled) and the stream (c22) obey.
  //
  // 100 TB shape: the per-batch cost never touches corpus TEXT. The
  // candidate probe is a map-side scan of bands/ (16 × 16-byte rows
  // per doc ≈ 1% of corpus bytes) against the BROADCAST arrival band
  // keys — no corpus shuffle, no sort (c12 doctrine); the verify joins
  // fetch only candidate docs' shingle sets from shingles/. Batches
  // are caller-chunked to broadcast size (~100k docs); above that the
  // same plan runs with the probe hinted shuffle_hash. Single-writer
  // append contract like the IVF index; re-appending a batch is the
  // caller's to prevent (or guard with a marker, as appendToIvfIndex).

  /** Minhash signature computed from the HASHED shingle set instead of
    * the raw strings. Bit-identical to [[minhashSigSql]]: that formula
    * is `min over shingles of xxhash64(xxhash64(s), i)` and `hs` holds
    * exactly `array_distinct(transform(shingles, s -> xxhash64(s)))` —
    * a min is insensitive to the dedup, so hashing first changes
    * nothing (pinned in TierCSpec). This is what lets the store verify
    * AND re-sign from 8-byte longs without ever re-reading text. */
  private[ops] val minhashSigFromHsSql =
    """transform(array(hs), h0 ->
      |  transform(sequence(0, 63), i ->
      |    array_min(transform(h0, h -> xxhash64(h, i)))))[0]""".stripMargin

  /** (doc_id, hs) → (bkh, doc_id): the 16 banded bucket keys, folded
    * to one xxhash64 each. Folding the (band, key) struct to 8 bytes
    * can only ADD candidates (a fold collision pairs two unrelated
    * buckets — killed by exact verification), never lose one: equal
    * slices always fold equal. */
  private def bandKeysOf(sh: DataFrame): DataFrame =
    sh.withColumn("sigs", expr(minhashSigFromHsSql))
      .select(col("doc_id"), explode(expr(bandKeysSql)).as("bk"))
      .select(xxhash64(col("bk")).as("bkh"), col("doc_id"))

  /** Exact hashed-shingle Jaccard over candidate (da, db) pairs, with
    * shingle sets fetched from `sh` — the one place candidate docs'
    * (still only hashed) content is touched.
    *
    * Round-15 (verdict item 5, guide §3): (1) a SIZE-BAND prefilter
    * drops pairs that provably cannot verify before paying the
    * O(|ha|+|hb|) intersection — survivors need round(J,4) ≥ 0.8, i.e.
    * J ≥ 0.79995 (HALF_UP), and J ≤ min/max (inter ≤ min size, union ≥
    * max size), so min·20000 < max·15999 ⇒ certain failure. Exact
    * integer arithmetic on longs — never drops a true survivor, pinned
    * by the c27/c22d oracle hashes. (2) the Jaccard expression stays the
    * PLAIN double-reference form on purpose: whole-stage codegen's
    * subexpression elimination already computes the intersection once,
    * and rebinding it through a `transform` lambda (the withShingles
    * move) pushes the projection OUT of codegen into interpreted
    * HigherOrderFunction evaluation — measured +1.1 s on the sf1 c27
    * A/B (8.31 vs 6.88/7.17 s), a de-optimization. */
  private[graft] def verifyPairs(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("da"), col("hs").as("ha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("hs").as("hb")), Seq("db"))
      .filter(least(size(col("ha")), size(col("hb"))).cast("long") * 20000L >=
        greatest(size(col("ha")), size(col("hb"))).cast("long") * 15999L)
      .select(col("da"), col("db"), expr(
        """round(size(array_intersect(ha, hb)) * 1.0D /
          |(size(ha) + size(hb) - size(array_intersect(ha, hb))), 4)""".stripMargin).as("j"))
      .filter(col("j") >= 0.8)

  /** (doc_id, hs) projection of a raw documents frame — the only pass
    * that reads text; everything downstream is 8-byte longs. */
  private[graft] def hashedShingles(spark: SparkSession, docs: DataFrame): DataFrame =
    withShingles(Scale.sizeForCompute(docs))
      .select(col("doc_id"),
        expr("array_distinct(transform(shingles, s -> xxhash64(s)))").as("hs"))

  /** The store's live table dir — same max-committed-generation
    * resolution as the IVF vectors layout ([[IndexMeta]]), so builds,
    * appends, and compactions commit without a single rename. */
  private[graft] def nearDupTablePath(spark: SparkSession, indexDir: String,
      table: String): String =
    IndexMeta.requireLive(spark, indexDir, table)

  private def storeTable(spark: SparkSession, indexDir: String, table: String): DataFrame =
    Relational.cachedSchemaParquet(spark, nearDupTablePath(spark, indexDir, table))

  /** Build the store: one text pass writes shingles/, then bands/ and
    * the corpus-internal pairs/ derive from the PERSISTED hashes (the
    * shingle pass is the expensive one — recomputing it per derived
    * table would triple the corpus read). Each table lands in a fresh
    * generation dir; a rebuild supersedes the old generations only at
    * commit. */
  def buildNearDupIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit = {
    val (shDir, oldSh) = IndexMeta.nextGen(spark, indexDir, "shingles")
    Relational.writeParquet(hashedShingles(spark, docs), shDir)
    val sh = Relational.cachedSchemaParquet(spark, shDir)
    val (bandDir, oldBands) = IndexMeta.nextGen(spark, indexDir, "bands")
    Relational.writeParquet(bandKeysOf(sh), bandDir)
    val bands = Relational.cachedSchemaParquet(spark, bandDir)
    val cands = bands.as("a").hint("shuffle_hash").join(bands.as("b"),
        col("a.bkh") === col("b.bkh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val (pairDir, oldPairs) = IndexMeta.nextGen(spark, indexDir, "pairs")
    Relational.writeParquet(verifyPairs(cands, sh), pairDir)
    (oldSh ++ oldBands ++ oldPairs).foreach(IndexMeta.delete(spark, _))
  }

  /** Dedup an arrival batch against the store WITHOUT re-signing the
    * corpus, then append it. Returns an UPPER BOUND on the parquet
    * files this append added to any single store table (0 for a marker
    * no-op) — the [[StreamHarness.CensusCadence]] increment. The bound
    * must be per-table, not "arrival rows": one arrival matching many corpus
    * dups emits many PAIR rows spread across shuffle partitions, each
    * non-empty partition writing a file, so the pairs table can gain
    * more files than the batch has rows. Each table's files added is
    * capped by both its row count (every file holds ≥ 1 row) and its
    * write's partition count; the returned bound is the max across the
    * three tables. The updated pairs/ is the result surface
    * ([[nearDupIndexPairs]]); new-pair extraction is an anti-join away
    * if a caller wants just the delta. Arrival ids must be new
    * (guarded loudly, the appendToIvfIndex doctrine: a re-appended id
    * would duplicate its band rows and self-pair).
    *
    * Crash contract: the three appends are not atomic. Pairs are
    * computed BEFORE any table is touched, and shingles/ lands FIRST —
    * so a crashed append either left nothing (clean re-run) or left at
    * least the arrival ids in shingles/, which makes the bare re-run
    * fail LOUDLY on the id guard instead of silently duplicating pair
    * rows (the failure mode of a pairs-first order). With `batchId`
    * the committed-append marker (written after all three tables, the
    * appendToIvfIndex retry contract) makes re-runs of a COMPLETED
    * batch no-ops; a batch that crashed mid-append is repaired by
    * rebuilding the store — which is why production batches carry an
    * id. */
  def appendToNearDupIndex(spark: SparkSession, indexDir: String, newDocs: DataFrame,
                           batchId: Option[String] = None): Long = {
    val marker = batchId.map(b =>
      s"$indexDir/_appended_${b.replaceAll("[^A-Za-z0-9._-]", "_")}")
    if (marker.exists(IndexMeta.exists(spark, _))) return 0L
    // localCheckpoint: the arrival projection feeds four consumers
    // (guard, candidates, verify, two appends) — without it each
    // re-shingles the batch (same harness-local choice as knnJoinIvf2)
    val arr = hashedShingles(spark, newDocs).localCheckpoint()
    val corpusSh = storeTable(spark, indexDir, "shingles")
    // id guard + arrival row count in ONE job (round-15 fold): both
    // read the pinned arrival, and the count feeds the probe dispatch
    // AND the files-added bound below
    val hdr = arr.agg(count(lit(1)).as("n"))
      .crossJoin(corpusSh.select(col("doc_id"))
        .join(broadcast(arr.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .limit(5).agg(collect_list(col("doc_id")).as("clash")))
      .head()
    val clash = hdr.getAs[scala.collection.Seq[Long]]("clash")
    require(clash.isEmpty,
      s"arrival batch re-inserts indexed doc ids ${clash.mkString(", ")} — " +
        "appending would duplicate their band rows and emit self-pairs; " +
        "dedup the batch against the store's ids first" +
        (if (batchId.isDefined) " (a batch that crashed mid-append needs a " +
          "store rebuild; a completed batch re-run is already a marker no-op)"
         else ""))
    val arrRows = hdr.getLong(0)
    // materialize the pair delta before any table mutates: the probe
    // must see the PRE-append store, not a half-appended one
    val newPairs = probeNearDupIndex(spark, indexDir, arr, arrRows).localCheckpoint()
    // pairs files-added bound (cheap: newPairs is localCheckpoint'd,
    // so count() reads cached blocks). bands is a narrow explode of
    // arr — same write partitioning.
    val arrParts = arr.rdd.getNumPartitions.toLong
    val pairRows = newPairs.count()
    val pairParts = newPairs.rdd.getNumPartitions.toLong
    // through the memo-recording writer: the next probe's reads of the
    // grown tables construct without a footer-inference job
    Relational.writeParquet(arr, nearDupTablePath(spark, indexDir, "shingles"), "append")
    Relational.writeParquet(bandKeysOf(arr), nearDupTablePath(spark, indexDir, "bands"), "append")
    Relational.writeParquet(newPairs, nearDupTablePath(spark, indexDir, "pairs"), "append")
    marker.foreach(IndexMeta.createMarker(spark, _))
    math.max(math.min(arrRows, arrParts), // shingles; bands shares arr's partitioning
      math.min(pairRows, pairParts))
  }

  /** Store COMPACTION — the same LSM move as [[compactIvfIndex]]:
    * every append adds a handful of files to each table, and a year of
    * daily batches turns the map-side bands probe into tens of
    * thousands of file opens (measured on the IVF side: the 50-batch
    * sf100 soak degraded probes 6.8× purely in open cost). Each table
    * rewrites at the target file size into its next generation and
    * commits by `_SUCCESS` — contents untouched, no renames, crash at
    * any point leaves the previous generation live. Maintenance op for
    * a quiesced store (single writer), like the IVF compaction. */
  def compactNearDupIndex(spark: SparkSession, indexDir: String,
                          targetFileBytes: Long = 128L << 20): Unit =
    Seq("shingles", "bands", "pairs").foreach { table =>
      val live = nearDupTablePath(spark, indexDir, table)
      val bytes = IndexMeta.bytesUnder(spark, live, ".parquet")
      val nf = math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
      val (next, oldGens) = IndexMeta.nextGen(spark, indexDir, table)
      Relational.writeParquet(Relational.cachedSchemaParquet(spark, live).repartition(nf), next)
      oldGens.foreach(IndexMeta.delete(spark, _))
    }

  /** Probe-side dispatch (round-7 advice item 4): the incremental
    * probes want the arrival side BROADCAST — the corpus scan stays
    * map-only, zero corpus-side exchange — but a hard-coded broadcast
    * is a silent OOM cliff on a big crawl day. Below
    * `graft.probe.broadcastMaxRows` (default 100k — ~5 MB of band keys
    * or (id, sigs, cell) rows) the arrival frame broadcasts; above it
    * the SAME plan runs as a shuffle_hash join with the arrival side
    * as the build (both sides exchange on the equi-key — the corpus
    * pays one hash exchange, the price of not OOMing the driver).
    * `n` is the arrival-batch row count the caller already knows or
    * can count cheaply on the un-projected input. */
  private def probeBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.probe.broadcastMaxRows").map(_.toLong).getOrElse(100000L)

  private def dispatchProbeSide(spark: SparkSession, arr: DataFrame, n: Long): DataFrame =
    if (n <= probeBroadcastMaxRows(spark)) broadcast(arr) else arr.hint("shuffle_hash")

  /** The arrival-batch probe plan: candidates from arrival keys vs
    * (corpus ∪ arrival) keys, exact-verified. The arrival side
    * BROADCASTS below the dispatch threshold, so the corpus bands scan
    * is map-only — the whole probe is one pass over 16-byte rows with
    * ZERO exchange of corpus data (PlanSpec-pinned: one
    * BroadcastHashJoin, no hash exchange on a band key anywhere);
    * above it the arrival side becomes a shuffle_hash build
    * (hash-identical output, spec-pinned). least/greatest + distinct
    * folds the doubled arrival-arrival matches and the multi-band
    * collisions alike. `arr` is the (doc_id, hs) arrival projection. */
  private[graft] def probeNearDupIndex(spark: SparkSession, indexDir: String,
      arr: DataFrame, arrRows: Long = -1L): DataFrame = {
    val arrBands = bandKeysOf(arr)
    val corpusBands = storeTable(spark, indexDir, "bands")
    val corpusSh = storeTable(spark, indexDir, "shingles")
    val allBands = corpusBands.unionByName(arrBands)
    // the dispatch row count is one more job per probe when the caller
    // already knows it (round-15: the append path counts the pinned
    // arrival anyway and passes it in; -1 = count here)
    val n = if (arrRows >= 0) arrRows else arr.count()
    val cands = allBands.as("b")
      .join(dispatchProbeSide(spark, arrBands, n).as("a"),
        col("a.bkh") === col("b.bkh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .distinct()
    verifyPairs(cands, corpusSh.unionByName(arr))
  }

  /** The store's verified near-dup pair set, total-ordered. */
  def nearDupIndexPairs(spark: SparkSession, indexDir: String): DataFrame =
    storeTable(spark, indexDir, "pairs").orderBy("da", "db")

  /** Registry wrapper: build the store on the 95% slice (doc_id ≢ 7
    * mod 20 — the c24b split), append the held-out 5% as the arrival
    * batch, read pairs/ back. Must hash-match the exact n-gram pair
    * oracle over ALL documents — corpus-internal pairs from the build,
    * arrival-crossing pairs from the append, none double-counted. */
  // C22d — store-backed STREAMING near-dup: the text family's
  // foreachBatch leg, mirroring c22c for embeddings. Each micro-batch
  // of document arrivals makes ONE idempotent store call
  // ([[appendToNearDupIndex]]: probe the pre-append store for the pair
  // delta, append all three tables, commit the batch marker), so
  // cross-batch pairs are caught through the STORE — batch 3's docs
  // pair against the corpus AND batches 1–2 — and state lives on
  // shared storage (unbounded capacity, restart-from-checkpoint with
  // no state-store recovery), where c22/c22b hold bucket state in
  // executors. Exactly-once: the streaming engine replays a crashed
  // batch with its batchId, and the append marker turns the replay
  // into a no-op. The decisive property vs c22b: pairs/ stays
  // COMPLETE, so the streaming op hash-matches the SAME exact n-gram
  // pair oracle as the batch store (c27) — no window restriction, no
  // recall test.
  def dedupStreamNearStore(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_neardup_stream_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx)
    dedupStreamNearStoreOn(spark, idx,
      docs.filter(col("doc_id") % 20 === 7), s"graft_c22d_$key")
  }

  /** Replay `arrivals` (sliced by doc_id) one file per trigger into the
    * store at `idx`; returns the store's complete pair set. Spec entry
    * point for planted-arrival cross-batch proofs. */
  private[graft] def dedupStreamNearStoreOn(spark: SparkSession, idx: String,
      arrivals: DataFrame, name: String,
      nSlices: Int = Relational.replaySlices): DataFrame = {
    StreamHarness.run(spark, name, arrivals, col("doc_id"), nSlices,
        Some(StreamHarness.Maintenance(() => nearDupCensus(spark, idx),
          () => compactNearDupIndex(spark, idx)))) { b =>
      // the files-added bound is the append's own per-table bound, NOT
      // the batch's row count: a dup-heavy arrival can write more pair
      // files than it has rows (see appendToNearDupIndex's contract)
      val filesAdded = appendToNearDupIndex(spark, idx, b.df, Some(b.key))
      () => filesAdded
    }
    nearDupIndexPairs(spark, idx)
  }

  /** True file census of the near-dup store: max across its three
    * tables (each append adds files to all three). */
  private def nearDupCensus(spark: SparkSession, idx: String): Long =
    Seq("shingles", "bands", "pairs")
      .map(t => IndexMeta.countUnder(spark, nearDupTablePath(spark, idx, t), ".parquet"))
      .max

  def dedupIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_neardup_idx_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx.toString)
    appendToNearDupIndex(spark, idx.toString, docs.filter(col("doc_id") % 20 === 7))
    nearDupIndexPairs(spark, idx.toString)
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

  // C2h — INCREMENTAL semantic dedup: dedup an ARRIVAL batch against an
  // INDEXED corpus — the embeddings analogue of the c27 near-dup store,
  // composed entirely from persisted index artifacts. The daily-crawl
  // reality is "is this new embedding a semantic dup of anything in the
  // 100 TB corpus", and re-running dedupSemantic over the union would
  // re-cluster and re-sign everything per batch. Instead: arrivals
  // assign themselves to the PERSISTED centroids (codegen'd
  // NearestCells, Θ(batch·k·d) map work) and sign themselves once; the
  // corpus side is the index layout's (vec_id, sigs, cell) projection —
  // 40-byte rows, cell-partition-pruned to the arrivals' cells, NO
  // corpus embedding read until verify — screened by the same in-join
  // unrolled-popcount Hamming bar as the batch op, exact-verified at
  // cosine ≥ 0.99 on survivors only. Tombstoned corpus ids are excluded
  // (a deleted vector must not block an arrival). Within-batch dups are
  // the batch op's job ([[dedupSemantic]] on the arrivals); this op is
  // the arrival-vs-corpus half. Approximate (cell-boundary misses, as
  // the batch op) → rows-only; planted corpus-twin recall + witness +
  // no-false-drop pinned in the spec.
  def dedupSemanticIncremental(spark: SparkSession, indexDir: String,
      arrivals: DataFrame): DataFrame = {
    val arr = semProbeProjection(spark, indexDir, arrivals)
    val corpus = liveIndexVectors(spark, indexDir)
    val hamming = semHamming("a", "c")
    // the arrival side BROADCASTS below the dispatch threshold (c27
    // probe doctrine): the corpus sigs scan stays map-only — zero
    // corpus-side exchange, which at 100 TB is the difference between
    // a pruned 40-byte-row scan and a corpus shuffle. Above
    // graft.probe.broadcastMaxRows the SAME plan runs with the arrival
    // side as a shuffle_hash build — no silent OOM cliff on a big
    // crawl day (hash-identical output, spec-pinned).
    // a.vec_id =!= c.vec_id: a vector is not a duplicate of itself.
    // Reachable exactly when a batch is REPLAYED after its append
    // committed (the c22c crash window: marker makes the re-append a
    // no-op, but the re-PROBE now sees the batch's own survivors in
    // the index at cos 1.0) — without the exclusion every survivor
    // would self-drop on replay, breaking the foreachBatch
    // exactly-once claim. Spec-pinned by the replay-identity test.
    val cands = corpus.select(col("vec_id"), col("sigs"), col("cell")).as("c")
      .join(dispatchProbeSide(spark, arr, arrivals.count()).as("a"),
        col("a.cell") === col("c.cell") && col("a.vec_id") =!= col("c.vec_id") &&
          (hamming <= hammingBar))
      .select(col("a.vec_id").as("arrival_id"), col("c.vec_id").as("corpus_id"))
    semVerifyKeep(cands, arrivals, corpus).orderBy("arrival_id")
  }

  /** Registry wrapper: index the 95% slice (the c24b split), probe an
    * arrival batch of the held-out 5% PLUS planted noisy twins of
    * indexed vectors — every twin must drop against its corpus
    * original, the genuinely-new held-outs must pass. */
  def dedupSemanticIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_sem_inc_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    buildIvfIndexFrom(spark, corpus.select(col("vec_id"), col("embedding")), idx)
    // offset from the FULL table: the held-out arrivals can carry ids
    // above the corpus slice's max, and a slice-derived offset could
    // land a planted twin on a held-out id
    val arrivals = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
      .unionByName(plantedNoisy(corpus, plantedOffset(e))
        .select(col("vec_id"), col("embedding")))
    dedupSemanticIncremental(spark, idx, arrivals)
  }

  // C2i — the semantic-dedup APPEND CYCLE: the ladder's last rung
  // (round-7 verdict item 3). The incremental op alone answers "is this
  // arrival a dup of the corpus?", but a daily pipeline must also FOLD
  // the survivors in, or batch N+1 cannot dedup against batch N's
  // survivors. The cycle composes the two existing primitives:
  // dedupSemanticIncremental (probe) → anti-join off the drop list →
  // appendToIvfIndex (survivors join the layout at assignment cost,
  // Θ(batch) — cell-assigned against the SAME persisted centroids every
  // probe reads, signed with the shared sigWords width), and the next
  // batch's probe sees corpus + survivors through the identical
  // cell-pruned plan. PQ-sidecar interaction: the append flips the
  // sidecar stale, and addPqToIndex repairs it Θ(batch) with frozen
  // books (the round-8 delta path) — the cycle never forces a corpus
  // re-encode. Approximate (cell-boundary misses, as every SemDeDup
  // variant) → rows-only; the batch-2-twin-of-a-batch-1-survivor
  // catch is pinned in the spec.
  /** Dedup `arrivals` against the index AND append the survivors.
    * Returns the drop list ((arrival_id, kept_by, cos) — the
    * incremental op's contract); survivors are visible to the next
    * probe the moment the append commits. */
  def dedupSemanticWithAppend(spark: SparkSession, indexDir: String,
      arrivals: DataFrame, batchId: Option[String] = None): DataFrame = {
    // drops materialize BEFORE the append (the c27 pre-append-probe
    // doctrine), and survivors checkpoint so the append's writes never
    // re-evaluate a plan that reads the index being mutated.
    //
    // TWO screens, unioned: against the INDEX (the incremental probe)
    // and WITHIN the batch (the self-screen). Without the latter, a
    // twin pair arriving in the SAME micro-batch appends both copies —
    // dedup quality would depend on batch boundaries (measured: the
    // same 5% slice yields 750 drops in 32 batches, 0 in 8 — a big
    // crawl day would silently under-dedup), and a crash REPLAY of a
    // twin-carrying batch would diverge (the re-probe sees the twin's
    // surviving sibling in the index and drops what it kept). With the
    // self-screen, survivors are exactly the arrivals matching neither
    // the index nor any lower-id batch member — a pure function of
    // (index-before, batch), so the replay-identity contract holds for
    // every batch, twins or not.
    val indexDrops = dedupSemanticIncremental(spark, indexDir, arrivals)
    val selfDrops = dedupSemanticSelfScreen(spark, indexDir, arrivals)
    val drops = indexDrops.unionByName(selfDrops)
      .groupBy(col("arrival_id"))
      .agg(min(col("kept_by")).as("kept_by"),
        min_by(col("cos"), col("kept_by")).as("cos"))
      .localCheckpoint()
    val survivors = arrivals
      .join(drops.select(col("arrival_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    appendToIvfIndex(spark, indexDir, survivors, batchId)
    drops
  }

  /** The within-batch screen of [[dedupSemanticWithAppend]]: arrival
    * pairs in a shared probe cell, SRP-hamming-screened, cosine-verified
    * at the same 0.99 bar as the index probe; the HIGHER id drops
    * against the lowest matching lower id (the family keep rule). Pure
    * function of the batch — no index read beyond the quantizer — so it
    * is replay-stable by construction. Cost: batch×batch within cells,
    * negligible against the corpus-scale index probe. */
  private def dedupSemanticSelfScreen(spark: SparkSession, indexDir: String,
      arrivals: DataFrame): DataFrame = {
    val arr = semProbeProjection(spark, indexDir, arrivals)
    // strict < (not =!=): the pair is screened once, lowest id is the
    // keeper — and a multi-cell co-occurrence dedups via distinct
    val cands = arr.as("a").join(arr.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id") &&
          (semHamming("a", "b") <= hammingBar))
      .select(col("a.vec_id").as("arrival_id"), col("b.vec_id").as("corpus_id"))
      .distinct()
    semVerifyKeep(cands, arrivals, arrivals)
  }

  /** The shared probe plumbing of [[dedupSemanticIncremental]] and
    * [[dedupSemanticSelfScreen]] (round-11 advice: one copy to keep in
    * sync): the (vec_id, sigs, cell) arrival projection — cells from
    * the index's persisted quantizer via the shared [[indexCellsCol]]
    * kernel, SRP sigs at the INDEX's [[sigWords]] width (never a
    * literal: a drifted arrival width would null the hamming join and
    * silently pass every duplicate, round-7 advice). Each arrival
    * probes its nearest `graft.semdedup.probeCells` (default 2) cells,
    * not 1: a twin pair straddling a centroid boundary lands in
    * ADJACENT cells (measured 1-in-475 planted misses at nprobe=1), and
    * the second-nearest cell catches exactly that at 2× probe cost —
    * map-side explode, the probed side untouched. A constant-population
    * index (built under graft.semdedup.cellPop) carries its coarse
    * codebook as `centroids2` and assigns hierarchically through the
    * same kernel. */
  private def semProbeProjection(spark: SparkSession, indexDir: String,
      arrivals: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val (flat, dim) = indexCentroidsFlat(spark, indexDir)
    val np = spark.conf.getOption("graft.semdedup.probeCells")
      .map(_.toInt).getOrElse(2)
    arrivals
      .withColumn("cell", explode(indexCellsCol(spark, indexDir, flat, dim, np)))
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("sigs"), col("cell"))
  }

  /** The index's persisted centroid table, driver-flattened to the
    * (k·dim floats, dim) matrix every NearestCells-kernel consumer
    * plan-ships — a BOUNDED collect (k rows, the documented exception
    * to the no-collect rule). */
  private def indexCentroidsFlat(spark: SparkSession, indexDir: String): (Array[Float], Int) = {
    val cents = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val dim = cents.head._2.length
    val flat = new Array[Float](cents.length * dim)
    cents.foreach { case (c, arr) =>
      var j = 0
      while (j < dim) { flat(c * dim + j) = arr(j); j += 1 }
    }
    (flat, dim)
  }

  /** The unrolled-popcount SRP hamming distance between two join
    * aliases' `sigs` — four GetArrayItem + bit_count word ops that stay
    * inside codegen (a HOF here would allocate arrays per ENUMERATED
    * pair, the round-6 allocation-storm trap). */
  private def semHamming(a: String, b: String): Column =
    (0 until sigWords).map(i =>
      expr(s"bit_count($a.sigs[$i] ^ $b.sigs[$i])")).reduce(_ + _)

  /** The cosine-verify + keep-rule tail shared by the semantic probes:
    * candidates fetch embeddings from the UN-exploded frames (the
    * probe-cell explode would otherwise double every verify row),
    * exact-verify at the 0.99 bar, and the min-id keep rule emits
    * (arrival_id, kept_by, cos) with min_by pairing cos to the EMITTED
    * witness (a bare max(cos) could report a different witness'
    * similarity when several ≥0.99 witnesses exist, round-7 advice). */
  private def semVerifyKeep(cands: DataFrame, arrSide: DataFrame,
      keptSide: DataFrame): DataFrame =
    cands
      .join(arrSide.select(col("vec_id").as("arrival_id"), col("embedding").as("ea")),
        Seq("arrival_id"))
      .join(keptSide.select(col("vec_id").as("corpus_id"), col("embedding").as("ec")),
        Seq("corpus_id"))
      .select(col("arrival_id"), col("corpus_id"),
        round(cosineExpr("ea", "ec"), 4).as("cos"))
      .filter(col("cos") >= 0.99)
      .groupBy(col("arrival_id"))
      .agg(min(col("corpus_id")).as("kept_by"),
        min_by(col("cos"), col("corpus_id")).as("cos"))

  /** Registry wrapper: index the 95% slice; batch 1 = the held-out 5%
    * plus twins of indexed vectors (twins drop, held-outs survive and
    * APPEND); batch 2 = twins of batch-1 survivors — each must drop
    * against the survivor appended a batch earlier, which only works
    * if the cycle actually folded batch 1 in. Returns batch 2's drop
    * list. */
  def dedupSemanticCycleQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_sem_cycle_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    buildIvfIndexFrom(spark, corpus.select(col("vec_id"), col("embedding")), idx)
    val off = plantedOffset(e)
    val b1 = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
      .unionByName(plantedNoisy(corpus, off).select(col("vec_id"), col("embedding")))
    dedupSemanticWithAppend(spark, idx, b1)
    // batch-2 twin ids must clear every LIVE id (corpus ∪ survivors ≤
    // corpusMax + off), so the offset doubles
    val survivors = Relational.cachedSchemaParquet(spark, liveVectorsPath(spark, idx))
      .join(corpus.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"))
    val b2 = plantedNoisy(survivors, 2 * off)
    dedupSemanticIncremental(spark, idx, b2)
  }

  // C2j — STREAMING semantic dedup: the embedding family's streaming
  // leg, closing the same square c22/c22b close for text near-dup. A
  // continuous crawl delivers embedding arrivals as a stream; each
  // micro-batch must dedup against the ENTIRE corpus-so-far (persistent
  // index + every earlier batch's survivors) and fold its own survivors
  // in. The Spark-idiomatic shape for "stream of arrivals against a
  // mutable external store" is `foreachBatch` (the documented pattern
  // for reusing batch writers per micro-batch): the streaming engine
  // owns ordering, retries, and the batchId, and the batch cycle
  // ([[dedupSemanticWithAppend]]) runs unchanged inside it. Exactly-once
  // composes from the two idempotence layers already shipped —
  // `foreachBatch` replays a crashed batch with the SAME batchId, and
  // [[appendToIvfIndex]]'s batch markers turn the replayed append into
  // a no-op, so survivors never enter the layout twice. State story:
  // unlike c22's in-executor GroupState (bounded by eviction), the
  // stream's "state" IS the index on shared storage — arbitrarily large,
  // visible to concurrent batch probes, compacted by the cadence policy;
  // the streaming job itself is stateless, which is what lets it restart
  // from any checkpoint without state-store recovery. Approximate
  // (cell-boundary misses, as every SemDeDup variant) → rows-only; the
  // cross-batch catch (a later batch's twin of an earlier batch's
  // survivor drops) is pinned in the spec.
  /** Replay-idempotent micro-batch sink write: each batch owns the
    * `batch=bid` partition, and dynamic-partition overwrite rewrites
    * ONLY the partitions present in the data — so a foreachBatch replay
    * (crash after the sink write, before the checkpoint commit)
    * rewrites its own partition instead of appending duplicates. */
  private[graft] def writeDropsBatch(drops: DataFrame, bid: Long, outDir: String): Unit =
    drops.withColumn("batch", lit(bid))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch")
      .parquet(outDir)

  /** Replay `arrivals` (sliced by vec_id) one file per trigger; per
    * micro-batch run probe → anti-join → append, sinking the drop list
    * with its batchId. Returns the committed drop list read back from
    * the sink. */
  private[graft] def dedupSemanticStream(spark: SparkSession, indexDir: String,
      arrivals: DataFrame, name: String,
      nSlices: Int = Relational.replaySlices): DataFrame = {
    val out = StreamHarness.run(spark, name, arrivals, col("vec_id"), nSlices,
        Some(ivfMaintenance(spark, indexDir))) { b =>
      // drops materialize inside the cycle BEFORE its append; the
      // sink write commits after the index mutation, so a crash
      // between them replays the batch — probe output is identical
      // (the survivors' append is marker-idempotent). The sink write
      // itself must ALSO be replay-idempotent: a plain append would
      // duplicate the drop rows if the crash lands after the sink
      // write but before the checkpoint commit. Partitioning by the
      // batchId and dynamic-partition-overwriting makes the replay
      // rewrite exactly its own batch=bid partition — drop rows land
      // exactly once across every crash window.
      val drops = dedupSemanticWithAppend(spark, indexDir,
        b.df.select(col("vec_id"), col("embedding")), Some(b.key))
      writeDropsBatch(drops, b.bid, b.out)
      // the batch's row count is a sound files bound HERE because the
      // census walks one table (live vectors) and the append adds
      // ≤ survivors ≤ batch-rows rows to it, each file ≥ 1 row
      () => b.df.count()
    }
    spark.read.schema("arrival_id BIGINT, kept_by BIGINT, cos DOUBLE, batch BIGINT").parquet(out)
  }

  /** In-stream maintenance of an IVF index: its live-layout file census
    * and a compaction. */
  private def ivfMaintenance(spark: SparkSession, idx: String): StreamHarness.Maintenance =
    StreamHarness.Maintenance(() => ivfCensus(spark, idx), () => compactIvfIndex(spark, idx))

  private def ivfCensus(spark: SparkSession, idx: String): Long =
    IndexMeta.countUnder(spark, liveVectorsPath(spark, idx), ".parquet")

  /** Registry wrapper: index the 95% slice; the arrival STREAM carries
    * (in id order, which the stager slices into micro-batches) the
    * held-out 5%, then twins of indexed vectors, then twins of the
    * held-outs — the last group arrives ≥2 micro-batches after its
    * originals, so catching it requires the stream to have folded the
    * earlier batches' survivors into the index. */
  /** STEADY-STATE streaming rehearsal entries (round-10): the decade
    * replay tables measured per-batch cost while streaming the WHOLE
    * corpus against a growing index — honest for a cold backfill, but
    * confounded for capacity planning, where the question is "what does
    * one arrival batch cost once the index is at full scale?". Here the
    * index/store is PREBUILT from the 95% slice, and only the held-out
    * 5% streams, in `nBatches` equal micro-batches — each batch grows
    * the index < 1%, so the per-batch `[stream-batch]` telemetry reads
    * out the flat steady-state ingest cost (BASELINE.md round-10
    * table). Consumed by [[graft.tools.SteadyStateStream]]. */
  def semanticSteadyState(spark: SparkSession, dir: String,
      nBatches: Int): (DataFrame, String) = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_sem_steady_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    buildIvfIndexFrom(spark, corpus.select(col("vec_id"), col("embedding")), idx)
    val arrivals = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
    (dedupSemanticStream(spark, idx, arrivals, s"graft_steady_sem_sink_$key", nBatches), idx)
  }

  /** Near-dup store twin of [[semanticSteadyState]]. */
  def nearDupSteadyState(spark: SparkSession, dir: String,
      nBatches: Int): (DataFrame, String) = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_nd_steady_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx)
    (dedupStreamNearStoreOn(spark, idx, docs.filter(col("doc_id") % 20 === 7),
      s"graft_steady_nd_$key", nBatches), idx)
  }

  /** Post-run file census of a steady-state index/store (max across the
    * near-dup tables; the live layout for the IVF index) — what the
    * long-soak rehearsal asserts against `graft.stream.compactMaxFiles`. */
  def steadyStateCensus(spark: SparkSession, store: String, idx: String): Long =
    store match {
      case "seminc" => ivfCensus(spark, idx)
      case _ => nearDupCensus(spark, idx)
    }

  def dedupSemanticStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_sem_stream_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    buildIvfIndexFrom(spark, corpus.select(col("vec_id"), col("embedding")), idx)
    val off = plantedOffset(e)
    val heldout = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
    // id ranges: held-outs ≤ max(vec_id) < corpus twins < held-out
    // twins; the 4-slice stager splits on id range, so each group's
    // twins land ≥2 slices after their originals
    val arrivals = heldout
      .unionByName(plantedNoisy(corpus, off).select(col("vec_id"), col("embedding")))
      .unionByName(plantedNoisy(heldout, 2 * off).select(col("vec_id"), col("embedding")))
    dedupSemanticStream(spark, idx, arrivals, s"graft_c22c_sink_$key")
      .orderBy("arrival_id")
  }

  // C12b — SEMANTIC decontamination: flag every corpus embedding that
  // is near-identical (cos ≥ `graft.decontam.cosBar`) to an eval/
  // benchmark embedding — the embedding-space completion of c12's
  // token-gram decontamination (published practice: benchmark
  // contamination is checked by BOTH n-gram overlap and embedding
  // similarity, since paraphrased test items evade grams). The plan
  // shape is the MIRROR of the incremental dedup probe: there the
  // arrival batch is small and broadcasts against a big index; here
  // the EVAL index is the small side (benchmarks are thousands of
  // rows), so its (vec_id, sigs, cell, embedding) projection
  // BROADCASTS whole and the 100 TB corpus stays a map-only scan —
  // each corpus vector assigns itself to the eval centroids
  // (nearest-2, codegen'd NearestCells), signs itself, and screens
  // against the broadcast eval sigs with the in-join popcount bar;
  // the exact-cosine verify runs inside the same join projection
  // (the corpus embedding rides the scan — no join-back, no corpus
  // exchange anywhere; the only shuffle is the final aggregate over
  // HITS). Approximate (cell-boundary misses, as every SemDeDup
  // variant) → rows-only; planted eval-twin recall + zero false
  // flags + the map-only corpus plan are spec-pinned.
  def decontaminateSemantic(spark: SparkSession, evalIndexDir: String,
      corpus: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val cents = Relational.cachedSchemaParquet(spark, s"$evalIndexDir/centroids")
      .select(col("cell"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val dim = cents.head._2.length
    val flat = new Array[Float](cents.length * dim)
    cents.foreach { case (c, arr) =>
      var j = 0
      while (j < dim) { flat(c * dim + j) = arr(j); j += 1 }
    }
    val np = spark.conf.getOption("graft.semdedup.probeCells")
      .map(_.toInt).getOrElse(2)
    val bar = spark.conf.getOption("graft.decontam.cosBar")
      .map(_.toDouble).getOrElse(0.99)
    val cor = corpus
      .withColumn("cell", explode(nearestCellsCol(flat, dim, np)))
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
    val eval = liveIndexVectors(spark, evalIndexDir)
      .select(col("vec_id"), col("sigs"), col("cell"), col("embedding"))
    val hamming = (0 until sigWords).map(i =>
      expr(s"bit_count(a.sigs[$i] ^ c.sigs[$i])")).reduce(_ + _)
    cor.as("a")
      .join(broadcast(eval.as("c")),
        col("a.cell") === col("c.cell") && (hamming <= hammingBar))
      .select(col("a.vec_id").as("corpus_id"), col("c.vec_id").as("eval_id"),
        round(cosineExpr("a.embedding", "c.embedding"), 4).as("cos"))
      .filter(col("cos") >= bar)
      // min_by: cos belongs to the EMITTED witness (keep-rule doctrine)
      .groupBy(col("corpus_id"))
      .agg(min(col("eval_id")).as("eval_witness"),
        min_by(col("cos"), col("eval_id")).as("cos"))
      .orderBy("corpus_id")
  }

  /** Registry wrapper: the eval split (vec_id ≡ 0 mod 20, the c12
    * convention) indexes once; the corpus = the remaining 95% PLUS
    * planted noisy twins of eval vectors — the contamination to catch.
    * Every twin must flag with its eval original as witness; clean
    * corpus vectors must not. */
  def decontaminateSemanticQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_sem_decon_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    val eval = e.filter(col("vec_id") % 20 === 0)
    buildIvfIndexFrom(spark, eval.select(col("vec_id"), col("embedding")), idx)
    val corpus = e.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(plantedNoisy(eval, plantedOffset(e))
        .select(col("vec_id"), col("embedding")))
    decontaminateSemantic(spark, idx, corpus)
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
  /** Filter selectivity for probe widening: ZERO scans under the
    * catalog posture, one metadata pass otherwise (round-15, verdict
    * item 3 — guide §7.3: even one full metadata pass per probe is
    * driver-adjacent work a standing service should answer from its
    * catalog). When the metadata table was ANALYZEd
    * ([[graft.tools.TableStats.register]] with the table in scope) the
    * planner's own CBO row-count estimates answer |filtered| / |total|
    * from stored stats — no job at all; otherwise fall back to the
    * round-14 single-aggregate form (one pass, both counts together).
    * The CBO equality estimate prices a value at 1/ndv of the column,
    * which UNDER-reads a hot value's true fraction — that widens the
    * probe set, the recall-safe direction for a post-filtered ANN
    * probe (a widened probe can only add candidates). Both branches
    * clamp to [1e-9, 1]. */
  private[graft] def filterSelectivity(spark: SparkSession, docs: DataFrame,
      pred: org.apache.spark.sql.Column): Double = {
    val est = for {
      k <- docs.filter(pred).queryExecution.optimizedPlan.stats.rowCount
      n <- docs.queryExecution.optimizedPlan.stats.rowCount
      if n > 0
    } yield k.toDouble / n.toDouble
    est.map(s => math.min(1.0, math.max(s, 1e-9))).getOrElse {
      val selRow = docs.agg(count(lit(1)).as("n"),
        count(when(pred, 1)).as("k")).head()
      math.max(selRow.getLong(1).toDouble / math.max(1L, selRow.getLong(0)), 1e-9)
    }
  }

  /** Centroids and the vec_id=0 query embedding in ONE driver
    * round-trip (round-15, the verdict-item-4 action-fold doctrine):
    * every persistent-index probe needs both before it can choose
    * cells, and fetching them as a collect + a take(1) was two Spark
    * jobs per probe. A null-padded union reads both in one job with no
    * exchange: centroid rows carry cell ≥ 0, the query row rides with
    * the cell = −1 sentinel (cells are 0..k−1 by construction). A
    * missing query vector still fails with the same loud message. */
  private def centroidsAndQuery(spark: SparkSession, indexDir: String,
      vectors: DataFrame): (Array[(Int, Seq[Float])], Seq[Float]) = {
    val rows = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"),
        lit(null).cast("array<float>").as("qv"))
      .unionByName(vectors.filter(col("vec_id") === 0)
        .select(lit(-1).as("cell"),
          lit(null).cast("array<float>").as("centroid"),
          col("embedding").as("qv")).limit(1))
      .collect()
    val (qRow, centRows) = rows.partition(_.getInt(0) == -1)
    require(qRow.nonEmpty,
      s"query vector vec_id=0 is not in the live index at $indexDir " +
        "(tombstoned or never indexed) — probe with a live vector")
    (centRows.map(r => (r.getInt(0), r.getSeq[Float](1))), qRow(0).getSeq[Float](2))
  }

  def annIvfFiltered(spark: SparkSession, dir: String, indexDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Relational.table(spark, dir, "documents")
    val allowed = docs.filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    // catalog-stats selectivity, single-aggregate fallback (see helper)
    val sel = filterSelectivity(spark, docs, col("lang") === "en")
    val vectors = liveIndexVectors(spark, indexDir)
    // centroids + query vector in one job (see centroidsAndQuery)
    val (cents, qVec) = centroidsAndQuery(spark, indexDir, vectors)
    val widened = math.min(cents.length.toLong,
      math.ceil(nprobe(spark) / sel).toLong).toInt
    val probeCells = cents.map { case (i, c) =>
      val d = c.zip(qVec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      (i, d)
    }.sortBy(_._2).take(widened).map(_._1)
    val q = vectors.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    vectors.filter(col("vec_id") =!= 0 && col("cell").isin(probeCells.toSeq: _*))
      .join(allowed, Seq("vec_id"), "left_semi")
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

  // C3f — IVF-PQ: product-quantized ANN, the memory-bound 100 TB path.
  // Public technique: Jégou/Douze/Schmid, "Product Quantization for
  // Nearest Neighbor Search" (TPAMI 2011) — the IVFADC layout FAISS
  // ships. The flat IVF variants above carry full float vectors through
  // the probe scan: at 100 TB of embeddings the scan is memory/IO-bound
  // long before it is flop-bound. PQ splits each d-dim vector into M
  // subspaces, quantizes each against its own 256-entry codebook, and
  // stores ONE byte per subspace — here packed into a single BIGINT
  // column (M=8 codes × 8 bits = 64 bits), so the per-vector probe
  // payload drops from d×4 bytes to 8 (d=64 → 32×; production d=1024 →
  // 512×). The probe is asymmetric-distance computation (ADC): the
  // query precomputes, per (subspace, code), the inner product and
  // squared norm of the codebook entry — two M×256-double tables that
  // ship as plan literals — and each candidate's approximate cosine is
  // M table lookups, no float-array access at all. The top `shortlist`
  // ADC survivors alone get exact re-ranking against their real
  // embeddings. Raw-vector codebooks (FAISS by_residual=false): at our
  // similarity regime the residual refinement buys little and keeps the
  // encode path a pure map. Approximate → rows-only; recall@10 vs the
  // exact c3_sim_topk pinned in the spec.
  private val pqSubspaces = 8

  /** Fit the M per-subspace PQ codebooks (≤256 entries each — codes
    * must fit a byte) on the deterministic hash-bucket sample (c13
    * doctrine, same budget rule as fitCoarse): a CONSTANT-size fit at
    * every corpus scale — the decade table's "fit-constant" term.
    * Returns flattened (k×dsub) float matrices, one per subspace. */
  private def fitPqBooks(e0: DataFrame, n: Long, dim: Int): Array[Array[Float]] = {
    val m = pqSubspaces
    val dsub = dim / m
    val ksub = math.min(256L, math.max(4L, n / 2)).toInt
    val budget = 64L * ksub
    val train = if (n <= budget) e0
      else e0.filter(xxhash64(col("vec_id")) % lit(math.max(1L, n / budget)) === 0)
    (0 until m).map { s =>
      val sv = train.select(array_to_vector(
        expr(s"cast(slice(embedding, ${s * dsub + 1}, $dsub) as array<double>)"))
        .as("features"))
      val km = new org.apache.spark.ml.clustering.KMeans()
        .setK(ksub).setSeed(42L + s).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("code").fit(sv)
      val cs = km.clusterCenters
      val flat = new Array[Float](cs.length * dsub)
      cs.zipWithIndex.foreach { case (c, j) =>
        val arr = c.toArray
        var t = 0
        while (t < dsub) { flat(j * dsub + t) = arr(t).toFloat; t += 1 }
      }
      flat
    }.toArray
  }

  /** The packed PQ code of `embedding`: per-subspace argmin-L2 via the
    * same codegen'd NearestCells kernel the cell assignment uses, M
    * byte-codes packed into ONE long — the entire PQ representation of
    * a vector is an 8-byte column. Map-side, no shuffle. */
  private def pqPackedCol(books: Array[Array[Float]], dsub: Int): org.apache.spark.sql.Column = {
    val m = books.length
    val codeCols = (0 until m).map { s =>
      element_at(nearestCellsColOf(
        expr(s"slice(embedding, ${s * dsub + 1}, $dsub)"),
        books(s), dsub, 1), 1)
    }
    codeCols.zipWithIndex.map { case (c, s) =>
      shiftleft(c.cast("long"), (m - 1 - s) * 8)
    }.reduce(_.bitwiseOR(_))
  }

  /** The shared ADC probe tail: score `coded` (vec_id, cell, pq) rows
    * for `qVec` by table lookups, shortlist, exact-rerank against
    * `vecs` (vec_id, embedding — caller scopes it to the probed cells
    * so the re-rank join partition-prunes). The two M×256 tables
    * (inner product, squared norm per (subspace, code), fixed 256
    * stride regardless of trained k) are computed driver-side and ship
    * as plan literals; the ADC scan touches only 8 code bytes per
    * candidate — float arrays stay unread until the re-rank join. */
  private def pqProbe(spark: SparkSession, coded: DataFrame, vecs: DataFrame,
      books: Array[Array[Float]], qVec: Array[Float],
      probeCells: Seq[Int]): DataFrame = {
    val m = books.length
    val dsub = qVec.length / m
    val qNorm = math.sqrt(qVec.map(x => x.toDouble * x).sum)
    val ipT = new Array[Double](m * 256)
    val nrT = new Array[Double](m * 256)
    for (s <- 0 until m; j <- 0 until books(s).length / dsub) {
      var ip = 0.0; var nr = 0.0
      var t = 0
      while (t < dsub) {
        val c = books(s)(j * dsub + t).toDouble
        ip += c * qVec(s * dsub + t); nr += c * c; t += 1
      }
      ipT(s * 256 + j) = ip; nrT(s * 256 + j) = nr
    }
    val short = coded
      .filter(col("vec_id") =!= 0 && col("cell").isin(probeCells: _*))
      .withColumn("ipt", typedlit(ipT.toSeq))
      .withColumn("nrt", typedlit(nrT.toSeq))
      .withColumn("asim", expr(
        s"""aggregate(sequence(0, ${m - 1}),
           |  named_struct('ip', 0D, 'nr', 0D),
           |  (acc, s) -> named_struct(
           |    'ip', acc.ip + element_at(ipt,
           |      cast(s * 256 + (shiftright(pq, (${m - 1} - s) * 8) & 255) + 1 as int)),
           |    'nr', acc.nr + element_at(nrt,
           |      cast(s * 256 + (shiftright(pq, (${m - 1} - s) * 8) & 255) + 1 as int))),
           |  acc -> acc.ip / (greatest(sqrt(acc.nr), 1e-12D) * ${qNorm}D))""".stripMargin))
      .orderBy(col("asim").desc, col("vec_id").asc)
      .limit(shortlistGlobal(spark))
      .select(col("vec_id"))
    import spark.implicits._
    val q = Seq(Tuple1(qVec.toSeq)).toDF("qv")
    short.join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  private def nearestCellsTo(centroids: Array[org.apache.spark.ml.linalg.Vector],
      qVec: Array[Float], np: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      val d = c.toArray.zip(qVec.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum
      (i, d)
    }.sortBy(_._2).take(np).map(_._1).toSeq

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e0 = Relational.table(spark, dir, "embeddings")
    val dim = e0.select(size(col("embedding"))).head().getInt(0)
    require(dim % pqSubspaces == 0,
      s"embedding dim $dim not divisible by $pqSubspaces PQ subspaces")
    val dsub = dim / pqSubspaces
    val n = e0.count()
    val e = e0.withColumn("features",
      array_to_vector(expr("cast(embedding as array<double>)")))
    val model = fitCoarse(e)
    val assigned = model.transform(e)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val books = fitPqBooks(e0, n, dim)
    val coded = assigned.withColumn("pq", pqPackedCol(books, dsub))
      .select(col("vec_id"), col("cell"), col("pq"))
    val qVec = e0.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val probeCells = nearestCellsTo(model.clusterCenters, qVec, nprobe(spark))
    pqProbe(spark, coded,
      assigned.filter(col("cell").isin(probeCells: _*)),
      books, qVec, probeCells)
  }

  /** C3f2 — PERSIST the PQ sidecar on an existing index: `books` (one
    * row per (subspace, code) centroid), `codes` (vec_id, pq,
    * cell-partitioned EXACTLY like the vectors layout, so ADC probes
    * get the same parquet partition pruning — the live codes are the
    * UNION of a base generation plus one delta generation per repaired
    * append), and `pqmeta` — the one COMMITTED binding of all three:
    * which vector files are encoded (the census), which codes
    * generations hold their codes, and which books generation encoded
    * them. Readers resolve pqmeta's max committed generation and trust
    * nothing not named there, so books and codes can never pair across
    * states (round-7 advice: the old books-carry-the-fingerprint order
    * had a crash window where fresh-looking books served codes encoded
    * with never-persisted codebooks).
    *
    * Repair economics (the round-7 lead item): when the live layout
    * grew only by APPENDED files — same vectors generation, every
    * encoded file still present — the repair FREEZES the live books,
    * encodes ONLY the new files (read directly via their census diff,
    * Θ(batch)), and commits a codes DELTA generation. The quantizer
    * didn't move, so frozen-book codes are byte-identical to what a
    * full re-encode of those rows would produce (spec-pinned). The
    * Θ(n) refit+re-encode now runs only when the layout itself was
    * rewritten (compaction, rebuild) — exactly when the books' training
    * distribution changed. Public FAISS practice: add_with_ids encodes
    * arrivals against frozen codebooks; retrain is a maintenance op.
    * Deletes need NO repair — tombstones anti-join the codes scan
    * exactly as they do the vectors scan. */
  private def pqKindVecgen = "vecgen"
  private def pqKindVecfile = "vecfile"
  private def pqKindCodes = "codesgen"
  private def pqKindBooks = "booksgen"

  /** The live layout's parquet-file census: "relpath:size" per data
    * file, relative to the vectors generation dir. Appends only ADD
    * entries (parquet files are immutable once committed), so census
    * diff = the appended files — one recursive listing, no file opens. */
  private def vecFileCensus(spark: SparkSession, vecPath: String): Seq[String] = {
    val (fs, p) = IndexMeta.fsFor(spark, vecPath)
    val base = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    val buf = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        buf += s"${f.getPath.toString.stripPrefix(base).stripPrefix("/")}:${f.getLen}"
    }
    buf.result().sorted
  }

  private[graft] final case class PqMeta(vecGen: String, vecFiles: Set[String],
      codesGens: Seq[String], booksGen: String)

  /** The committed sidecar state, if any: parse the live pqmeta rows. */
  private[graft] def livePqMeta(spark: SparkSession, indexDir: String): Option[PqMeta] =
    IndexMeta.liveGen(spark, indexDir, "pqmeta").map { g =>
      val rows = Relational.cachedSchemaParquet(spark, g.toString)
        .collect().map(r => (r.getString(0), r.getString(1)))
      PqMeta(
        rows.collectFirst { case (k, n) if k == pqKindVecgen => n }.get,
        rows.collect { case (k, n) if k == pqKindVecfile => n }.toSet,
        rows.collect { case (k, n) if k == pqKindCodes => n }.toSeq.sorted,
        rows.collectFirst { case (k, n) if k == pqKindBooks => n }.get)
    }

  /** Commit a new pqmeta generation, then GC every sidecar dir it does
    * NOT reference (superseded pqmeta/books/codes generations AND
    * orphans of crashed repairs — single-writer maintenance contract,
    * like compaction). */
  private def commitPqMeta(spark: SparkSession, indexDir: String, vecGen: String,
      census: Seq[String], codesGens: Seq[String], booksGen: String): Unit = {
    import spark.implicits._
    val (metaGen, _) = IndexMeta.nextGen(spark, indexDir, "pqmeta")
    val rows = Seq((pqKindVecgen, vecGen), (pqKindBooks, booksGen)) ++
      codesGens.map((pqKindCodes, _)) ++ census.map((pqKindVecfile, _))
    rows.toDF("kind", "name").coalesce(1).write.mode("overwrite").parquet(metaGen)
    val keep = codesGens.toSet + booksGen + new org.apache.hadoop.fs.Path(metaGen).getName
    IndexMeta.list(spark, indexDir)
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory &&
          (n.startsWith("codes.g") || n.startsWith("books.g") || n.startsWith("pqmeta.g")) &&
          !keep.contains(n)
      }
      .foreach(st => IndexMeta.delete(spark, st.getPath.toString))
  }

  /** Sidecar freshness: the live pqmeta exists and its census names
    * exactly the live layout's files. Appends make it stale by ADDING
    * files (delta repair); compactions/rebuilds by replacing the
    * generation (full re-derive). */
  private[graft] def pqSidecarFresh(spark: SparkSession, indexDir: String): Boolean =
    livePqMeta(spark, indexDir).exists { m =>
      val vecPath = liveVectorsPath(spark, indexDir)
      new org.apache.hadoop.fs.Path(vecPath).getName == m.vecGen &&
        vecFileCensus(spark, vecPath).toSet == m.vecFiles
    }

  /** Read the persisted PQ codebooks of `booksGen` as flattened
    * per-subspace matrices (the fitPqBooks shape). */
  private def readPqBooks(spark: SparkSession, indexDir: String,
      booksGen: String): Array[Array[Float]] = {
    val rows = Relational.cachedSchemaParquet(spark, s"$indexDir/$booksGen")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    val dsub = rows.head._3.length
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      val flat = new Array[Float](sorted.length * dsub)
      sorted.foreach { case (_, j, c) =>
        var t = 0
        while (t < dsub) { flat(j * dsub + t) = c(t); t += 1 }
      }
      flat
    }.toArray
  }

  /** The live codes set: union of the committed pqmeta's codes
    * generations (each scan keeps its own cell partition pruning). */
  private[graft] def pqCodesTable(spark: SparkSession, indexDir: String): DataFrame = {
    val m = livePqMeta(spark, indexDir).getOrElse(sys.error(
      s"no committed PQ sidecar under $indexDir — run addPqToIndex first"))
    m.codesGens.map(g => Relational.cachedSchemaParquet(spark, s"$indexDir/$g")
        .select(col("vec_id"), col("pq"), col("cell")))
      .reduce(_.unionByName(_))
  }

  /** Every live vector encoded against the PERSISTED (frozen) books —
    * the spec's parity oracle for the delta path: delta-appended codes
    * must equal this re-encode row-for-row, because the books did not
    * move between the base encode and the delta. */
  private[graft] def pqEncodeAllWithLiveBooks(spark: SparkSession, indexDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val m = livePqMeta(spark, indexDir).getOrElse(sys.error(
      s"no committed PQ sidecar under $indexDir"))
    val books = readPqBooks(spark, indexDir, m.booksGen)
    val v = Relational.cachedSchemaParquet(spark, liveVectorsPath(spark, indexDir))
      .select(col("vec_id"), col("embedding"), col("cell"))
    val dim = v.select(size(col("embedding"))).head().getInt(0)
    v.withColumn("pq", pqPackedCol(books, dim / pqSubspaces))
      .select(col("vec_id"), col("pq"), col("cell"))
  }

  /** Derive or REPAIR the PQ sidecar. Fresh → no-op. Layout grew by
    * appended files only → Θ(batch) delta: freeze the books, encode
    * only the census-diff files, commit a codes delta generation.
    * Layout rewritten (compaction/rebuild) or no sidecar yet → full
    * derive (refit books on the live corpus, re-encode everything —
    * the books' training distribution changed, so a refit is due
    * anyway). Everything becomes visible in ONE pqmeta commit. */
  def addPqToIndex(spark: SparkSession, indexDir: String): Unit = {
    GraftFunctions.register(spark)
    val vecPath = liveVectorsPath(spark, indexDir)
    val vecGen = new org.apache.hadoop.fs.Path(vecPath).getName
    val census = vecFileCensus(spark, vecPath)
    livePqMeta(spark, indexDir) match {
      case Some(m) if m.vecGen == vecGen && m.vecFiles == census.toSet =>
        () // fresh — nothing to repair
      case Some(m) if m.vecGen == vecGen && m.vecFiles.subsetOf(census.toSet) =>
        // append-only growth: encode ONLY the new files with the live
        // (frozen) books — Θ(batch), never a refit or corpus re-encode
        val newFiles = census.filterNot(m.vecFiles)
          .map(e => s"$vecPath/${e.substring(0, e.lastIndexOf(':'))}")
        val books = readPqBooks(spark, indexDir, m.booksGen)
        val nv = spark.read.option("basePath", vecPath)
          .parquet(newFiles: _*)
          .select(col("vec_id"), col("embedding"), col("cell"))
        val dim = nv.select(size(col("embedding"))).head().getInt(0)
        val delta = nv.withColumn("pq", pqPackedCol(books, dim / pqSubspaces))
          .select(col("vec_id"), col("pq"), col("cell"))
          .localCheckpoint() // encoded once; consumed by count + write
        // a row-empty delta (appended files carrying only footers) must
        // not become a codes generation: an empty partitionBy write
        // emits only _SUCCESS and the union read dies on schema
        // inference (the compaction empty-write lesson)
        val codesGens =
          if (delta.isEmpty) m.codesGens
          else {
            val (codesGen, _) = IndexMeta.nextGen(spark, indexDir, "codes")
            delta.repartition(col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(codesGen)
            m.codesGens :+ new org.apache.hadoop.fs.Path(codesGen).getName
          }
        commitPqMeta(spark, indexDir, vecGen, census, codesGens, m.booksGen)
      case _ =>
        // full derive: fit books on the live corpus, encode everything
        val v = Relational.cachedSchemaParquet(spark, vecPath)
          .select(col("vec_id"), col("embedding"), col("cell"))
        val dim = v.select(size(col("embedding"))).head().getInt(0)
        val n = v.count()
        val books = fitPqBooks(v, n, dim)
        val dsub = dim / pqSubspaces
        import spark.implicits._
        val (codesGen, _) = IndexMeta.nextGen(spark, indexDir, "codes")
        v.withColumn("pq", pqPackedCol(books, dsub))
          .select(col("vec_id"), col("pq"), col("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(codesGen)
        val (booksGen, _) = IndexMeta.nextGen(spark, indexDir, "books")
        books.zipWithIndex.flatMap { case (flat, s) =>
          (0 until flat.length / dsub).map { j =>
            (s, j, flat.slice(j * dsub, (j + 1) * dsub).toSeq)
          }
        }.toSeq.toDF("sub", "code", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(booksGen)
        commitPqMeta(spark, indexDir, vecGen, census,
          Seq(new org.apache.hadoop.fs.Path(codesGen).getName),
          new org.apache.hadoop.fs.Path(booksGen).getName)
    }
  }

  /** ADC probe over the PERSISTED codes — no fit, no encode: read the
    * k-row books table driver-side, partition-prune the codes layout to
    * nprobe cells, score by table lookups, exact-rerank against the
    * probed cells of the vectors layout. Tombstoned ids are excluded
    * from both scans (delete visibility without a sidecar rebuild). */
  def annIvfPqIndexed(spark: SparkSession, dir: String, indexDir: String): DataFrame =
    pqIndexedCore(spark, indexDir, None)

  /** C3g3 — FILTERED ADC probe: the metadata filter composed with the
    * memory-bound PQ path. Same selectivity-widened probe set as
    * [[annIvfFiltered]] (ceil(nprobe/s), capped at all cells), and the
    * allowed-id semi-join lands on the CODES scan BEFORE ADC scoring —
    * filtering after the shortlist would let background candidates
    * crowd allowed ones out of the top-`shortlist` and lose recall;
    * filtering before keeps the shortlist budget spent entirely on
    * rows that can actually be returned, at 8 bytes per screened
    * candidate. Exact re-rank unchanged. Approximate → rows-only;
    * recall vs [[simTopKFiltered]] pinned in TierCSpec. */
  def annIvfPqFiltered(spark: SparkSession, dir: String, indexDir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
    val allowed = docs.filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    // catalog-stats selectivity, single-aggregate fallback (see
    // [[filterSelectivity]] at annIvfFiltered)
    val sel = filterSelectivity(spark, docs, col("lang") === "en")
    pqIndexedCore(spark, indexDir, Some((allowed, sel)))
  }

  def annIvfPqFilteredQuery(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(spark, dir)
    if (!pqSidecarFresh(spark, idx)) addPqToIndex(spark, idx)
    annIvfPqFiltered(spark, dir, idx)
  }

  private def pqIndexedCore(spark: SparkSession, indexDir: String,
      filtered: Option[(DataFrame, Double)]): DataFrame = {
    GraftFunctions.register(spark)
    val m = livePqMeta(spark, indexDir).getOrElse(sys.error(
      s"no committed PQ sidecar under $indexDir — run addPqToIndex first"))
    val vecPath = liveVectorsPath(spark, indexDir)
    val liveCensus = vecFileCensus(spark, vecPath).toSet
    require(new org.apache.hadoop.fs.Path(vecPath).getName == m.vecGen &&
        m.vecFiles == liveCensus,
      s"PQ sidecar is STALE: codes cover layout [${m.vecGen}] with " +
        s"${m.vecFiles.size} files but the live layout is " +
        s"[${new org.apache.hadoop.fs.Path(vecPath).getName}] with " +
        s"${liveCensus.size} files (an append or compaction changed it). " +
        "Serving them would silently miss or misplace vectors — run " +
        "addPqToIndex to repair (Θ(batch) after an append: frozen books, " +
        "delta encode of the new files; full re-derive only after a " +
        "layout rewrite), then probe again.")
    val books = readPqBooks(spark, indexDir, m.booksGen)
    val vectors = liveIndexVectors(spark, indexDir)
    // centroids + query vector in one job (see centroidsAndQuery)
    val (cents0, qVec0) = centroidsAndQuery(spark, indexDir, vectors)
    val qVec = qVec0.toArray
    val cents = cents0.sortBy(_._1)
    val nCells = filtered match {
      case Some((_, sel)) => math.min(cents.length.toLong,
        math.ceil(nprobe(spark) / sel).toLong).toInt
      case None => nprobe(spark)
    }
    val probeCells = cents.map { case (i, c) =>
      val d = c.zip(qVec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      (i, d)
    }.sortBy(_._2).take(nCells).map(_._1).toSeq
    // base + delta codes generations, unioned — each scan keeps its own
    // cell partition pruning, and [[compactIvfIndex]]-triggered full
    // re-derives fold them back to one
    val codes0 = m.codesGens.map(g => Relational.cachedSchemaParquet(spark, s"$indexDir/$g")
        .select(col("vec_id"), col("pq"), col("cell")))
      .reduce(_.unionByName(_))
    val tomb = s"$indexDir/tombstones"
    val codes1 = if (IndexMeta.exists(spark, tomb))
      codes0.join(broadcast(Relational.cachedSchemaParquet(spark, tomb)), Seq("vec_id"), "left_anti")
    else codes0
    // allowed-id semi-join BEFORE ADC scoring (see annIvfPqFiltered)
    val codes = filtered match {
      case Some((allowed, _)) => codes1.join(allowed, Seq("vec_id"), "left_semi")
      case None => codes1
    }
    pqProbe(spark, codes,
      vectors.filter(col("cell").isin(probeCells: _*)),
      books, qVec, probeCells)
  }

  /** Registry wrapper: [[ensureIndex]] the shared per-dir index, derive
    * or delta-repair the PQ sidecar if absent or stale, probe from the
    * persisted codes. */
  def annIvfPqIndexedQuery(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(spark, dir)
    if (!pqSidecarFresh(spark, idx)) addPqToIndex(spark, idx)
    annIvfPqIndexed(spark, dir, idx)
  }

  /** C3b2 — PERSISTENT IVF index: build once, query many. Every IVF
    * query above re-fits the quantizer and re-assigns the corpus —
    * identical work per query until the corpus changes, and at 100 TB
    * the fit+assign pass is the expensive half. [[buildIvfIndex]] runs
    * that pass once and lays the corpus out `partitionBy("cell")`, so a
    * probe's `cell IN (…)` filter becomes parquet PARTITION PRUNING:
    * the query plan's scan reads nprobe directories and never lists the
    * rest (PartitionFilters in explain; pinned in the spec). Centroids
    * persist alongside (k rows — the only driver-materialized piece,
    * same O(k) exception as annIvf). The signature column is persisted
    * too, so a two-level consumer can screen without re-signing. */
  def buildIvfIndex(spark: SparkSession, dir: String, indexDir: String): Unit =
    buildIvfIndexFrom(spark, Relational.table(spark, dir, "embeddings"), indexDir)

  /** [[buildIvfIndex]] over an explicit (vec_id, embedding) frame — the
    * entry point when the indexed corpus is a slice or a join result
    * rather than a whole table (and the base the append path builds on). */
  def buildIvfIndexFrom(spark: SparkSession, embeddings: DataFrame, indexDir: String): Unit = {
    GraftFunctions.register(spark)
    val e = embeddings
      .withColumn("features", array_to_vector(expr("cast(embedding as array<double>)")))
    // `graft.semdedup.cellPop` set → constant-population index: k = n/pop
    // cells fit hierarchically (fitTwoLevel) and assigned with the fused
    // TwoLevelCells kernel. The PERSISTED `centroids` table is the FLAT
    // list of all k1·k2 global sub-centroids, so every existing reader
    // (append assignment, compaction, ANN probes, c12b, c30) works
    // unchanged — flat probes over it choose the same cells. The coarse
    // codebook additionally persists as `centroids2`, which upgrades
    // [[dedupSemanticIncremental]]'s arrival probe to the hierarchical
    // (k1+k2)·d form — the piece that keeps probe cost flat as k grows
    // linearly with the corpus.
    val twoLevel = spark.conf.getOption("graft.semdedup.cellPop").map(_.toLong).map { p =>
      val n = e.count()
      val k = math.max(16, math.min(1 << 20,
        math.ceil(n.toDouble / math.max(1L, p)).toInt))
      fitTwoLevel(e, k)
    }
    val flatModel = if (twoLevel.isEmpty) Some(fitCoarse(e)) else None
    val assigned = twoLevel match {
      case Some((coFlat, subFlat, dim, k2)) =>
        e.withColumn("cell",
          twoLevelCellsColOf(col("embedding"), coFlat, subFlat, dim, k2, 1).getItem(0))
      case None => flatModel.get.transform(e)
    }
    // The layout lands in a fresh GENERATION dir (vectors.gNNNNN) and
    // becomes live when Spark's _SUCCESS commits it — the IndexMeta
    // protocol that replaced the round-6 java.nio directory renames
    // (no atomic dir rename exists on S3/HDFS; max-committed-generation
    // resolution needs none). A REBUILD over an existing index writes
    // the next generation and GCs the old ones after commit, so a
    // crash mid-rebuild leaves the previous generation live.
    val (genDir, oldGens) = IndexMeta.nextGen(spark, indexDir)
    assigned
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("embedding"), col("sigs"), col("cell"))
      // Cluster each cell into one task before the partitioned write:
      // without this every task emits a file per cell it holds —
      // tasks×cells files, ruinous at cluster scale (1000 executors ×
      // √n cells). One corpus shuffle IS the index-build layout step;
      // [[compactIvfIndex]]'s per-cell size targets take over from here.
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(genDir)
    // The ids SIDECAR: a vec_id-only mirror of the layout's physical id
    // set, kept so the append-time duplicate-id guard reads a handful of
    // 8-byte-column files instead of opening every file of a fragmented
    // layout (the 50-batch sf100 soak spent most of its 20 s/batch
    // append cost in that guard's file opens — BASELINE.md round 7).
    // Same generation protocol as the layout; appends add one file.
    val (idsGen, oldIds) = IndexMeta.nextGen(spark, indexDir, "ids")
    // parallel write, bounded file count (NOT coalesce(1): billions of
    // 8-byte ids would then funnel through one task at cluster scale);
    // sizeForWrite coalesces shuffle-free when the batch arrives
    // over-partitioned instead of paying a repartition exchange
    Scale.sizeForWrite(embeddings.select(col("vec_id")))
      .write.mode("overwrite").parquet(idsGen)
    import spark.implicits._
    twoLevel match {
      case Some((coFlat, subFlat, dim, k2)) =>
        // Codebook crash-ordering — scope: the COARSE/SUB pairing only.
        // Retire the OLD coarse codebook, write the flat sub-centroid
        // table, write the new coarse codebook LAST: between those two
        // overwrites the index reads as a FLAT index over the new
        // sub-centroids (correct cells, slower probe), and a
        // new-coarse/old-flat k2 mis-derivation can never exist on disk
        // (indexCellsCol validates divisibility as defense in depth).
        // What this ordering does NOT cover: the LAYOUT generation
        // committed above — a crash landing here leaves the new layout
        // live with the PREVIOUS build's centroids, and probes would
        // pick cells from a codebook that did not place the vectors
        // (silent recall loss until the build is re-run; the window is
        // the two coalesce(1) codebook writes, sub-second at any k).
        // Closing it outright needs the pqmeta doctrine — layout +
        // centroids + centroids2 bound in ONE committed meta generation
        // — which also has to thread through append (same gen, frozen
        // codebooks) and compaction (new gen, SAME codebooks); deferred
        // until an operational story needs crash-safe REBUILDS rather
        // than crash-safe reads (every reader path today survives a
        // crashed build by re-running it, which is idempotent).
        IndexMeta.delete(spark, s"$indexDir/centroids2")
        val subCents = (0 until subFlat.length / dim).map(i =>
          (i, (0 until dim).map(j => subFlat(i * dim + j))))
        subCents.toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
        val coCents = (0 until coFlat.length / dim).map(i =>
          (i, (0 until dim).map(j => coFlat(i * dim + j))))
        // k2 is derivable (centroids rows / centroids2 rows) — no
        // separate metadata file to keep in sync
        coCents.toDF("cell1", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids2")
      case None =>
        // a √n REBUILD over a former two-level index must not leave a
        // stale coarse codebook steering the hierarchical probe
        IndexMeta.delete(spark, s"$indexDir/centroids2")
        val cents = flatModel.get.clusterCenters.zipWithIndex.map { case (c, i) =>
          (i, c.toArray.map(_.toFloat).toSeq)
        }
        cents.toSeq.toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    }
    (oldGens ++ oldIds).foreach(IndexMeta.delete(spark, _))
    // stale tombstones name ids of the REPLACED corpus — they must not
    // suppress rows of the rebuilt one
    IndexMeta.delete(spark, s"$indexDir/tombstones")
    // quantizer BASELINE for the drift policy (one layout scan at build
    // time — the cost belongs to the build, so every later drift probe
    // is Θ(batch) instead of Θ(index))
    writeQuantStats(spark, indexDir)
  }

  // ------------------------------------------------- quantizer drift

  /** Squared-L2 of `embedding` to its assigned `centroid` — shared by
    * the build-time baseline and the arrival-side drift probe so the
    * ratio compares like with like. */
  private def assignSqDistCol: org.apache.spark.sql.Column = expr(
    """aggregate(zip_with(embedding, centroid, (a, b) -> (a - b) * (a - b)),
      |cast(0 as double), (acc, x) -> acc + cast(x as double))""".stripMargin)

  /** Persist the build-time quantizer baseline: mean squared
    * assignment distance over the live layout (cells are already
    * stored — no re-assignment), one `quantstats.gN` row. */
  private def writeQuantStats(spark: SparkSession, indexDir: String): Unit = {
    val cents = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
    val row = Relational.cachedSchemaParquet(spark, liveVectorsPath(spark, indexDir))
      .select(col("cell").cast("int").as("cell"), col("embedding"))
      .join(broadcast(cents), "cell")
      .agg(avg(assignSqDistCol).as("m"), count(lit(1)).as("n")).head()
    // an empty layout has no baseline to write — error HERE rather than
    // skipping: a silent skip surfaces later as requireLive's
    // misleading "build crashed" when the drift probe goes looking for
    // the quantstats generation (round-13 advice)
    if (row.isNullAt(0)) sys.error(
      s"cannot write quantizer stats for $indexDir: the live vector " +
        "layout is empty — build the index on a non-empty corpus first")
    val (g, old) = IndexMeta.nextGen(spark, indexDir, "quantstats")
    spark.range(1)
      .select(lit(row.getDouble(0)).as("mean_sq_dist"), lit(row.getLong(1)).as("n_build"))
      .coalesce(1).write.mode("overwrite").parquet(g)
    old.foreach(IndexMeta.delete(spark, _))
  }

  /** Mean squared assignment distance of a (vec_id, embedding) batch to
    * its NEAREST live centroid — the same kernel the append path files
    * under (nprobe=1), Θ(batch·k·d) map work + one scalar aggregate. */
  private def meanAssignSqDist(spark: SparkSession, indexDir: String,
                               vecs: DataFrame): Double = {
    GraftFunctions.register(spark)
    val (flat, dim) = indexCentroidsFlat(spark, indexDir)
    val cents = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
    val row = vecs.select(col("embedding"))
      .withColumn("cell", element_at(indexCellsCol(spark, indexDir, flat, dim, 1), 1))
      .join(broadcast(cents), "cell")
      .agg(avg(assignSqDistCol)).head()
    // an empty batch has no assignment distance: averaging nothing is
    // a null aggregate, which would surface as an opaque NPE two
    // frames up in quantizerDrift (round-13 advice) — name the
    // contract violation instead
    if (row.isNullAt(0)) throw new IllegalArgumentException(
      "quantizer drift is undefined for an empty arrival batch — " +
        "skip the probe when the batch has no vectors")
    row.getDouble(0)
  }

  /** C3b5 — QUANTIZER-DRIFT metric (round-12 verdict item 5: drift was
    * "the documented rebuild trigger" with nothing computing it): the
    * ratio of an arrival batch's mean squared assignment distance (to
    * the FROZEN centroids) over the build-time baseline persisted in
    * `quantstats`. ≈ 1 for in-distribution arrivals; grows as arrival
    * mass moves off the codebook — frozen cells then mis-shape the
    * arrival region (boundary twins split, populations skew), which is
    * exactly when a refit pays. Θ(batch) at probe time; pre-quantstats
    * indexes compute the baseline from the live layout on the fly
    * (one scan, the cost the build would have paid). */
  def quantizerDrift(spark: SparkSession, indexDir: String,
                     arrivals: DataFrame): Double = {
    val base = IndexMeta.liveGen(spark, indexDir, "quantstats") match {
      case Some(g) => Relational.cachedSchemaParquet(spark, g.toString).head().getDouble(0)
      case None =>
        writeQuantStats(spark, indexDir)
        Relational.cachedSchemaParquet(spark, 
          IndexMeta.requireLive(spark, indexDir, "quantstats")).head().getDouble(0)
    }
    val arr = meanAssignSqDist(spark, indexDir,
      arrivals.select(col("vec_id"), col("embedding")))
    arr / math.max(base, java.lang.Double.MIN_NORMAL)
  }

  /** C3b6 — drift-triggered REBUILD policy: measure [[quantizerDrift]]
    * on the arrival batch; above `threshold`, refit the index from its
    * live vector set ([[buildIvfIndexFrom]] — next generation, old
    * GC'd after commit, tombstones become physical, baseline
    * refreshed). Below, no-op. Returns whether it rebuilt, so an
    * ingest loop wires this after appends the way compaction wires
    * [[compactIvfIndexIfFragmented]] — the two maintenance axes of a
    * standing index (file layout and codebook fit), each mechanical.
    * Threshold 4.0 = arrival assignment error 4× the build's: drift
    * ratios sit near 1 in-distribution (spec-measured ≈ 1), so 4× is
    * far outside noise while still firing long before the planted-twin
    * recall floor the rehearsal spec demonstrates. */
  def rebuildIvfIfDrifted(spark: SparkSession, indexDir: String,
                          arrivals: DataFrame, threshold: Double = 4.0): Boolean = {
    val d = quantizerDrift(spark, indexDir, arrivals)
    System.err.println(f"[drift] $indexDir drift=$d%.2f threshold=$threshold%.2f")
    if (d > threshold) {
      buildIvfIndexFrom(spark,
        liveIndexVectors(spark, indexDir).select(col("vec_id"), col("embedding")),
        indexDir)
      true
    } else false
  }

  /** The index's LIVE vector set: the cell-partitioned layout minus any
    * tombstoned ids. Deletes ([[deleteFromIvfIndex]]) are O(deletes)
    * appends to a side table, never a layout rewrite — the LSM
    * discipline again — and every index reader goes through this
    * anti-join so a delete is visible to the next probe immediately.
    * The tombstone table broadcasts: its size is bounded by compaction
    * cadence ([[compactIvfIndex]] applies tombstones physically and
    * clears them), so a fleet that compacts on schedule never
    * accumulates more than one window of deletes here. No tombstones
    * dir → the reader is the bare layout scan, anti-join-free. */
  private def liveIndexVectors(spark: SparkSession, indexDir: String): DataFrame = {
    val v = Relational.cachedSchemaParquet(spark, liveVectorsPath(spark, indexDir))
    val t = s"$indexDir/tombstones"
    if (IndexMeta.exists(spark, t))
      v.join(broadcast(Relational.cachedSchemaParquet(spark, t)), Seq("vec_id"), "left_anti")
    else v
  }

  /** The committed vectors layout a reader of this index resolves to
    * right now (max committed generation — see [[IndexMeta]]).
    * Exposed for specs and the lifecycle rehearsal tool. */
  private[graft] def liveVectorsPath(spark: SparkSession, indexDir: String): String =
    IndexMeta.requireLiveVectors(spark, indexDir)

  /** Delete vectors from the index by id: append the ids to the
    * tombstone table — O(deletes) work, no touch of the vectors layout.
    * Probes exclude tombstoned ids from the next read onward
    * (idempotent: re-deleting an id, or an id already compacted away,
    * is a no-op in the anti-join). [[compactIvfIndex]] makes deletes
    * physical and resets the table. The opt-out / takedown /
    * decontamination path of a production retrieval corpus. */
  def deleteFromIvfIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).coalesce(1)
      .write.mode("append").parquet(s"$indexDir/tombstones")

  /** Single-query ANN over a PERSISTENT index — [[annIvf]]'s semantics
    * (same quantizer seed → byte-identical results, asserted in the
    * spec) without the per-query fit: read k centroid rows, pick nprobe
    * cells driver-side (O(k·d)), and scan ONLY those cells' partitions.
    * The returned plan carries the `cell IN` predicate as a partition
    * filter — nprobe directory reads, zero data-file touches elsewhere. */
  def annIvfIndexed(spark: SparkSession, dir: String, indexDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vectors = liveIndexVectors(spark, indexDir)
    // centroids + query vector in one job (see centroidsAndQuery)
    val (cents, qVec) = centroidsAndQuery(spark, indexDir, vectors)
    val probeCells = cents.map { case (i, c) =>
      val d = c.zip(qVec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      (i, d)
    }.sortBy(_._2).take(nprobe(spark)).map(_._1)
    val q = vectors.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    vectors.filter(col("vec_id") =!= 0 && col("cell").isin(probeCells.toSeq: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** The registry wrapper: index location via [[ensureIndex]] (rebuild
    * only when absent — the build-once contract the spec exercises;
    * delete the dir to force a rebuild). */
  def annIvfIndexedQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfIndexed(spark, dir, ensureIndex(spark, dir))

  // C3i — BATCH ANN: top-k retrieval for a SET of query vectors through
  // the persisted IVF index in ONE distributed plan. The single-query
  // probes above serve point lookups; the form a 100 TB retrieval or
  // embedding-join pass actually takes carries thousands-to-millions of
  // queries, and a per-query job loop would pay plan+schedule overhead
  // per query and re-scan the layout each time (round-11 verdict item
  // 4: "the single-query shape never exercises the probe as a join").
  /** Top-`k` neighbors for every row of `queries` ((vec_id, embedding))
    * against the index at `indexDir`, as (query_id, vec_id, sim, rnk).
    *
    * Plan shape — one job, no driver loop:
    *   1. each query assigns itself to its `graft.ann.nprobe` nearest
    *      cells map-side (codegen'd NearestCells over the plan-shipped
    *      centroid matrix — the same kernel every incremental probe
    *      uses), exploded to (query, cell) rows;
    *   2. the DISTINCT probed cells — a bounded driver collect, ≤ the
    *      cell count (ints) — become a `cell IN` PARTITION filter on
    *      the cell-partitioned layout, so a clustered query set
    *      touches only its cells' files while a spread-out set
    *      degrades gracefully to one full pass amortized across the
    *      whole batch (never a pass per query);
    *   3. ONE equi-join on cell scores candidates with the exact
    *      codegen'd cosine — the query side broadcasts below the c27
    *      dispatch threshold and becomes a shuffle_hash build above it
    *      (no silent driver-OOM cliff on a huge query set);
    *   4. per-query top-k: a (cell, query) pre-rank bounds each probed
    *      cell's contribution to k before the global per-query window
    *      (the knnJoinIvf two-stage doctrine — the global top-k is a
    *      subset of the per-cell top-ks, and the pre-rank's clustering
    *      is satisfied by the join exchange, so it adds no shuffle),
    *      then row_number ≤ k per query.
    * Tombstoned ids are excluded by [[liveIndexVectors]]; a query never
    * matches itself (query sets drawn from the indexed corpus are the
    * dedup/self-join reality). Approximate exactly like the
    * single-query flat probe (cell-boundary misses) → rows-only;
    * per-query recall vs the exact brute-force top-k is spec-asserted. */
  def annIvfBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
                  k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    val (flat, dim) = indexCentroidsFlat(spark, indexDir)
    // localCheckpoint: the assignment feeds BOTH the bounded cells
    // collect and the join probe — without it the NearestCells explode
    // re-evaluates per consumer
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding"))
      .withColumn("cell", explode(indexCellsCol(spark, indexDir, flat, dim, nprobe(spark))))
      .select(col("query_id"), col("embedding").as("qv"), col("cell"))
      .localCheckpoint()
    // ONE job for probed cells AND the dispatch row count (round-15:
    // was a distinct-collect plus a count — two driver round-trips per
    // batch over the same pinned frame): the per-cell counts sum to
    // the row count, and the keys are the distinct cells
    val cellRows = q.groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
    val cells = cellRows.map(_.getInt(0))
    val nQ = cellRows.map(_.getLong(1)).sum
    val vectors = liveIndexVectors(spark, indexDir)
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("cell"), col("vec_id"), col("embedding"))
    val scored = vectors
      .join(dispatchProbeSide(spark, q, nQ), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("cell"), col("query_id"), col("vec_id"),
        round(cosineExpr("embedding", "qv"), 4).as("sim"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"), col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    scored
      .withColumn("crk", row_number().over(wc)).filter(col("crk") <= k)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Registry wrapper: the query set is every `graft.ann.batchQueryMod`-th
    * (default 17 → ~6% of the corpus — a realistic retrieval batch)
    * embedding, probed against the shared persisted index
    * ([[ensureIndex]]) at k=10. */
  def annIvfBatchQuery(spark: SparkSession, dir: String): DataFrame = {
    val qmod = spark.conf.getOption("graft.ann.batchQueryMod")
      .map(_.toLong).getOrElse(17L)
    annIvfBatch(spark, ensureIndex(spark, dir),
      Relational.table(spark, dir, "embeddings")
        .filter(col("vec_id") % qmod === 0)
        .select(col("vec_id"), col("embedding")))
  }

  // ------------------------------------------------------- c42 RAG e2e

  /** Deterministic text→vector featurizer for the RAG composition: a
    * signed feature-hash projection of a token array — dim 0 is a
    * constant 1 bias (no chunk can embed to the zero vector, so cosine
    * is always defined), dims 1..32 sum ±1 votes per token keyed by
    * `xxhash64(token, dim)`. Pure codegen'd higher-order functions, no
    * UDF; a production deployment swaps this column for a real model's
    * embeddings and NOTHING downstream changes — the index build,
    * probe, and top-k all consume (vec_id, embedding) frames. */
  private def embedTokensExpr(toksCol: String): org.apache.spark.sql.Column =
    // the token array binds ONCE as a lambda variable — an aliased
    // slice/split column would be inlined by CollapseProject into all
    // 32 aggregate lambdas (the fingerprint/withShingles trap)
    expr(
      s"""transform(array($toksCol), ch ->
         |  cast(concat(array(cast(1 as double)),
         |    transform(sequence(1, 32), i ->
         |      aggregate(ch, cast(0 as double),
         |        (acc, t) -> acc + IF(pmod(xxhash64(t, i), 2) = 0,
         |          cast(1 as double), cast(-1 as double)))))
         |  as array<float>))[0]""".stripMargin)

  /** chunk vec_id encoding: doc·4096 + ix + 1 (chunks per doc are
    * bounded by text length / stride ≪ 4096); query ids live above
    * 2⁴⁰ so the two id spaces can never collide. */
  private val ragChunkIdBase = 4096L
  private[graft] val ragQueryIdOffset = 1L << 40

  /** C42 — RAG ingestion + retrieval, end to end, as ONE composed
    * program (the c33 doctrine applied to the retrieval side of the
    * house): overlapping chunking (the c36 kernel's window/stride) →
    * deterministic chunk embeddings → a persisted IVF index over the
    * CHUNKS ([[buildIvfIndexFrom]] — generation protocol, cell-
    * partitioned layout) → a batch query-set retrieval through the
    * same pruned-probe join as c3_ann_batch. Queries are the eval
    * split's (doc_id % 20 = 0) first chunks, embedded by the identical
    * featurizer, so every query has an exact copy in the index — the
    * spec's recall handle: rank-1 similarity must be 1.0 for every
    * query, batch-wide.
    *
    * Scale shape: chunk+embed is map-only; the index build pays one
    * corpus shuffle (the layout step); the probe touches only probed
    * cells via partition pruning and never loops per query. The index
    * is fingerprint-cached per corpus like [[ensureIndex]], so repeated
    * calls (bench run1/run2, sweeps) rebuild nothing. */
  /** The c42 chunk+embed projection: c36's window/stride enumeration
    * with the embedding in place of the md5 — map-only (the only
    * allowed exchange is [[Scale.sizeForCompute]]'s round-robin on an
    * under-partitioned source; PlanSpec-pinned). */
  private[graft] def ragChunks(d: DataFrame): DataFrame = Scale.sizeForCompute(d)
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), col("toks"),
      posexplode(expr(s"sequence(0, size(toks) - 1, ${Training.chunkStride})")))
    .withColumnRenamed("pos", "chunk_ix")
    .withColumn("chunk", expr(s"slice(toks, col + 1, ${Training.chunkWin})"))
    .select(col("doc_id"), col("chunk_ix"), embedTokensExpr("chunk").as("embedding"))

  /** The c42 chunk-VECTOR projection: [[ragChunks]] with the
    * doc·4096+ix+1 id encoding — the one frame shape the chunk index
    * consumes, shared by the build, the arrival ingest, and the
    * streaming leg so the three can never drift. */
  private[graft] def ragChunkVecs(d: DataFrame): DataFrame = ragChunks(d)
    .select((col("doc_id") * ragChunkIdBase + col("chunk_ix") + 1).as("vec_id"),
      col("embedding"))

  /** Query the chunk index at `indexDir` with `queryDocs`' FIRST
    * chunks (embedded by the identical featurizer) and decode the
    * retrieved chunk ids back to (src_doc, chunk_ix) — the shared
    * retrieval tail of c42/c42b/c42c. */
  private[graft] def ragQueriesOn(spark: SparkSession, indexDir: String,
                                  queryDocs: DataFrame): DataFrame = {
    val queries = ragChunks(queryDocs)
      .filter(col("chunk_ix") === 0)
      .select((col("doc_id") + ragQueryIdOffset).as("vec_id"), col("embedding"))
    annIvfBatch(spark, indexDir, queries, k = 5)
      .select(
        (col("query_id") - ragQueryIdOffset).as("query_doc"),
        col("rnk"),
        expr(s"(vec_id - 1) div $ragChunkIdBase").as("src_doc"),
        expr(s"cast((vec_id - 1) % $ragChunkIdBase as int)").as("chunk_ix"),
        col("sim"))
      .orderBy("query_doc", "rnk")
  }

  /** Dense-leg recall of the c42 chunk index for NON-TWIN queries
    * (round-13 verdict item 7 — the c42 spec proved exact-twin rank-1
    * only; this measures what the dense leg retrieves when the answer
    * is NOT a planted copy): build the chunk index on the TRAIN split,
    * query with the EVAL split's first chunks (embedded by the same
    * featurizer, no self in the index), and report mean overlap@k vs
    * the exact brute-force cosine top-k per swept `graft.ann.nprobe`.
    * The brute-force reference is the oracle path (one cross join) —
    * sweep-only, never a production plan. Shared by the TierCSpec
    * monotonicity pin and the BASELINE sweep tool. */
  private[graft] def ragDenseRecall(spark: SparkSession, docs: DataFrame,
      idxDir: String, nprobes: Seq[Int], k: Int = 5): Seq[(Int, Double)] = {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val evalD = docs.filter(col("doc_id") % 20 === 0)
    buildIvfIndexFrom(spark, ragChunkVecs(train), idxDir)
    val queries = ragChunks(evalD).filter(col("chunk_ix") === 0)
      .select((col("doc_id") + ragQueryIdOffset).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val chunks = ragChunkVecs(train).localCheckpoint()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ref = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(chunks)
      .select(col("query_id"), col("vec_id"),
        round(cosineExpr("embedding", "qv"), 4).as("sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // empty-input contract (the quantizerDrift doctrine): no eval
    // queries means recall is UNDEFINED, not 0/0 = NaN quietly fed
    // into the BASELINE sweep's JSON
    require(ref.nonEmpty,
      "rag recall eval split produced no queries (no doc_id % 20 == 0 " +
        "documents with a first chunk) — recall is undefined on an " +
        "empty eval set; use a corpus with eval-modulus coverage")
    // restore the CALLER's operating point, not the default — a
    // session that tuned nprobe must measure at its setting afterwards
    val prior = spark.conf.getOption("graft.ann.nprobe")
    try {
      nprobes.map { np =>
        spark.conf.set("graft.ann.nprobe", np.toString)
        val got = annIvfBatch(spark, idxDir, queries, k)
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val ov = ref.toSeq.map { case (q, r) =>
          r.intersect(got.getOrElse(q, Set.empty[Long])).size.toDouble / r.size }
        np -> ov.sum / ov.size
      }
    } finally prior match {
      case Some(v) => spark.conf.set("graft.ann.nprobe", v)
      case None => spark.conf.unset("graft.ann.nprobe")
    }
  }

  def ragE2E(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Relational.table(spark, dir, "documents")
    val indexDir = ensureRagIndex(spark, dir, ragChunkVecs(docs))
    ragQueriesOn(spark, indexDir, docs.filter(col("doc_id") % 20 === 0))
  }

  /** C42b — INCREMENTAL RAG ingest: the arrival path of a standing RAG
    * deployment (round-12 verdict item 4 — c42 built its chunk index
    * once; arrivals had no chunk+embed+append leg). New documents run
    * the SAME map-only chunk+embed projection as the build and land in
    * the chunk index via [[appendToIvfIndex]]: assignment to the
    * frozen coarse quantizer (Θ(batch·d) map work), one small exchange
    * of the batch, at most one new file per touched cell — the index
    * never refits, and queries see old + new chunks through the
    * identical partition-pruned probe plan. Idempotent under `batchId`
    * replay (the append marker); quantizer drift from accumulated
    * arrivals is the rebuild trigger (the drift-policy ops below). */
  def ragIngest(spark: SparkSession, indexDir: String, arrivals: DataFrame,
                batchId: Option[String] = None): Unit =
    appendToIvfIndex(spark, indexDir, ragChunkVecs(arrivals), batchId)

  /** Registry wrapper: build the chunk index on 95% of the corpus
    * (doc_id ≢ 3 mod 20), ingest the held-out 5% as the arrival batch,
    * then query with the ARRIVALS' first chunks — every query's
    * planted twin (its own chunk) entered the index through the append
    * path, so rank-1 sim = 1.0 batch-wide proves arrivals are
    * retrievable (the spec also proves they are NOT retrievable before
    * the ingest, and that a batchId replay is a no-op). */
  def ragIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_c42b_index_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildIvfIndexFrom(spark, ragChunkVecs(docs.filter(col("doc_id") % 20 =!= 3)), idx)
    val arrivals = docs.filter(col("doc_id") % 20 === 3)
    ragIngest(spark, idx, arrivals, Some("c42b_arrival"))
    ragQueriesOn(spark, idx, arrivals)
  }

  /** C42c — STREAMING RAG ingest (the c22c/c22d foreachBatch doctrine
    * on the retrieval side): replay `arrivals` one file per trigger
    * through [[StreamHarness]]; each micro-batch makes ONE idempotent
    * [[ragIngest]] call under the harness's batch key (exactly-once
    * through the append marker), with the harness's in-stream index
    * compaction when `graft.stream.compactMaxFiles` is set. */
  private[graft] def ragIngestStreamOn(spark: SparkSession, idx: String,
      arrivals: DataFrame, name: String,
      nSlices: Int = Relational.replaySlices): Unit =
    StreamHarness.run(spark, name, arrivals.select(col("doc_id"), col("text")), col("doc_id"),
        nSlices, Some(ivfMaintenance(spark, idx))) { b =>
      ragIngest(spark, idx, b.df, Some(b.key))
      // files-added bound: the append writes ≤ one file per touched
      // cell, so ≤ its CHUNK rows — each document adds ~text/stride
      // chunks, so the batch's document count would undercount
      () => ragChunkVecs(b.df).count()
    }

  /** Registry wrapper for the streaming leg: same split and planted-
    * twin contract as [[ragIncrementalQuery]], arrivals replayed
    * through [[ragIngestStreamOn]] micro-batches instead of one
    * append. */
  def ragStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_c42c_index_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildIvfIndexFrom(spark, ragChunkVecs(docs.filter(col("doc_id") % 20 =!= 3)), idx)
    val arrivals = docs.filter(col("doc_id") % 20 === 3)
    ragIngestStreamOn(spark, idx, arrivals, s"graft_c42c_$key")
    ragQueriesOn(spark, idx, arrivals)
  }

  /** [[ensureIndex]]'s fingerprint-cache pattern for the c42 CHUNK
    * index (keyed on documents.parquet — the chunk vectors derive
    * deterministically from it, so same files ⇒ same index). */
  private def ensureRagIndex(spark: SparkSession, dir: String,
                             chunkVecs: => DataFrame): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    IndexMeta.ensureDerived(spark, s"$dir/documents.parquet",
      s"graft_rag_index_${key}_")(
      p => IndexMeta.exists(spark, s"$p/centroids/_SUCCESS"))(
      buildIvfIndexFrom(spark, chunkVecs, _))
  }

  /** C3b3 — INCREMENTAL index append: assign a new vector batch to the
    * EXISTING coarse quantizer (no refit — Θ(batch·d) map work, zero
    * shuffles beyond the partitioned write), sign it, and land it in
    * the same cell-partitioned layout via a parquet append. This is
    * the arrival path of a growing corpus: a new crawl batch joins the
    * index at assignment cost instead of re-fitting KMeans over
    * everything, and queries see old + new vectors through the
    * IDENTICAL probe plan — appended files land inside the cell
    * directories the partition-pruned scan already reads.
    *
    * Assignment is argmin squared-L2 over the persisted centroids (the
    * same [[graft.functions.NearestCells]] kernel the probe side uses,
    * with nprobe=1), so a vector is always probed in the cell it was
    * filed under. Quantizer drift is the documented rebuild trigger:
    * centroids fitted on the original corpus degrade as appended mass
    * shifts the distribution, so production pairs this with a refit
    * policy (e.g. rebuild via [[buildIvfIndexFrom]] once appends exceed
    * ~30% of the indexed count — both counts are one `count()` on the
    * vectors layout away). Each append also adds a file per touched
    * cell — [[compactIvfIndex]] is the periodic rewrite that keeps the
    * probe's per-directory file count flat.
    *
    * Re-insert after delete THROWS until the delete is physical: a
    * tombstoned id's old row is still in the layout, so "revoke the
    * tombstone and append" would serve BOTH rows, and "keep the
    * tombstone" would silently hide the new row and destroy it at the
    * next compaction. Neither is acceptable silently (the c14 loud-throw
    * doctrine), and resolving it at read time means per-probe MVCC the
    * exchange-free read paths shouldn't pay — so the append checks its
    * batch against the tombstone table (broadcast anti-join, O(batch))
    * and rejects overlaps with the fix in the message: compact first
    * (deletes become physical, table resets), then re-insert.
    *
    * Retry contract: pass `batchId` (caller-unique per logical batch)
    * and a committed append becomes a no-op on re-run — the marker file
    * is written AFTER the data commits, so a crashed attempt re-runs in
    * full and only a crash inside the marker-write window (ms) can
    * double-apply. Without `batchId`, retries are the caller's problem. */
  def appendToIvfIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame,
                       batchId: Option[String] = None): Unit = {
    val marker = batchId.map(b =>
      s"$indexDir/_appended_${b.replaceAll("[^A-Za-z0-9._-]", "_")}")
    if (marker.exists(IndexMeta.exists(spark, _))) return
    val vecDir = liveVectorsPath(spark, indexDir)
    val tomb = s"$indexDir/tombstones"
    if (IndexMeta.exists(spark, tomb)) {
      val clash = newVectors.select(col("vec_id"))
        .join(broadcast(Relational.cachedSchemaParquet(spark, tomb)), Seq("vec_id"), "left_semi")
        .limit(5).collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"batch re-inserts tombstoned ids ${clash.mkString(", ")} — the old rows " +
          s"are still physically in $vecDir, so appending now would " +
          "either serve two rows per id or lose the new one. Run " +
          "compactIvfIndex first (makes deletes physical, clears tombstones), " +
          "then re-insert.")
    }
    // ids already LIVE in the layout are rejected just as loudly: an
    // overlapping append would serve two rows per id on every probe
    // (round-6 advice — the overlap was silently accepted). The check
    // reads the ids SIDECAR (vec_id-only mirror, one small file per
    // append since the last compaction) rather than the layout's id
    // column — the round-7 soak showed the layout scan's file opens
    // dominating append cost on a fragmented index (20 s/batch at
    // 45k files; the sidecar holds the guard at O(#appends) opens).
    // Pre-sidecar indexes (no ids.g* dir) fall back to the layout
    // scan. Correctness-first and ON by default;
    // `graft.index.appendIdCheck=false` is for callers whose id
    // assignment is externally unique (e.g. monotone crawl ids), who
    // then own the two-rows-per-id failure mode.
    val idsGen = IndexMeta.liveGen(spark, indexDir, "ids").map(_.toString)
    // live-id guard + centroids fetch in ONE job per append (round-15
    // action fold): the k-row centroids cross-join the (≤5-row → 1-row)
    // clash aggregate, so the guard and the assignment codebook arrive
    // in one driver round-trip; with the id check conf'd off the
    // centroids collect runs alone, as before
    val centsDf = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
    val cents =
      if (spark.conf.getOption("graft.index.appendIdCheck").forall(_.toBoolean)) {
        val physicalIds = idsGen.map(Relational.cachedSchemaParquet(spark, _))
          .getOrElse(Relational.cachedSchemaParquet(spark, vecDir).select(col("vec_id")))
        val rows = centsDf.crossJoin(physicalIds
          .join(broadcast(newVectors.select(col("vec_id"))), Seq("vec_id"), "left_semi")
          .limit(5).agg(collect_list(col("vec_id")).as("live_clash"))).collect()
        val liveClash = rows.headOption
          .map(_.getAs[scala.collection.Seq[Long]]("live_clash")).getOrElse(Nil)
        require(liveClash.isEmpty,
          s"batch re-inserts ids already live in the index ${liveClash.mkString(", ")} — " +
            "every probe would serve two rows per id. Dedup the batch against " +
            "the indexed ids first (or delete + compact to replace them). " +
            "If a previous append of THIS batch crashed between its sidecar " +
            "and layout writes, repair with rebuildIdsSidecar and re-run.")
        rows.map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
      } else centsDf.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    // an empty codebook empties the guard's cross join too, so the
    // live-id check above saw no row and proved nothing: refuse before
    // the first write, never after the sidecar has grown
    require(cents.nonEmpty,
      s"the centroids table under $indexDir has no rows — the index cannot " +
        "place vectors and the live-id guard could not run; rebuild the index")
    // Sidecar lands BEFORE the layout (one small file, job-committed):
    // a crash between the two writes leaves the sidecar a SUPERSET of
    // the layout, so the bare re-run fails LOUDLY on the guard above
    // instead of a later overlapping batch silently passing it — the
    // fail-loud-never-duplicate ordering doctrine of the near-dup
    // store's shingles-first append. Repair = rebuildIdsSidecar (one
    // layout scan, the old per-append guard cost paid once).
    idsGen.foreach(g => newVectors.select(col("vec_id")).coalesce(1)
      .write.mode("append").parquet(g))
    GraftFunctions.register(spark)
    val dim = cents.head._2.length
    val flat = new Array[Float](cents.length * dim)
    cents.foreach { case (c, arr) =>
      var j = 0
      while (j < dim) { flat(c * dim + j) = arr(j); j += 1 }
    }
    newVectors
      // indexCellsCol, NOT a bare flat argmin: on a constant-population
      // index the PROBE searches hierarchically, so placement must use
      // the same kernel or boundary-cell vectors become unfindable
      .withColumn("cell", element_at(indexCellsCol(spark, indexDir, flat, dim, 1), 1))
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("embedding"), col("sigs"), col("cell"))
      // One exchange of the (small) batch so each cell lands in exactly
      // one task → at most one new file per touched cell per append.
      // Without it every writer task emits a file per cell it holds
      // (tasks×cells files per batch) — measured at sf10 that made 8
      // appends of 5% cost MORE than a full rebuild, purely in file
      // creation (IndexLifecycle rehearsal, BASELINE.md round 6).
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(vecDir)
    marker.foreach(IndexMeta.createMarker(spark, _))
  }

  /** C3b4 — index COMPACTION: rewrite the vectors layout so each cell
    * holds few near-target-size files instead of the pile every
    * [[appendToIvfIndex]] batch adds (one file per cell per writer
    * task). At 100 TB the append path's small files are the probe
    * killer — a year of hourly crawl batches turns an nprobe-pruned
    * scan of 20 directories into tens of thousands of file opens — and
    * the fix is the standard LSM move: periodically rewrite each
    * partition at the target file size. Contents are untouched
    * (same rows, same columns, signatures carried through — the spec
    * pins byte-identical probe results and a byte-identical sorted
    * table), only the file layout changes.
    *
    * File sizing is per cell: bytes-per-row is measured from the live
    * layout, per-cell counts come from one k-row aggregate (the same
    * O(k)=O(√n) driver exception as the centroid table), and each row
    * is salted `pmod(xxhash64(vec_id), ceil(cellBytes/target))` so the
    * `repartition(totalFiles, cell, salt)` exchange lands each output
    * file's rows in one task — the write emits ~one file per (cell,
    * salt) at ~targetFileBytes each, hot cells split, cold cells
    * coalesce to one.
    *
    * Commit discipline: the rewrite lands in the next GENERATION dir
    * and becomes live the instant Spark's `_SUCCESS` commits it —
    * readers resolve the max committed generation, so there is no
    * rename anywhere and the protocol works unchanged on S3/HDFS
    * ([[IndexMeta]]). Crash-safe at every step: the old generation is
    * deleted only after the new one is committed, and a crash before
    * commit leaves the old one live (the orphan is swept by the next
    * build/compact). The one remaining concurrency hazard is the final
    * GC racing a reader that resolved the OLD generation before the
    * commit — compaction stays a maintenance op for a quiesced index,
    * but the unsafe window shrank from the whole double-rename swap to
    * that single delete. */
  def compactIvfIndex(spark: SparkSession, indexDir: String,
                      targetFileBytes: Long = 128L << 20): Unit = {
    import spark.implicits._
    val vecDir = liveVectorsPath(spark, indexDir)
    // live set only: the rewrite is where tombstoned rows become
    // physically absent; the table clears AFTER the commit (idempotent —
    // a crash in between leaves tombstones whose ids no longer match)
    val v = liveIndexVectors(spark, indexDir)
    val totalBytes = IndexMeta.bytesUnder(spark, vecDir, ".parquet")
    val counts = v.groupBy(col("cell").cast("int").as("cell")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // bytes/row over the RAW layout (tombstoned rows still occupy the
    // files being measured) — dividing by the live count would inflate
    // the estimate ~2× after heavy deletes and halve the file sizes
    val rawRows = Relational.cachedSchemaParquet(spark, vecDir).count().max(1L)
    val bytesPerRow = totalBytes.toDouble / rawRows
    val filesPerCell = counts.map { case (c, n) =>
      (c, math.max(1L, math.ceil(n * bytesPerRow / targetFileBytes).toLong))
    }
    val (nextDir, oldGens) = IndexMeta.nextGen(spark, indexDir)
    if (counts.isEmpty) {
      // a fully-tombstoned index compacts to ONE empty schema-bearing
      // file, written non-partitioned (there are no cells left to
      // partition by): an empty partitionBy write emits only _SUCCESS
      // and the next read dies on schema inference (round-6 advice —
      // the old max(1) guard claimed this case worked; it didn't)
      v.select(col("vec_id"), col("embedding"), col("sigs"),
          col("cell").cast("int").as("cell"))
        .repartition(1)
        .write.mode("overwrite").parquet(nextDir)
    } else {
      v.join(broadcast(filesPerCell.toSeq.toDF("cell", "nf")), "cell")
        .withColumn("salt", pmod(xxhash64(col("vec_id")), col("nf")))
        .repartition(filesPerCell.map(_._2).sum.toInt, col("cell"), col("salt"))
        .select(col("vec_id"), col("embedding"), col("sigs"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(nextDir)
    }
    // ids sidecar follows: the live id set, one generation, compacted
    // back to few files (each append added one). Written while the old
    // layout still exists — `v` reads from it. A crash before this
    // write leaves the sidecar a superset of the new layout (contains
    // the tombstoned-away ids): re-inserting those ids then fails
    // loudly until rebuildIdsSidecar — never silently duplicates.
    val (idsNext, oldIds) = IndexMeta.nextGen(spark, indexDir, "ids")
    Scale.sizeForWrite(v.select(col("vec_id")))
      .write.mode("overwrite").parquet(idsNext)
    oldGens.foreach(IndexMeta.delete(spark, _))
    oldIds.foreach(IndexMeta.delete(spark, _))
    IndexMeta.delete(spark, s"$indexDir/tombstones") // now physical; table resets
  }

  /** Compaction CADENCE policy (round-7 verdict item 5): compact when
    * the live layout's file count exceeds `maxFiles` — one recursive
    * listing (no file opens), then the existing compaction; a no-op
    * otherwise. Both stores compacted only on explicit calls before
    * this, and the 50-batch sf100 soak showed appends degrading probes
    * 6.8× in file opens before anyone did — wiring this after each
    * append (or on a maintenance timer) bounds probe latency with no
    * manual scheduling. Default 4096 files: at the 128 MB compaction
    * target that is ~0.5 TB per index shard before a rewrite, and one
    * listing of 4096 entries costs microseconds. Returns whether it
    * compacted (callers log cadence from it). Same quiesced-writer
    * contract as the compaction it triggers. */
  def compactIvfIndexIfFragmented(spark: SparkSession, indexDir: String,
      maxFiles: Long = 4096): Boolean = {
    val n = IndexMeta.countUnder(spark, liveVectorsPath(spark, indexDir), ".parquet")
    if (n > maxFiles) { compactIvfIndex(spark, indexDir); true } else false
  }

  /** [[compactIvfIndexIfFragmented]] for the near-dup store: the
    * trigger reads the max file count across the three tables (each
    * append adds files to all three). */
  def compactNearDupIndexIfFragmented(spark: SparkSession, indexDir: String,
      maxFiles: Long = 4096): Boolean = {
    val n = Seq("shingles", "bands", "pairs")
      .map(t => IndexMeta.countUnder(spark, nearDupTablePath(spark, indexDir, t), ".parquet"))
      .max
    if (n > maxFiles) { compactNearDupIndex(spark, indexDir); true } else false
  }

  /** Repair the ids sidecar from the layout itself — the recovery op
    * for an append that crashed between its sidecar and layout writes
    * (sidecar superset → guard false-rejects that batch's retry) or a
    * compaction that crashed before its sidecar rewrite. One full scan
    * of the layout's 8-byte id column: the cost the sidecar saves on
    * every append, paid once per repair. */
  def rebuildIdsSidecar(spark: SparkSession, indexDir: String): Unit = {
    val (idsNext, oldIds) = IndexMeta.nextGen(spark, indexDir, "ids")
    Scale.sizeForWrite(
      Relational.cachedSchemaParquet(spark, liveVectorsPath(spark, indexDir)).select(col("vec_id")))
      .write.mode("overwrite").parquet(idsNext)
    oldIds.foreach(IndexMeta.delete(spark, _))
  }

  /** Registry wrapper for the append path: build a fresh index from a
    * deterministic 95% slice of `embeddings`, append the held-out 5%
    * (ids ≡ 7 mod 20) through [[appendToIvfIndex]], and run the
    * single-query probe over the union. Approximate (quantizer fitted
    * on the slice) → rows-only check; the append semantics themselves
    * are pinned exactly in the spec (independent argmin-L2 assignment,
    * signature parity, planted-neighbor retrieval). */
  def annIndexAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_ivf_append_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    buildIvfIndexFrom(spark, e.filter(col("vec_id") % 20 =!= 7), idx.toString)
    appendToIvfIndex(spark, idx.toString,
      e.filter(col("vec_id") % 20 === 7).select(col("vec_id"), col("embedding")))
    annIvfIndexed(spark, dir, idx.toString)
  }

  /** Registry wrapper for the full maintenance cycle: build on the 95%
    * slice, append the held-out 5%, COMPACT, probe. Same quantizer seed
    * and inputs as [[annIndexAppendQuery]], so its result must equal
    * that query's byte-for-byte — compaction only changes file layout —
    * which the spec asserts alongside the one-file-per-cell shape. */
  def annIndexCompactQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_ivf_compact_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    buildIvfIndexFrom(spark, e.filter(col("vec_id") % 20 =!= 7), idx.toString)
    appendToIvfIndex(spark, idx.toString,
      e.filter(col("vec_id") % 20 === 7).select(col("vec_id"), col("embedding")))
    compactIvfIndex(spark, idx.toString)
    annIvfIndexed(spark, dir, idx.toString)
  }

  /** Registry wrapper for the delete path: build + append as above,
    * probe, DELETE the probe's current top-3 ids (the takedown shape:
    * remove exactly the vectors being served), compact, probe again.
    * The returned top-10 provably excludes the deleted ids — pinned in
    * the spec along with tombstone-only visibility (probe excludes
    * before any rewrite) and physical removal after compaction. */
  def annIndexDeleteQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_ivf_delete_${key}_")
    val e = Relational.table(spark, dir, "embeddings")
    buildIvfIndexFrom(spark, e.filter(col("vec_id") % 20 =!= 7), idx.toString)
    appendToIvfIndex(spark, idx.toString,
      e.filter(col("vec_id") % 20 === 7).select(col("vec_id"), col("embedding")))
    val top3 = annIvfIndexed(spark, dir, idx.toString)
      .limit(3).select(col("vec_id"))
    deleteFromIvfIndex(spark, idx.toString, top3)
    compactIvfIndex(spark, idx.toString)
    annIvfIndexed(spark, dir, idx.toString)
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
  private def fitCoarse(e: DataFrame): org.apache.spark.ml.clustering.KMeansModel = {
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
  private def fitTwoLevel(e: DataFrame, k: Int): (Array[Float], Array[Float], Int, Int) = {
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

  private def twoLevelCellsColOf(child: org.apache.spark.sql.Column, coarse: Array[Float],
      sub: Array[Float], dim: Int, k2: Int, nprobe: Int,
      nprobe1: Int = 1): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.{GraftColumns => ExpressionUtils}
    ExpressionUtils.column(graft.functions.TwoLevelCells(
      ExpressionUtils.expression(child), coarse, sub, dim, k2, nprobe, nprobe1))
  }

  /** THE cell-choice kernel for an index at `indexDir`, given its flat
    * sub-centroid matrix: hierarchical ([[TwoLevelCells]] through the
    * persisted `centroids2` coarse codebook) when the index was built
    * constant-population, flat [[NearestCells]] otherwise. EVERY reader
    * and writer of the index must route through this — the append path
    * placing a vector with a different kernel than the probe searches
    * with silently loses the vector in boundary cells (caught by the
    * cycle-under-cellPop spec: 10 of 25 appended-survivor twins missed
    * when append used the flat-global argmin against a hierarchical
    * probe — the sigWords width-drift lesson, applied to cell choice). */
  private def indexCellsCol(spark: SparkSession, indexDir: String,
      flat: Array[Float], dim: Int, nprobe: Int): org.apache.spark.sql.Column =
    if (IndexMeta.exists(spark, s"$indexDir/centroids2/_SUCCESS")) {
      val co = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids2")
        .select(col("cell1"), col("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
      val coFlat = new Array[Float](co.length * dim)
      co.foreach { case (c, a2) =>
        var j = 0
        while (j < dim) { coFlat(c * dim + j) = a2(j); j += 1 }
      }
      // defense in depth against a mismatched coarse/sub codebook pair
      // (a crash that survives the write-ordering in buildIvfIndexFrom,
      // or a hand-edited index): a non-dividing pair cannot be a valid
      // two-level codebook — fall back to the flat probe, which is
      // correct for ANY sub-centroid table, rather than mis-derive k2
      if (co.nonEmpty && (flat.length / dim) % co.length == 0) {
        val k2 = (flat.length / dim) / co.length
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
        twoLevelCellsColOf(col("embedding"), coFlat, flat, dim, k2, nprobe, b)
      } else nearestCellsCol(flat, dim, nprobe)
    } else nearestCellsCol(flat, dim, nprobe)

  /** nprobe-nearest-cell choice as a Column over the codegen'd
    * [[graft.functions.NearestCells]]: the k×dim centroid matrix rides
    * inside the expression (flattened floats, plan-shipped once —
    * same payload as the broadcast literal row it replaces, none of
    * the per-cell-per-row HOF allocation; see the round-6 sf100
    * rehearsal in BASELINE.md). */
  private def centroidMatrix(
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

  private def nearestCellsCol(flat: Array[Float], dim: Int, nprobe: Int): org.apache.spark.sql.Column =
    nearestCellsColOf(col("embedding"), flat, dim, nprobe)

  /** [[NearestCells]] over an arbitrary array<float> column — the PQ
    * encoder reuses the argmin-L2 kernel per subspace slice. */
  private def nearestCellsColOf(child: org.apache.spark.sql.Column,
      flat: Array[Float], dim: Int, nprobe: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.{GraftColumns => ExpressionUtils}
    ExpressionUtils.column(graft.functions.NearestCells(
      ExpressionUtils.expression(child), flat, dim, nprobe))
  }

  private def nearestCellsCol(
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
  private val sigWords = 4
  /** Semantic-dedup Hamming screen bar, scaled to the signature width
    * (≤32/256 bits at sigWords=4 — the ≥0.99-pair 6σ margin documented
    * at the batch op). Derived, not a literal, so a sigWords change
    * moves signer, index, and screen together. */
  private val hammingBar = 8 * sigWords
  private def hammingPerCell(spark: SparkSession): Int =
    spark.conf.getOption("graft.ann.hammingPerCell").map(_.toInt).getOrElse(16)
  private def shortlistGlobal(spark: SparkSession): Int =
    spark.conf.getOption("graft.ann.shortlist").map(_.toInt).getOrElse(48)
  private def nprobe(spark: SparkSession): Int =
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
    val cents = Relational.cachedSchemaParquet(spark, s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val dim = cents.head._2.length
    val flat = new Array[Float](cents.length * dim)
    cents.foreach { case (c, arr) =>
      var j = 0
      while (j < dim) { flat(c * dim + j) = arr(j); j += 1 }
    }
    twoLevelJoinOn(spark, vectors, flat, dim)
  }

  /** Shared index-location contract of the registry wrappers: under a
    * scratch root (`graft.index.root` conf; default java.io.tmpdir),
    * keyed by the data dir AND a fingerprint of the embeddings files
    * (names + sizes + mtimes via `FileSystem.listStatus`). The
    * fingerprint is the staleness guard: a regenerated corpus at the
    * same path must get a fresh index — a path-only key would silently
    * serve vectors from the previous corpus. Builds go DIRECTLY to a
    * builder-unique dir (key + fingerprint + appId) and publish by
    * writing centroids LAST: readiness = `centroids/_SUCCESS`, the
    * same commit-marker resolution as the vectors generations — no
    * renames anywhere, so the contract holds on object stores too.
    * Concurrent builders of the same fingerprint build side by side
    * (content is deterministic — the dirs are interchangeable) and
    * readers take the first ready one. A successful build then GCs
    * READY indexes of superseded fingerprints of the same data dir
    * (in-flight builds are not ready and are never touched). */
  private[ops] def ensureIndex(spark: SparkSession, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    IndexMeta.ensureDerived(spark, s"$dir/embeddings.parquet",
      s"graft_ivf_index_${key}_")(
      p => IndexMeta.exists(spark, s"$p/centroids/_SUCCESS"))(
      buildIvfIndex(spark, dir, _))
  }

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
