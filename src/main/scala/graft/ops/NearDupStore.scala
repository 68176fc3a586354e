package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The header of a near-dup store's `store.gN` generation: the live
  * segments, each a `seg_store.gN` dir holding `shingles/`, `bands/`
  * and `pairs/` (a build or a compaction writes one, every append one
  * more), and the batch ids appended since the build (compaction
  * carries them). */
private[graft] final case class StoreHeader(segments: Seq[String], applied: Seq[String])

/** The persistent near-dup signature store of [[Similarity]] (C27). */
private[ops] trait NearDupStore { self: Similarity.type =>

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
  // append contract like the IVF index; a batch appended with its id
  // replays as a no-op (the store header's `applied` list).

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

  private val storeTables = Seq("shingles", "bands", "pairs")

  /** The near-dup store family ([[StoreHeader]]): after each commit,
    * every segment the header does not name is deleted — superseded
    * ones and orphans of crashed appends (single-writer contract). */
  private[graft] val storeFamily = new IndexFamily[StoreHeader]("store",
    "rebuild the store with buildNearDupIndex", Seq("segments"),
    Seq(IndexFamily.Gc("", Seq("seg_store.g"), _.segments)))

  /** One store table's dir in every live segment, as the header names
    * them. */
  private[graft] def nearDupTablePaths(spark: SparkSession, indexDir: String,
      table: String): Seq[String] =
    storeFamily.header(spark, indexDir, "this reader").segments.map(s => s"$indexDir/$s/$table")

  /** One store table: the union of its live segments (one path, the
    * plain read, for a single-segment store). */
  private def storeTable(spark: SparkSession, indexDir: String, table: String): DataFrame =
    Relational.cachedSchemaParquet(spark, nearDupTablePaths(spark, indexDir, table))

  /** Build the store: one text pass writes shingles/, then bands/ and
    * the corpus-internal pairs/ derive from the PERSISTED hashes (the
    * shingle pass is the expensive one — recomputing it per derived
    * table would triple the corpus read). The three tables land in one
    * fresh segment that the store header commits; a rebuild supersedes
    * the old segments only at that commit. */
  def buildNearDupIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    storeFamily.commit(spark, indexDir) { g =>
      val seg = segOf(indexDir, g)
      Relational.writeParquet(hashedShingles(spark, docs), s"$seg/shingles")
      val sh = Relational.cachedSchemaParquet(spark, s"$seg/shingles")
      Relational.writeParquet(bandKeysOf(sh), s"$seg/bands")
      val bands = Relational.cachedSchemaParquet(spark, s"$seg/bands")
      val cands = bands.as("a").hint("shuffle_hash").join(bands.as("b"),
          col("a.bkh") === col("b.bkh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      Relational.writeParquet(verifyPairs(cands, sh), s"$seg/pairs")
      StoreHeader(Seq(baseName(seg)), Seq.empty)
    }

  /** Dedup an arrival batch against the store WITHOUT re-signing the
    * corpus, then append it. Returns an UPPER BOUND on the parquet
    * files this append added to any single store table (0 for a
    * replay no-op) — the [[StreamHarness.CensusCadence]] increment. The bound
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
    * The batch lands as one new segment that only the store header
    * committed after it names, with the batch id in `applied`: a crash
    * before that commit leaves an orphan segment no reader sees, so the
    * re-run probes the same pre-append store and commits cleanly, and a
    * re-run of a committed batch is a no-op. An empty batch adds no
    * segment. */
  def appendToNearDupIndex(spark: SparkSession, indexDir: String, newDocs: DataFrame,
                           batchId: Option[String] = None): Long = {
    val h = storeFamily.header(spark, indexDir, "appends")
    if (batchId.exists(h.applied.contains)) return 0L
    // localCheckpoint: the arrival projection feeds four consumers
    // (guard, candidates, verify, the segment writes) — without it each
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
        "dedup the batch against the store's ids first")
    val arrRows = hdr.getLong(0)
    val applied = h.applied ++ batchId
    if (arrRows == 0L) {
      storeFamily.commit(spark, indexDir)(_ => h.copy(applied = applied))
      return 0L
    }
    // the probe reads the live segments only, so it sees the
    // pre-append store whatever an earlier crashed attempt left
    val newPairs = probeNearDupIndex(spark, indexDir, arr, arrRows).localCheckpoint()
    // pairs files-added bound (cheap: newPairs is localCheckpoint'd,
    // so count() reads cached blocks). bands is a narrow explode of
    // arr — same write partitioning.
    val arrParts = arr.rdd.getNumPartitions.toLong
    val pairRows = newPairs.count()
    val pairParts = newPairs.rdd.getNumPartitions.toLong
    // through the memo-recording writer: the next probe's union read
    // of the new segment constructs without a footer-inference job
    storeFamily.commit(spark, indexDir) { g =>
      val seg = segOf(indexDir, g)
      Relational.writeParquet(arr, s"$seg/shingles")
      Relational.writeParquet(bandKeysOf(arr), s"$seg/bands")
      Relational.writeParquet(newPairs, s"$seg/pairs")
      StoreHeader(h.segments :+ baseName(seg), applied)
    }
    math.max(math.min(arrRows, arrParts), // shingles; bands shares arr's partitioning
      math.min(pairRows, pairParts))
  }

  /** Store COMPACTION — the same LSM move as [[compactIvfIndex]]:
    * every append adds a segment of a handful of files, and a year of
    * daily batches turns the map-side bands probe into tens of
    * thousands of file opens (measured on the IVF side: the 50-batch
    * sf100 soak degraded probes 6.8× purely in open cost). Each table's
    * union over the live segments rewrites at the target file size into
    * ONE new segment, which one store header commits — contents
    * untouched, no renames, a crash at any point leaves the previous
    * segments live. Maintenance op for a quiesced store (single
    * writer), like the IVF compaction. */
  def compactNearDupIndex(spark: SparkSession, indexDir: String,
                          targetFileBytes: Long = 128L << 20): Unit = {
    val h = storeFamily.header(spark, indexDir, "compaction")
    storeFamily.commit(spark, indexDir) { g =>
      val seg = segOf(indexDir, g)
      storeTables.foreach { table =>
        val live = h.segments.map(s => s"$indexDir/$s/$table")
        val bytes = live.map(IndexMeta.bytesUnder(spark, _, ".parquet")).sum
        val nf = math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
        Relational.writeParquet(Relational.cachedSchemaParquet(spark, live).repartition(nf),
          s"$seg/$table")
      }
      h.copy(segments = Seq(baseName(seg)))
    }
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

  private[ops] def dispatchProbeSide(spark: SparkSession, arr: DataFrame, n: Long): DataFrame =
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
  // delta, write it as one segment, commit it with the batch id), so
  // cross-batch pairs are caught through the STORE — batch 3's docs
  // pair against the corpus AND batches 1–2 — and state lives on
  // shared storage (unbounded capacity, restart-from-checkpoint with
  // no state-store recovery), where c22/c22b hold bucket state in
  // executors. Exactly-once: the streaming engine replays a crashed
  // batch with its batchId, and the store header's `applied` list
  // turns the replay into a no-op. The decisive property vs c22b: pairs/ stays
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
    * tables of the files in every live segment (each append adds files
    * to all three). */
  private[ops] def nearDupCensus(spark: SparkSession, idx: String): Long = {
    val segs = storeFamily.header(spark, idx, "the file census").segments
    storeTables.map(t => parquetFiles(spark, segs.map(s => s"$idx/$s/$t"))).max
  }

  def dedupIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = freshScratch(spark, s"graft_neardup_idx_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx.toString)
    appendToNearDupIndex(spark, idx.toString, docs.filter(col("doc_id") % 20 === 7))
    nearDupIndexPairs(spark, idx.toString)
  }
}
