package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Incremental and streaming semantic dedup of [[Similarity]] over a
  * persistent IVF index (C2h and its streaming and decontamination
  * legs). */
private[ops] trait SemanticDedup { self: Similarity.type =>

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
    // committed (the c22c crash window: the header's `applied` list
    // makes the re-append a no-op, but the re-PROBE now sees the batch's own survivors in
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
    * index (built under graft.semdedup.cellPop) carries a coarse
    * codebook too and assigns hierarchically through the same kernel. */
  private def semProbeProjection(spark: SparkSession, indexDir: String,
      arrivals: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val np = spark.conf.getOption("graft.semdedup.probeCells")
      .map(_.toInt).getOrElse(2)
    arrivals
      .withColumn("cell", explode(indexCellsCol(spark, ivfCodebook(spark, indexDir), np)))
      .withColumn("sigs", expr(s"graft_srp_sign(embedding, 42L, $sigWords)"))
      .select(col("vec_id"), col("sigs"), col("cell"))
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
    val survivors = storedVectors(spark, idx)
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
  // [[appendToIvfIndex]]'s `applied` batch ids turn the replayed append
  // into a no-op, so survivors never enter the layout twice. State story:
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
      // (the survivors' append is batch-id-idempotent). The sink write
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
  private[ops] def ivfMaintenance(spark: SparkSession, idx: String): StreamHarness.Maintenance =
    StreamHarness.Maintenance(() => ivfCensus(spark, idx), () => compactIvfIndex(spark, idx))

  private[ops] def ivfCensus(spark: SparkSession, idx: String): Long =
    parquetFiles(spark, liveVectorsPaths(spark, idx))

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
    val cb = ivfCodebook(spark, evalIndexDir)
    val np = spark.conf.getOption("graft.semdedup.probeCells")
      .map(_.toInt).getOrElse(2)
    val bar = spark.conf.getOption("graft.decontam.cosBar")
      .map(_.toDouble).getOrElse(0.99)
    val cor = corpus
      .withColumn("cell", explode(nearestCellsCol(cb.flat, cb.dim, np)))
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
}
