package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Tier C — training-data curation operators beyond the dedup/similarity
 * core (SURVEY §2 Tier C extensions): benchmark decontamination,
 * deterministic stratified sampling, near-dup clustering (connected
 * components), and token-budget sequence packing. Like the rest of the
 * tier these have no counterpart in the reference (its README scopes it
 * to the encode half of an analytics stack); they are the operations a
 * 100 TB pretraining-corpus pipeline runs between "raw corpus" and
 * "training shards".
 *
 * Scale doctrine per op:
 *  - decontaminate: the benchmark side is small by construction (eval
 *    sets are thousands of docs, not billions) → broadcast it — as
 *    8-byte xxhash64 gram keys, not raw 13-token strings, so a real
 *    eval suite (10k docs × ~1k grams) broadcasts ~80 MB instead of
 *    ~1 GB. The corpus n-grams then never hash-shuffle at all.
 *  - sampleStratified: a pure map (overflow-free multiplicative-hash
 *    bucket + per-stratum threshold) — no shuffle, no RNG state,
 *    reproducible on any cluster and any partitioning.
 *  - dedupCluster: exact duplicates contract to one representative per
 *    text BEFORE any pairwise work (d-fold duplication would otherwise
 *    cost d² per clique); candidate edges come from the banded-MinHash
 *    path (no O(n²)); label propagation shuffles only (id, label) pairs
 *    and, with the pointer-jumping shortcut, converges in
 *    O(log component diameter) rounds — even adversarial dup chains
 *    resolve in a handful of rounds. Each round checkpoints to truncate
 *    lineage; exiting the round cap unconverged THROWS (a silent exit
 *    would return wrong labels).
 *  - packSequences: one window per (lang, shard) stratum — shard is a
 *    deterministic doc_id range bucket, so the majority language never
 *    lands on a single task chain; packing is embarrassingly parallel
 *    across composite strata.
 */
object Curation {

  // ------------------------------------------------- C12 decontamination

  /** Token n-gram size for contamination checks: 13 is the published
    * standard for pretraining-corpus decontamination (long enough that
    * natural re-use is rare, short enough to survive light edits). */
  private[ops] val ngramN = 13

  /** C12 — benchmark decontamination: flag every corpus document sharing
    * at least one 13-token-gram with the held-out eval slice (here: the
    * deterministic `doc_id % 20 = 0` split of `documents`, standing in
    * for an external benchmark table). Docs shorter than 13 tokens carry
    * no grams and can never be flagged — mirrored exactly in the oracle.
    *
    * Both sides compare xxhash64(gram) longs, not gram strings: the
    * broadcast build carries 8 bytes per eval gram and the streamed
    * corpus rows carry 8-byte keys into the join. A 64-bit collision
    * flags a doc spuriously with probability ~n_grams²/2⁶⁴ (≪1e-9 even
    * at 100 TB gram counts); CurationSpec proves zero collisions across
    * the whole test corpus. The oracle compares the strings directly —
    * identical output absent collisions.
    */
  /** Shared (doc_id, gram_h) 13-gram hash projection for both
    * decontamination paths. Sized via [[Scale.sizeForCompute]]: gram
    * work must scale with cores on an under-partitioned local source,
    * but a many-partitioned production scan flows through with ZERO
    * exchange before the projection (PlanSpec-pinned). */
  private[graft] def gramHashes(spark: SparkSession, docs: DataFrame): DataFrame =
    Scale.sizeForCompute(docs)
      .select(col("doc_id"), explode(expr(
        s"""transform(array(split(text, ' ')), toks ->
           |  CASE WHEN size(toks) >= $ngramN THEN
           |    array_distinct(transform(sequence(0, size(toks) - $ngramN),
           |      i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $ngramN)))))
           |  ELSE array() END)[0]""".stripMargin)).as("gram_h"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = gramHashes(spark, Relational.table(spark, dir, "documents"))
    val evalGrams = grams.filter(col("doc_id") % 20 === 0)
      .select(col("gram_h")).distinct()
    grams.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(evalGrams), Seq("gram_h"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram_h")).as("n_shared"))
      .orderBy("doc_id")
  }

  // C12c — BLOOM-FILTER decontamination: the 100 TB shape of c12. The
  // broadcast-join design ships the eval gram SET to every task —
  // exact, but the broadcast grows with the eval suite (8 bytes per
  // distinct gram; a 10M-gram suite is an 80 MB relation PLUS a join
  // probe per corpus gram). Here the eval grams fold into ONE Bloom
  // filter (~1.8 MB at 1M grams / 0.1% FPR — 40× smaller than the
  // set), the filter rides the plan as a literal, and the corpus side
  // is a pure MAP: `BloomFilterMightContain` (the exact expression
  // Spark's runtime row-level filtering injects — public engine
  // doctrine, reused here deliberately) evaluates per gram with zero
  // join, zero corpus-side exchange before the per-doc count.
  // Approximate by construction (FPR one-sided: flags ⊇ the exact
  // join's flags, never misses a contaminated gram) → rows-only;
  // superset-of-exact + bounded-overcount + determinism pinned in the
  // spec. Eval-side hashing is the SAME xxhash64 gram pipeline as c12,
  // so the two ops are comparable row-for-row.
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.{GraftColumns => EU}
    val grams = gramHashes(spark, Relational.table(spark, dir, "documents"))
    // localCheckpoint (eager): the eval gram explode is materialized
    // ONCE and feeds both the sizing count and the filter build — the
    // small side by construction, so the blocks are bounded; without it
    // the eval-side gram lineage re-runs per job (two full eval scans).
    val evalG = grams.filter(col("doc_id") % 20 === 0).select(col("gram_h")).distinct()
      .localCheckpoint()
    // sizing: expectedNumItems from a count (O(1)-result job).
    // `graft.decontam.bloomFpp` (default 0.1%) trades filter bytes for
    // per-gram false-positive rate — a production run sizes it so
    // corpusGrams·fpp stays far below the flag threshold consumers
    // apply (e.g. 1e-8 costs ~5× the bits of 1e-3 and silences FPs on
    // a 10^12-gram corpus); the filter grows only logarithmically in
    // 1/fpp, so even extreme settings broadcast comfortably
    val fpp = spark.conf.getOption("graft.decontam.bloomFpp")
      .map(_.toDouble).getOrElse(0.001)
    val nEval = evalG.count()
    val bf = evalG.stat.bloomFilter("gram_h", math.max(1000L, nEval), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = EU.column(new BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      EU.expression(col("gram_h"))))
    grams.filter(col("doc_id") % 20 =!= 0)
      .filter(mightContain)
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram_h")).as("n_flagged"))
      .orderBy("doc_id")
  }

  // -------------------------------------------- C13 stratified sampling

  /** Modulus for the pre-multiply reduction: any doc_id maps into
    * [0, 1e9+7), so the Knuth multiply stays < 2.66e18 — inside long
    * range for EVERY input id (the unreduced form overflows at
    * doc_id ≳ 3.5e9, exactly when a corpus gets large; Spark would wrap
    * or throw under ANSI while DuckDB errors, breaking engine parity). */
  private val bucketMod = 1000000007L
  private val knuth = 2654435761L

  /** Overflow-free deterministic bucket in [0, 100): reduce mod a prime,
    * Knuth-multiply, take bits 16+ (the low bits of a multiplicative
    * hash are the weak ones — and using them directly would make the
    * bucket a relabeled `doc_id % 100`, correlating with any id-assignment
    * pattern). Pure integer ops with identical semantics in Spark and
    * DuckDB for non-negative ids — the oracle evaluates the same text. */
  private[ops] def bucketExpr(idCol: String) =
    expr(s"((($idCol % $bucketMod) * $knuth) div 65536) % 100")

  private def bucketSql(idCol: String) =
    s"((($idCol % $bucketMod) * $knuth) // 65536) % 100"

  /** C13 — deterministic stratified sampling: per-stratum keep rates
    * applied through an overflow-free multiplicative-hash bucket of the
    * row key, so the sample is reproducible across engines,
    * partitionings, and reruns (no RNG state — the property `df.sample`
    * cannot give). Downsamples the majority stratum (en → 10%) and
    * keeps 40% of the rest — the shape of a language-rebalancing pass
    * over a crawl corpus. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .withColumn("bucket", bucketExpr("doc_id"))
      .filter(col("bucket") < when(col("lang") === "en", 10).otherwise(40))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  // ------------------------------------------- C14 near-dup clustering

  /** C14 — near-duplicate clustering: connected components over the
    * near-dup pair graph (J ≥ 0.8 on 3-gram shingles), labeling every
    * involved doc with the minimum doc_id reachable through dup edges.
    * This is the step that turns pairwise dedup into "keep one doc per
    * dup CLUSTER": pairwise removal of the higher id can drop both b
    * and c of a chain a~b, b~c while cluster-level removal keeps
    * exactly one.
    *
    * Exact duplicates are CONTRACTED first ([[Similarity.exactDupGroups]]):
    * label propagation runs over near-dup edges among unique-text
    * representatives only, then labels broadcast back onto all group
    * members. Identical texts are J = 1 pairs, so components are
    * unchanged — but the pairwise path materializes Θ(d²) edges per
    * d-copy clique (the sf10 ×100-replicated corpus, 5000 cliques of
    * 100, holds ~25M edges and timed out at 1800 s) while the
    * contracted path's graph scales with unique texts (same corpus:
    * 5000 nodes, seconds). A doc is in the output iff it has a dup
    * edge: grp_n > 1 (exact dup) or its rep carries a near-dup edge;
    * the component minimum is the min over reps (every doc_id ≥ its
    * rep), so cluster ids are identical to the uncontracted result. */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** The c14 cluster labels, unsorted — shared by [[dedupCluster]] and
    * the quality-aware keep rule [[dedupClusterKeepBest]]. */
  private[ops] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val groups = Similarity.exactDupGroups(spark, dir)
    val repLabels = clusterPairs(spark,
        Similarity.nearDupRepPairs(spark, dir).select(col("da"), col("db")))
      .withColumnRenamed("id", "rep")
    groups.join(repLabels, Seq("rep"), "left")
      .filter(col("label").isNotNull || col("grp_n") > 1)
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("cluster_id"))
  }

  /** C14b — quality-aware canonical selection: within every near-dup
    * cluster keep the HIGHEST-quality document, not the lowest id. Every
    * other keep rule in the dedup family uses lowest-id-survives (the
    * right oracle convention); production curation keeps the *best*
    * copy of a page — the canonical-URL / least-boilerplate variant —
    * and drops the rest with an auditable witness. Composition of
    * shipped code paths: [[clusterLabels]] (the c14 components) joined
    * to the c4 composite quality (`Pipeline.qualityOn`), then ONE
    * window per cluster picks argmax(quality) with doc_id ascending as
    * the deterministic tie-break. Each output row carries its verdict:
    * (kept_by, kept_q) witnesses who won the cluster and why; is_kept
    * marks the survivor itself.
    *
    * Scale: the window partitions by cluster_id — cluster populations
    * are dup-clique sized (bounded by the corpus's duplication factor,
    * never corpus-sized), so no skewed-partition risk; everything
    * upstream reuses c14's contracted-graph machinery. Oracle: the c14
    * recursive-closure labels joined to the c4 quality SQL with the
    * same window — engine-portable because the quality doubles come
    * from identical IEEE ops on integer counts. */
  def dedupClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = Pipeline.qualityOn(Relational.table(spark, dir, "documents"))
      .select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    clusterLabels(spark, dir).join(q, Seq("doc_id"))
      .withColumn("kept_by", first(col("doc_id")).over(w))
      .withColumn("kept_q", first(col("quality")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("kept_by"), col("kept_q"),
        (col("doc_id") === col("kept_by")).as("is_kept"))
      .orderBy("cluster_id", "doc_id")
  }

  // ------------------------------------------ C37 leakage-free split

  /** Eval-side admission threshold for [[splitLeakFree]]:
    * ⌊0.10 · 1000003⌋ — a ~10% eval split under the c34 Lehmer gate. */
  private[graft] val evalThresh = 100000L

  /** The Lehmer gate hash, overflow-safe: `((key mod m)·48271) mod m`
    * with m = 1000003. The naive `(key·48271) mod m` silently wraps for
    * keys ≥ ~1.9e14 in Spark (negative product → negative %, so the row
    * always lands on the selected/eval side) while DuckDB RAISES on
    * bigint overflow — a latent engine divergence and split bias once
    * doc_ids are real-world 64-bit hashes rather than small synthetic
    * ids. Reducing first keeps the product < 4.83e10 for every int64
    * key, and `pmod` (not `%`) makes negative keys land in [0, m) —
    * mirrored in the oracle SQL as `((key % m + m) % m * 48271) % m`,
    * which DuckDB evaluates identically for the full key range.
    * Mathematically the same residue as the published predicate, so
    * every previously-selected document is unchanged. */
  private[graft] def lehmerHash(key: Column): Column =
    pmod(pmod(key, lit(1000003L)) * lit(48271L), lit(1000003L))

  /** The oracle-SQL text of [[lehmerHash]] over a key expression. */
  private[graft] def lehmerSql(key: String): String =
    s"(($key % 1000003 + 1000003) % 1000003 * 48271) % 1000003"

  /** C37 — leakage-free train/eval split: assign every document to
    * `train` or `eval` such that near-duplicate documents NEVER
    * straddle the boundary. A random per-document split leaks — an
    * eval document's near-twin in train inflates every benchmark it
    * touches — so the unit of assignment is the c14 near-dup CLUSTER:
    * clustered docs key on their cluster label, singletons on their own
    * id, and the c34 Lehmer gate (`[[lehmerHash]](key) <
    * [[evalThresh]]`) sends the whole unit to one side. Deterministic,
    * engine-portable, and stable under corpus growth: a new crawl batch
    * only moves a document if dedup merges its cluster into one with a
    * different label — the unavoidable cost of keeping the guarantee.
    *
    * Scale shape: [[clusterLabels]] reuses the contracted-graph
    * machinery (its output is duplication-bounded, far smaller than the
    * corpus); the assignment itself is one doc_id equi-join plus
    * arithmetic — no new corpus exchange beyond the join. Oracle: the
    * c14 recursive-closure labels left-joined under the same gate. */
  def splitLeakFree(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents").select(col("doc_id"))
    docs.join(clusterLabels(spark, dir), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(lehmerHash(col("split_key")) < lit(evalThresh),
          lit("eval")).otherwise(lit("train")))
      .select(col("doc_id"), col("split_key"), col("split"))
      .orderBy("doc_id")
  }

  /** Min-label propagation with pointer-jumping over DataFrames: labels
    * start as own id; each round takes the min of (a) own label, (b)
    * neighbors' labels, and (c) the label of one's label — the
    * hash-to-min shortcut of the MapReduce connected-components
    * literature. The shortcut doubles the effective propagation distance
    * per round, so convergence is O(log diameter) rounds instead of
    * O(diameter) — a 100-hop adversarial dup chain converges in ~8
    * rounds (spec-proven), where plain propagation needs 100. The edge
    * set is computed ONCE and persisted — only (id, label) pairs move
    * per round — and each round checkpoints to keep the plan flat (an
    * unbounded iterative lineage re-executes the LSH pipeline every
    * round and overflows the optimizer at scale).
    *
    * Exiting the round cap without a fixpoint THROWS: a component whose
    * diameter exceeds `maxRounds` (an adversarial dup chain at 100 TB)
    * would otherwise get silently wrong labels. Raise the cap via
    * `graft.cluster.maxRounds` (diameter-many rounds always suffice).
    *
    * Durability: `localCheckpoint` stores blocks on executors — fine on
    * local[n], unrecoverable on a real cluster if an executor dies
    * mid-iteration (truncated lineage cannot recompute). Set
    * `graft.checkpoint.dir` to a cluster-visible path to switch every
    * iteration pin to reliable `checkpoint()` on that FS.
    */
  def clusterPairs(spark: SparkSession, pairDf: DataFrame,
                   maxRoundsDefault: Int = 50): DataFrame = {
    val maxRounds = spark.conf.getOption("graft.cluster.maxRounds")
      .map(_.toInt).getOrElse(maxRoundsDefault)
    def pin(df: DataFrame): DataFrame = Scale.pin(df)
    val pairs = pin(pairDf.toDF("da", "db"))
    val edges = pairs.unionByName(pairs.select(col("db").as("da"), col("da").as("db")))
    var labels = edges.select(col("da").as("id")).distinct()
      .withColumn("label", col("id"))
    labels = pin(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val fromNeighbors = edges.join(labels, edges("da") === labels("id"))
        .select(edges("db").as("id"), col("label"))
      // pointer-jumping: adopt the label of one's label (both are ids in
      // the same component, so the invariant holds; the min can only fall)
      val viaLabel = labels.as("x").join(labels.as("y"), col("x.label") === col("y.id"))
        .select(col("x.id").as("id"), col("y.label").as("label"))
      val next = pin(labels.unionByName(fromNeighbors).unionByName(viaLabel)
        .groupBy("id").agg(min("label").as("label")))
      converged = next.join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") =!= col("prev")).isEmpty
      labels = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupCluster: label propagation did not reach a fixpoint in $maxRounds rounds — " +
          "a component's diameter exceeds the cap and its labels would be WRONG; " +
          "raise spark.conf graft.cluster.maxRounds (diameter-many rounds always converge)")
    labels
  }

  // --------------------------------------------- C15 sequence packing

  private val packBudget = 512

  /** Docs per packing shard (contiguous doc_id ranges). 128 splits even
    * the sf0.01 corpus into multiple shards per language; override via
    * `graft.pack.shardSpan` to match the target shard token budget. */
  private val shardSpanDefault = 128L

  /** The span c15 actually packs with: the session conf override when
    * set, else the default. Read by BOTH the query and [[oracleSql]]
    * (which is a `def` for exactly this reason) — a sweep run with
    * `graft.pack.shardSpan` set gets an oracle packed with the SAME
    * span, instead of a spurious hash mismatch against the default. */
  private def effectiveShardSpan(spark: SparkSession): Long =
    spark.conf.getOption("graft.pack.shardSpan")
      .map(_.toLong).getOrElse(shardSpanDefault)

  private def activeShardSpan: Long =
    SparkSession.getActiveSession.map(effectiveShardSpan).getOrElse(shardSpanDefault)

  /** C15 — token-budget sequence packing (concat-then-chunk): per
    * stratum (lang, shard), documents concatenate in doc_id order and
    * the token stream is cut every 512 tokens; a doc's training sequence
    * is the chunk its first token lands in, and `straddles` marks docs
    * split across a boundary. `shard` is a deterministic contiguous
    * doc_id range bucket (`doc_id div span`), so the majority language
    * of a crawl corpus (en ≈ most of it) spreads across many window
    * partitions instead of one task chain sorting most of the corpus —
    * the packing a sequence-building pipeline does per training shard,
    * expressed as pure windowed SQL (no stateful loop). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val span = effectiveShardSpan(spark)
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Relational.table(spark, dir, "documents")
      .withColumn("shard", expr(s"doc_id div ${span}L"))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"(end_off - n_tokens) div $packBudget").as("seq_id"),
        expr(s"((end_off - 1) div $packBudget) != ((end_off - n_tokens) div $packBudget)")
          .as("straddles"))
      .orderBy("doc_id")
  }

  /** C15b — sequence packing by REAL tokenizer counts: c15's exact
    * windowed packing with the whitespace proxy count replaced by the
    * persisted BPE tokenizer's token count (the c32 composition —
    * production packing budgets are tokenizer tokens, not words; a
    * 2048-token context window cares about subwords). The tokenizer
    * fits once on the 95% split (the fixed-artifact convention), the
    * count is one map-only codegen'd column on the packing scan — the
    * plan differs from c15 by zero exchanges. Not SQL-expressible
    * (BPE) → rows-only; the packing invariants are re-verified in
    * plain Scala from the op's own output in the spec. */
  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val modelDir = Similarity.freshScratch(spark, s"graft_bpe_pack_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    Training.fitBpe(spark, docs.filter(col("doc_id") % 20 =!= 7), modelDir,
      spark.conf.getOption("graft.bpe.merges").map(_.toInt).getOrElse(200),
      spark.conf.getOption("graft.bpe.maxWords").map(_.toInt).getOrElse(65536))
    packBpeOn(spark, docs, modelDir).orderBy("doc_id")
  }

  /** The c15b BPE-count packing over any (doc_id, lang, text) frame
    * against an already-fitted tokenizer, unsorted — shared by
    * [[packSequencesBpe]] and the pretrain composition (c33). */
  private[ops] def packBpeOn(spark: SparkSession, docs: DataFrame,
      modelDir: String): DataFrame = {
    val span = effectiveShardSpan(spark)
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", expr(s"doc_id div ${span}L"))
      .withColumn("n_tokens", size(Training.bpeTokensCol(spark, modelDir)))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"(end_off - n_tokens) div $packBudget").as("seq_id"),
        expr(s"((end_off - 1) div $packBudget) != ((end_off - n_tokens) div $packBudget)")
          .as("straddles"))
  }

  // ---------------------------------------------------- C16 PII redaction

  /** PII patterns, written without backslashes so the SAME pattern text is
    * a valid Scala string AND a valid DuckDB single-quoted literal (SQL
    * standard strings don't process backslash escapes; Scala ones do —
    * `[.]`/`[0-9]` classes sidestep the divergence). All three are plain
    * greedy constructs with identical leftmost-first semantics in Java
    * regex (Spark) and RE2 (DuckDB). */
  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
  private val ipRe    = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
  private val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Deterministic PII injection: the synthetic corpus carries no real
    * PII, so each doc gets an email/IP/phone derived from its own doc_id
    * appended — identical text in the oracle — making the redaction
    * counts non-trivially non-zero and the scrub observable. */
  private[graft] val injectSql =
    """concat(text, ' contact user', cast(doc_id as string),
      |  '@example.com from 10.', cast(doc_id % 256 as string), '.0.99 call 555-',
      |  lpad(cast(doc_id % 1000 as string), 3, '0'), '-',
      |  lpad(cast(doc_id % 10000 as string), 4, '0'))""".stripMargin

  /** Counts + scrub over any `textCol`: appends n_email/n_ip/n_phone
    * (counted on the pre-redaction text) and `red` (email → IP → phone
    * scrub order, mirrored in the oracle). Spec entry point. */
  private[graft] def piiStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_email", size(expr(s"regexp_extract_all($textCol, '$emailRe', 0)")))
      .withColumn("n_ip", size(expr(s"regexp_extract_all($textCol, '$ipRe', 0)")))
      .withColumn("n_phone", size(expr(s"regexp_extract_all($textCol, '$phoneRe', 0)")))
      .withColumn("red",
        regexp_replace(regexp_replace(regexp_replace(col(textCol),
          emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>"))

  /** C16 — PII redaction: count and scrub emails, IPv4 addresses, and
    * phone numbers from document text (the compliance pass every crawl
    * corpus runs before training). Pure per-row regex map — no shuffle,
    * no UDF, full codegen; at 100 TB this runs at scan speed. The output
    * carries md5(redacted) so the hash compare proves byte-identical
    * scrubbed text without shipping it. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiStats(
      Relational.table(spark, dir, "documents").withColumn("t2", expr(injectSql)), "t2")
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        md5(col("red")).as("red_md5"))
      .orderBy("doc_id")

  // ------------------------------------------- C17 repetition quality

  /** Gopher-style repetition thresholds: a doc passes when at most 60% of
    * its tokens are repeats and no single bigram exceeds 10% of bigram
    * slots (chosen to split the synthetic corpus ~63/37 so both verdicts
    * are exercised; production pipelines tune per corpus). */
  private val dupTokMax = 0.6
  private val topBigramMax = 0.1

  /** C17 — repetition-based quality filtering (the Gopher/C4 rule family):
    * duplicate-token ratio, most-frequent-token fraction, and
    * most-frequent-bigram fraction, plus the keep/drop verdict. All three
    * stats compute inside ONE nested higher-order expression — the token
    * array and bigram array are lambda-bound so the optimizer cannot
    * inline a `split` per distinct token (the CollapseProject re-split
    * trap, see [[Pipeline.fingerprint]]); per-row cost is O(distinct ×
    * tokens) with zero shuffle and no UDFs. */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Relational.table(spark, dir, "documents"))
      .orderBy("doc_id")

  /** Repetition stats + verdict over any frame with doc_id/text columns
    * (spec entry point). */
  private[graft] def repetitionStats(df: DataFrame): DataFrame =
    df.withColumn("m", expr(
        """transform(array(split(text, ' ')), toks ->
          |  transform(array(CASE WHEN size(toks) >= 2
          |      THEN transform(sequence(0, size(toks) - 2),
          |        i -> concat_ws(' ', toks[i], toks[i+1]))
          |      ELSE array() END), bg ->
          |    named_struct(
          |      'n', size(toks),
          |      'uniq', size(array_distinct(toks)),
          |      'top_tok', array_max(transform(array_distinct(toks),
          |        t -> size(filter(toks, x -> x = t)))),
          |      'top_bg', CASE WHEN size(bg) = 0 THEN 0
          |        ELSE array_max(transform(array_distinct(bg),
          |          g -> size(filter(bg, x -> x = g)))) END))[0])[0]""".stripMargin))
      .select(col("doc_id"),
        round(lit(1.0) - col("m.uniq") * lit(1.0) / col("m.n"), 4).as("dup_tok_ratio"),
        round(col("m.top_tok") * lit(1.0) / col("m.n"), 4).as("top_tok_frac"),
        // n = 1 has zero bigram slots — guard the division (ANSI mode
        // throws DIVIDE_BY_ZERO; single-token docs are routine in a crawl)
        when(col("m.n") > 1,
          round(col("m.top_bg") * lit(1.0) / (col("m.n") - 1), 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_tok_ratio") <= dupTokMax && col("top_bigram_frac") <= topBigramMax)

  // ------------------------------------------ C21 streaming curation

  /** C21 — the SAME repetition-quality pipeline as c17, run unmodified
    * over a micro-batch replay of the corpus (4 doc_id-range slices,
    * one per trigger). [[repetitionStats]] is a stateless per-row map,
    * so it is batch/stream-unified by construction: no watermark, no
    * state store, and the streaming output equals the batch result
    * row-for-row — the property that lets one curation codebase serve
    * both the backfill (batch over the lake) and the live feed
    * (readStream over the landing bucket) at 100 TB. Oracle: identical
    * SQL to c17. */
  def qualityStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
    val stage = Relational.stageSlices(spark, docs, col("doc_id"),
      s"graft_c21_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    StreamHarness.replayToSink(spark,
      repetitionStats(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage)),
      "graft_c21_sink")
      .orderBy("doc_id")
  }

  // --------------------------------------------- C18 mixture weighting

  /** Token budget the mixture is solved for (the training-run size). */
  private val mixBudget = 100000L

  /** C18 — data-mixture weighting: per (lang, source) stratum, allocate a
    * fixed token budget by temperature-α=0.5 sampling (share ∝ √tokens —
    * the standard multilingual rebalance: upweights tail strata without
    * letting the head dominate) and emit each stratum's sample rate
    * (alloc capped at its size) and epochs (uncapped oversampling
    * factor). The √token scores are scaled to exact longs before the
    * global sum (the [[Relational.moneySum]] doctrine) so the normalizer
    * is order-independent and engine-identical. The all-strata window is
    * a single partition by design: the STRATA table is the aggregate
    * (thousands of rows at 100 TB), not the corpus. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame =
    mixWeightsOn(Relational.table(spark, dir, "documents"))

  /** C18b — per-source distribution DRIFT: KL divergence of each
    * source's token distribution from the corpus-wide one — the
    * mixture-health diagnostic run before committing mix weights (a
    * source whose unigram distribution drifts from the pool is
    * boilerplate, spam, or another language; published corpus-QA
    * practice pairs exactly this with the c24 perplexity filter).
    *
    * KL(s‖corpus) = Σ_t (c_st/N_s)·ln((c_st/N_s)/(c_t/N)), computed
    * with the c24 exactness discipline: the ln RATIO is rounded to
    * integer micro-nats once per (source, token) ROW, weighted by the
    * exact long count, and summed as longs — order-independent, so
    * the oracle (identical SQL text in DuckDB) hash-matches; the only
    * cross-engine risk is ln differing in the last ulp exactly on a
    * half-micro-nat boundary (c24's documented ~1e-10 caveat).
    *
    * Plan: one explode → (source, tok) partial-aggregated counts (the
    * exchange carries per-source vocab partials, never raw tokens);
    * the corpus vocab re-aggregates FROM those counts (vocab-sized
    * input, no second corpus pass); source totals and the corpus
    * total are k-row/1-row broadcasts. KL ≥ 0 up to rounding by
    * Gibbs' inequality — the spec checks it. */
  def mixDrift(spark: SparkSession, dir: String): DataFrame =
    mixDriftOn(Relational.table(spark, dir, "documents"))

  /** Drift diagnostic over any frame with source/text columns (spec
    * entry point). */
  private[graft] def mixDriftOn(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
      .localCheckpoint() // reused 3×: per-source rows, corpus vocab, totals
    val vocab = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val srcTotals = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val total = st.agg(sum(col("c_st")).cast("long").as("n")).head().getLong(0)
    st.join(vocab, Seq("tok"))
      .join(broadcast(srcTotals), Seq("source"))
      .withColumn("term", col("c_st") *
        expr(s"cast(round((ln(cast(c_st as double) / n_s) - ln(cast(c_t as double) / $total)) * 1000000, 0) as bigint)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term")).as("s"))
      .select(col("source"), col("n_tokens"),
        round(col("s") / lit(1000000.0) / col("n_tokens"), 4).as("kl"))
      .orderBy("source")
  }

  /** Mixture solve over any frame with lang/source/text columns (spec
    * entry point). */
  private[graft] def mixWeightsOn(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .withColumn("sqs", expr("cast(round(sqrt(n_tokens) * 1000000, 0) as bigint)"))
      .withColumn("z", sum(col("sqs")).over(w))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("sqs") * lit(1.0) / col("z"), 4).as("share"),
        round(least(lit(1.0),
          lit(mixBudget) * (col("sqs") * lit(1.0) / col("z")) / col("n_tokens")), 4)
          .as("sample_rate"),
        round(lit(mixBudget) * (col("sqs") * lit(1.0) / col("z")) / col("n_tokens"), 4)
          .as("epochs"))
      .orderBy("lang", "source")
  }

  // -------------------------------------------- C34 mixture REALIZATION

  /** C34 — realize the c18 mixture: deterministically SELECT the
    * documents each stratum's sample rate admits. c18 answers "what
    * fraction of each (lang, source) stratum should a temperature-0.5
    * token budget keep"; this op materializes that plan — the step a
    * pipeline actually ships to training. Selection is a portable
    * Lehmer hash gate, `[[lehmerHash]](doc_id) < ⌊rate · 1000003⌋`
    * (overflow-safe reduced form — see [[lehmerHash]]):
    *   - deterministic and engine-portable (pure int64 arithmetic both
    *     engines evaluate identically — no RNG state, no xxhash64
    *     asymmetry), so reruns, retries, and the DuckDB oracle all pick
    *     the SAME documents;
    *   - monotone in the rate: raising a stratum's budget only ADDS
    *     documents (the admitted hash prefix grows), so an incremental
    *     re-mix never churns previously-selected data — the property
    *     that makes mixture updates cheap on an existing corpus.
    * The threshold crosses engines exactly because the rate itself is
    * the c18 value (exact-long √token scores; proven hash-identical)
    * and ⌊rate·1000003⌋ can only straddle an ulp when rate·1000003 is
    * integral, which the 4-dp rate and prime modulus confine to the
    * exact rate-1.0 (keep-everything) endpoint — where floor is exact.
    *
    * Scale shape: the rate table is the c18 aggregate (thousands of
    * rows at 100 TB) and BROADCASTS; the corpus pass is map-only —
    * scan → broadcast-join → hash filter, no corpus exchange at all.
    * Two corpus scans total (one inside the rate aggregate, one here):
    * the correct trade at scale — rates are corpus statistics, and
    * caching 100 TB to save a re-scan is the anti-pattern. */
  def mixResample(spark: SparkSession, dir: String): DataFrame =
    mixResampleOn(Relational.table(spark, dir, "documents"))

  /** The c34 selection over any frame with doc_id/lang/source/text —
    * spec entry point. */
  private[graft] def mixResampleOn(docs: DataFrame): DataFrame = {
    val rates = mixWeightsOn(docs).select("lang", "source", "sample_rate")
    docs.join(broadcast(rates), Seq("lang", "source"))
      .where(lehmerHash(col("doc_id")) <
        expr("cast(floor(sample_rate * cast(1000003 as double)) as bigint)"))
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rate"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------ C26 per-source cap

  /** C26 — per-source document cap: keep at most `cap` docs per source,
    * chosen by a deterministic hash order (md5 over the doc id — the
    * c25 key discipline: rerun-stable on any cluster, no RNG state).
    * The domain-cap stage of crawl curation — without it one hot domain
    * (SEO farms, boilerplate mirrors) owns an unbounded share of the
    * corpus no matter how good the per-doc quality scores are.
    *
    * Scale shape: a single `row_number` window per source would put
    * every hot domain's rows on one task — exactly the skew this op
    * exists to fight. Instead the cap runs two-phase (the b20 salting
    * discipline composed with top-k): rank within (source, salt) —
    * the hot source spreads over `saltBuckets` tasks — keep each
    * bucket's top `cap`, then rank the ≤ saltBuckets·cap survivors
    * per source. Any global top-cap row is necessarily in its
    * bucket's top cap, so phase 1 never discards a winner; phase 2's
    * exchange carries at most saltBuckets·cap rows per source
    * regardless of how hot the domain is. */
  private[ops] val sourceCap = 10
  private val saltBuckets = 8

  def capPerSourceOn(docs: DataFrame, cap: Int = sourceCap): DataFrame = {
    val keyed = docs
      .withColumn("k", md5(concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(saltBuckets)).cast("int"))
    val local = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("k"), col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("k"), col("doc_id"))
    keyed
      .withColumn("r1", row_number().over(local)).filter(col("r1") <= cap)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= cap)
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy("source", "rank")
  }

  def capPerSource(spark: SparkSession, dir: String): DataFrame =
    capPerSourceOn(Relational.table(spark, dir, "documents"))

  /** C28 — dedup clustering FROM THE STORE: [[dedupCluster]] with its
    * edge generation replaced by the persistent near-dup signature
    * store's pair table. c14 pays edge generation (shingle + sign +
    * band join + verify — the expensive half, which is why it
    * contracts exact dups first) on EVERY run; the store maintains the
    * complete verified pair set incrementally as batches arrive
    * (`Similarity.appendToNearDupIndex`), so re-clustering after an
    * arrival costs ONLY label propagation over (da, db) id pairs —
    * Θ(pairs · log diameter), no corpus text anywhere in the plan.
    * Same oracle as c14 (the store's pair graph IS the exact n-gram
    * pair graph, oracle-proven by c27): transitive closure over the
    * near-dup edges, min id as the cluster label. Exact-duplicate
    * texts share all shingles (J = 1 ≥ 0.8), so their edges are in the
    * store and no separate contraction pass is needed. */
  def dedupClusterIncremental(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = Similarity.freshScratch(spark, s"graft_neardup_cluster_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx)
    Similarity.appendToNearDupIndex(spark, idx, docs.filter(col("doc_id") % 20 === 7))
    clusterPairs(spark,
        Similarity.nearDupIndexPairs(spark, idx).select(col("da"), col("db")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  // C44 — corpus snapshot diff: the data-versioning primitive (what
  // changed between dataset release N and N+1 — the audit every
  // training-data pipeline runs before retraining). Both snapshots
  // project to (doc_id, md5(text)) BEFORE the join, so the only thing
  // that ever shuffles is an 8-byte id + a 16-byte digest — document
  // text never moves regardless of corpus size; the diff itself is one
  // co-partitioned full outer join emitting only the delta rows
  // (added / removed / changed), never the unchanged bulk. Snapshot B
  // is derived deterministically in-plan (the a8_lenient
  // dirty-in-plan doctrine — the testdata has one snapshot):
  // doc_id % 17 == 3 dropped (removed), % 17 == 5 text-edited
  // (changed), % 17 == 7 re-entering under id + 1e12 (added; the
  // offset clears any MakeScale-replicated id range). DuckDB replays
  // the same derivation, so the delta is hash-matched end to end.
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = Relational.table(spark, dir, "documents")
    val snapA = a.select(col("doc_id"), md5(col("text")).as("ha"))
    val snapB = a.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 17 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("hb"))
      .unionByName(a.filter(col("doc_id") % 17 === 7)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
          md5(col("text")).as("hb")))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("hb").isNull, lit("removed"))
          .when(col("ha").isNull, lit("added"))
          .when(col("ha") =!= col("hb"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c44_corpus_diff" -> (corpusDiff _),
    "c12_decontaminate" -> (decontaminate _),
    "c12c_decontaminate_bloom" -> (decontaminateBloom _),
    "c13_sample_stratified" -> (sampleStratified _),
    "c14_dedup_cluster" -> (dedupCluster _),
    "c14b_dedup_cluster_keep_best" -> (dedupClusterKeepBest _),
    "c37_split_leakfree" -> (splitLeakFree _),
    "c28_dedup_cluster_incremental" -> (dedupClusterIncremental _),
    "c15_pack_sequences" -> (packSequences _),
    "c15b_pack_bpe" -> (packSequencesBpe _),
    "c16_pii_redact" -> (piiRedact _),
    "c17_quality_repetition" -> (qualityRepetition _),
    "c18_mix_weights" -> (mixWeights _),
    "c18b_mix_drift" -> (mixDrift _),
    "c34_mix_resample" -> (mixResample _),
    "c21_quality_stream" -> (qualityStream _),
    "c26_cap_per_source" -> (capPerSource _))

  /** Transitive closure of the exact near-dup pair graph — shared by
    * c14 (per-run edge generation) and c28 (edges from the persistent
    * store): both must produce this identical result. */
  /** The c14 transitive-closure CTE body (no final SELECT) — shared by
    * the c14/c28 label oracle and c14b's keep-best composition. */
  private val clusterClosureCtes =
    """toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(generate_series(1, len(t) - 2),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingles FROM toks2),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |np AS (SELECT da, db FROM pairs
      |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
      |edges AS (SELECT da AS src, db AS dst FROM np UNION ALL SELECT db, da FROM np),
      |reach AS (
      |  SELECT src AS id, src AS node FROM edges
      |  UNION
      |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.node = e.src)""".stripMargin

  private val clusterClosureOracle =
    s"""WITH RECURSIVE
       |$clusterClosureCtes
       |SELECT id AS doc_id, min(node) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  /** c14b oracle: closure labels ⋈ the c4 quality SQL, then the same
    * argmax window (quality DESC, doc_id ASC over the whole cluster). */
  private val keepBestOracle =
    s"""WITH RECURSIVE
       |$clusterClosureCtes,
       |labels AS (SELECT id AS doc_id, min(node) AS cluster_id FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |    round(least(len(t) * 1.0 / 100.0, 1.0) * 0.5
       |      + (1.0 - len(list_filter(t, x -> x in ${Pipeline.stopList})) * 1.0 / len(t)) * 0.5,
       |      4) AS quality FROM toks2),
       |j AS (SELECT l.doc_id, l.cluster_id, q.quality FROM labels l JOIN q USING (doc_id)),
       |k AS (SELECT doc_id, cluster_id, quality,
       |    first_value(doc_id) OVER w AS kept_by,
       |    first_value(quality) OVER w AS kept_q
       |  FROM j WINDOW w AS (PARTITION BY cluster_id ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT doc_id, cluster_id, quality, kept_by, kept_q,
       |       doc_id = kept_by AS is_kept
       |FROM k ORDER BY cluster_id, doc_id""".stripMargin

  // a def, not a val: the c15 entry embeds the session's EFFECTIVE
  // shard span (see effectiveShardSpan) at dump time
  def oracleSql: Map[String, String] = Map(
    // same deterministic snapshot-B derivation as the Spark plan; md5
    // only ever compares WITHIN an engine, so digest-format agreement
    // between Spark and DuckDB is not even required — the delta rows are
    "c44_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |b AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 5 THEN concat(text, ' rev2') ELSE text END) AS hb
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, md5(text) FROM documents WHERE doc_id % 17 = 7),
        |f AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN ha <> hb THEN 'changed' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM f WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // the oracle joins on the gram STRINGS; equality with the hashed
    // Spark path holds absent xxhash64 collisions (spec-proven at test
    // scale, probabilistically negligible beyond it)
    "c12_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= $ngramN THEN
         |    list_distinct(list_transform(generate_series(1, len(toks) - ${ngramN - 1}),
         |      i -> array_to_string(toks[i:i+${ngramN - 1}], ' ')))
         |  ELSE [] END) AS gram FROM t),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
         |SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
         |FROM g JOIN ev USING (gram) WHERE g.doc_id % 20 != 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "c26_cap_per_source" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    md5(concat('cap:', cast(doc_id as varchar))) AS k FROM documents),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rank
         |  FROM t)
         |SELECT doc_id, source, rank FROM r WHERE rank <= $sourceCap
         |ORDER BY source, rank""".stripMargin,
    "c13_sample_stratified" ->
      s"""SELECT doc_id, lang, ${bucketSql("doc_id")} AS bucket
         |FROM documents
         |WHERE ${bucketSql("doc_id")} < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
         |ORDER BY doc_id""".stripMargin,
    // transitive closure of the exact near-dup pair graph (same pair CTE
    // as the c8 oracle); UNION (distinct) in the recursive member
    // guarantees termination on cyclic dup graphs
    "c14_dedup_cluster" -> clusterClosureOracle,
    "c14b_dedup_cluster_keep_best" -> keepBestOracle,
    // c37: closure labels left-joined to the corpus; singletons key on
    // their own id; the same Lehmer gate as c34 picks the eval side
    "c37_split_leakfree" ->
      s"""WITH RECURSIVE
         |$clusterClosureCtes,
         |labels AS (SELECT id AS doc_id, min(node) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(l.cluster_id, d.doc_id) AS split_key,
         |  CASE WHEN ${lehmerSql("coalesce(l.cluster_id, d.doc_id)")} < $evalThresh
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM documents d LEFT JOIN labels l USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the store-fed clustering must produce the IDENTICAL closure —
    // its pair table is the same exact n-gram pair graph (c27 contract)
    "c28_dedup_cluster_incremental" -> clusterClosureOracle,
    "c15_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id // $activeShardSpan AS shard,
         |  len(string_split(text, ' ')) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, lang, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS end_off FROM t)
         |SELECT doc_id, lang, shard, n_tokens,
         |  CAST((end_off - n_tokens) // $packBudget AS BIGINT) AS seq_id,
         |  ((end_off - 1) // $packBudget) != ((end_off - n_tokens) // $packBudget) AS straddles
         |FROM o ORDER BY doc_id""".stripMargin,
    // injection + scrub mirrored verbatim; patterns are backslash-free so
    // the same literal text is valid in both engines
    "c16_pii_redact" ->
      s"""WITH t AS (SELECT doc_id,
         |  concat(text, ' contact user', cast(doc_id as varchar),
         |    '@example.com from 10.', cast(doc_id % 256 as varchar), '.0.99 call 555-',
         |    lpad(cast(doc_id % 1000 as varchar), 3, '0'), '-',
         |    lpad(cast(doc_id % 10000 as varchar), 4, '0')) AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t2, '$emailRe')) AS n_email,
         |  len(regexp_extract_all(t2, '$ipRe')) AS n_ip,
         |  len(regexp_extract_all(t2, '$phoneRe')) AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
         |    '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g')) AS red_md5
         |FROM t ORDER BY doc_id""".stripMargin,
    // same stats via 1-based list ops; keep compares the ROUNDED columns
    // in both engines so threshold ties cannot diverge
    "c17_quality_repetition" -> repetitionOracle,
    // the stream is a replay of the same corpus through the same
    // stateless pipeline — identical oracle
    "c21_quality_stream" -> repetitionOracle,
    // per-(source, token) micro-nat ln-ratio terms weighted by exact
    // long counts — order-independent sums, identical expression text
    "c18b_mix_drift" ->
      """WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT source, tok, count(*) AS c_st FROM st GROUP BY 1, 2),
        |v AS (SELECT tok, sum(c_st) AS c_t FROM c GROUP BY 1),
        |s AS (SELECT source, cast(sum(c_st) as bigint) AS n_s FROM c GROUP BY 1),
        |n AS (SELECT cast(sum(c_st) as bigint) AS n FROM c),
        |terms AS (SELECT c.source,
        |    c_st * cast(round((ln(c_st * 1.0 / n_s) - ln(c_t * 1.0 / n.n)) * 1000000, 0) as bigint) AS term
        |  FROM c JOIN v USING (tok) JOIN s USING (source) CROSS JOIN n)
        |SELECT source, n_s AS n_tokens,
        |  round(sum(term) / 1000000.0 / n_s, 4) AS kl
        |FROM terms JOIN s USING (source)
        |GROUP BY source, n_s ORDER BY source""".stripMargin,
    // √token scores scaled to exact longs before the global sum — the
    // normalizer is order-independent, so shares match bit-for-bit
    "c18_mix_weights" ->
      s"""WITH s AS (SELECT lang, source, count(*) AS n_docs,
         |  cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT *, cast(round(sqrt(n_tokens) * 1000000, 0) as bigint) AS sqs FROM s),
         |z AS (SELECT *, sum(sqs) OVER () AS z FROM t)
         |SELECT lang, source, n_docs, n_tokens,
         |  round(sqs * 1.0 / z, 4) AS share,
         |  round(least(1.0, $mixBudget * (sqs * 1.0 / z) / n_tokens), 4) AS sample_rate,
         |  round($mixBudget * (sqs * 1.0 / z) / n_tokens, 4) AS epochs
         |FROM z ORDER BY lang, source""".stripMargin,
    // c34 re-derives the c18 rate (same exact-long discipline) and
    // applies the Lehmer gate row-wise — `1.0` literals are safe here
    // because DuckDB parses them as DOUBLE (the Spark-side decimal trap
    // does not exist in the oracle engine; the Spark side uses the
    // DataFrame API with double lits)
    "c34_mix_resample" ->
      s"""WITH s AS (SELECT lang, source,
         |  cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT *, cast(round(sqrt(n_tokens) * 1000000, 0) as bigint) AS sqs FROM s),
         |z AS (SELECT *, sum(sqs) OVER () AS z FROM t),
         |r AS (SELECT lang, source,
         |  round(least(1.0, $mixBudget * (sqs * 1.0 / z) / n_tokens), 4) AS sample_rate
         |  FROM z)
         |SELECT d.doc_id, d.lang, d.source, r.sample_rate
         |FROM documents d JOIN r USING (lang, source)
         |WHERE ${lehmerSql("d.doc_id")} <
         |      cast(floor(sample_rate * 1000003) as bigint)
         |ORDER BY d.doc_id""".stripMargin)

  private lazy val repetitionOracle: String =
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |b AS (SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS uniq,
         |  CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),
         |    i -> concat_ws(' ', toks[i], toks[i+1])) ELSE [] END AS bg FROM t),
         |m AS (SELECT doc_id, n, uniq,
         |  list_max(list_transform(list_distinct(toks), tk -> len(list_filter(toks, x -> x = tk)))) AS top_tok,
         |  CASE WHEN len(bg) = 0 THEN 0
         |    ELSE list_max(list_transform(list_distinct(bg), g -> len(list_filter(bg, x -> x = g)))) END AS top_bg
         |  FROM b),
         |r AS (SELECT doc_id,
         |  round(1.0 - uniq * 1.0 / n, 4) AS dup_tok_ratio,
         |  round(top_tok * 1.0 / n, 4) AS top_tok_frac,
         |  CASE WHEN n > 1 THEN round(top_bg * 1.0 / (n - 1), 4)
         |       ELSE 0.0 END AS top_bigram_frac FROM m)
         |SELECT doc_id, dup_tok_ratio, top_tok_frac, top_bigram_frac,
         |  dup_tok_ratio <= $dupTokMax AND top_bigram_frac <= $topBigramMax AS keep
         |FROM r ORDER BY doc_id""".stripMargin
}
