package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Tier C — the last mile between "curated corpus" and "training shards":
 * passage-level (sub-document) deduplication, unigram language-model
 * quality scoring, and the deterministic shard shuffle that writes
 * training data in pseudo-random order. Like the rest of the tier these
 * have no counterpart in the reference (its README scopes it to the
 * encode half of an analytics stack; `src/orca/core.clj` holds no
 * text-processing code) — they are the operations a pretraining
 * pipeline runs AFTER document-level dedup/filtering.
 *
 * Scale doctrine per op:
 *  - dedupPassage: chunk occurrences explode the corpus ~(tokens/C)×,
 *    but every shuffle after the explode carries 8-byte xxhash64 chunk
 *    keys (the c12 trick) — the duplicated-chunk set is found by a
 *    partial-aggregated groupBy on the hash, and membership is a
 *    left-anti join on the same 8-byte key. Chunk TEXT never shuffles;
 *    it stays co-located with its occurrence row.
 *  - docLogprob: one corpus-sized exchange on the token (reused by both
 *    the vocab aggregate and the score join — same key, Spark's
 *    ReuseExchange folds them); the corpus-total is a 1-row broadcast.
 *    Surprisal is scaled to exact longs per VOCAB row before the
 *    per-doc sum, so the aggregate is order-independent and
 *    engine-exact (the only double op, ln, is evaluated once per
 *    distinct (cnt, N), not per token).
 *  - shardShuffle: the md5 key IS the shuffle — rows hash-partition by
 *    shard and each shard's position/cumulative-budget window is one
 *    task. Position assignment within a shard is inherently sequential
 *    (that is what "position" means), so shard count is the
 *    parallelism knob: the 8-shard default matches testdata scale;
 *    production sets `graft.shard.count` to the target output-file
 *    count (thousands), making each window partition one writer task.
 */
object Training {

  // ------------------------------------------ C23 passage-level dedup

  /** Tokens per passage chunk. 8 gives 3–12 chunks on the 20–90-token
    * synthetic docs; the published line/passage dedup recipes
    * (C4-family) use the natural line — this corpus has no newlines, so
    * a fixed token window is the passage unit. */
  private val chunkTokens = 8

  private def chunksExpr(c: Int) =
    s"""transform(array(split(text, ' ')), t ->
       |  transform(sequence(0, (size(t) - 1) div $c),
       |    i -> concat_ws(' ', slice(t, i * $c + 1, $c))))[0]""".stripMargin

  /** Passage dedup applied to any (doc_id, text) frame — spec entry
    * point. See [[dedupPassage]].
    *
    * Shaped as ONE flag-join + ONE per-doc aggregate: a first draft
    * computed kept and total counts as separate aggregates stitched by
    * a left-outer join, which planned the explode THREE times (Spark
    * does not reuse the Generate subtree across the join's branches);
    * flagging dup membership with a left join and folding counts +
    * reconstruction into a single groupBy leaves two corpus passes (the
    * dup-set aggregate is inherently a second one) and no outer join. */
  private[graft] def passageOn(df: DataFrame): DataFrame = {
    val occ = df
      .select(col("doc_id"), posexplode(expr(chunksExpr(chunkTokens))))
      .withColumnRenamed("col", "chunk")
      .withColumn("h", xxhash64(col("chunk")))
    // chunks seen in >1 distinct doc, as 8-byte keys; partial agg
    // collapses each partition's (h, doc_id) pairs before the exchange
    val dup = occ.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"), lit(true).as("isdup"))
    occ.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      // collect_list drops NULL inputs, so the CASE keeps only unique
      // chunks in the reconstruction; empty survivor set → concat_ws
      // over [] = "" = the oracle's coalesce('')
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("isdup").isNull, 1)).as("n_kept"),
        md5(expr(
          "concat_ws(' ', transform(array_sort(collect_list(CASE WHEN isdup IS NULL THEN struct(pos, chunk) END)), s -> s.chunk))"))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  /** C23 — passage-level dedup (the sub-document pass document-level
    * dedup cannot express): cut each doc into consecutive
    * [[chunkTokens]]-token chunks and drop every occurrence of a chunk
    * that appears in more than one distinct document — boilerplate
    * headers/footers and templated spans vanish from ALL their carriers
    * while document-unique prose survives. Output is per-doc chunk
    * counts plus md5 of the retained text (hash compare proves the
    * reconstruction byte-for-byte without shipping it).
    *
    * The operator compares xxhash64(chunk) longs; the oracle compares
    * chunk strings — identical output absent 64-bit collisions
    * (spec-proven collision-free on the test corpus; ~n²/2⁶⁴ beyond). */
  def dedupPassage(spark: SparkSession, dir: String): DataFrame =
    passageOn(Relational.table(spark, dir, "documents"))

  /** Minimum repeated-span length (tokens) c23b catches. Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better",
    * 2022) use 50 BPE tokens on web corpora; 8 fits the 20–90-token
    * synthetic docs the same way [[chunkTokens]] does. Production sets
    * `graft.span.tokens` (≈50) — read by BOTH the query and the
    * oracle (the c25 shard-count contract), so the dumped oracle
    * always describes the session's effective operator. */
  private val spanTokensDefault = 8

  private def effectiveSpanTokens(spark: SparkSession): Int =
    spark.conf.getOption("graft.span.tokens")
      .map(_.toInt).getOrElse(spanTokensDefault)

  private def activeSpanTokens: Int =
    SparkSession.getActiveSession.map(effectiveSpanTokens).getOrElse(spanTokensDefault)

  /** C23b — VARIABLE-LENGTH repeated-span dedup: remove every token
    * that lies inside a span of ≥ `graft.span.tokens` tokens repeated across
    * documents at ANY alignment — the suffix-array semantics of Lee et
    * al., which [[dedupPassage]]'s doc-aligned fixed chunks provably
    * miss (a span repeated at offsets differing mod chunkTokens shares
    * no aligned chunk; the discriminator spec plants exactly that).
    *
    * Spark-native reformulation instead of a distributed suffix array:
    * hash EVERY w-token window (all offsets, not every w-th). A maximal
    * repeated span of length s ≥ w contains a repeated window at each
    * of its s−w+1 starts, and every token of the span lies in at least
    * one window fully inside the span — so "union of positions covered
    * by a cross-doc-duplicated window" is EXACTLY "tokens inside some
    * repeated span ≥ w". No approximation, no candidate verify step.
    *
    * Scale: the window explode emits one 8-byte hash per token (≈ the
    * token explode docLogprob already pays, w× the chunk rows of c23);
    * the dup aggregate and cover join shuffle only (h) / (doc_id, pos)
    * longs — window TEXT never shuffles. Covered regions travel as
    * MERGED (lo, hi) INTERVALS (one per maximal repeated region), and
    * the rebuild slices the gaps between them — O(L) per doc however
    * much of it is covered. One doc-keyed join against the docs scan —
    * same exchange class as c23's rebuild.
    * Deterministic → full DuckDB oracle (strings vs xxhash64 longs,
    * identical absent 64-bit collisions — the c12/c23 doctrine). */
  private[graft] def spanOn(df: DataFrame): DataFrame = {
    val spanTokens = effectiveSpanTokens(df.sparkSession)
    val occ = spanWindows(df, spanTokens)
    val dup = occ.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    gapSliceKept(df, coveredIntervals(occ.join(dup, Seq("h")), spanTokens))
  }

  /** Every-offset w-token window hashes of a (doc_id, text) frame:
    * one (doc_id, wpos, h) row per window start — the shared kernel of
    * c23b (within-corpus repeats) and c35/c35b (eval-set matches). */
  private def spanWindows(d: DataFrame, w: Int): DataFrame = d
    .select(col("doc_id"), posexplode(expr(
      s"""transform(array(split(text, ' ')), t ->
         |  CASE WHEN size(t) >= $w THEN
         |    transform(sequence(0, size(t) - $w),
         |      i -> xxhash64(concat_ws(' ', slice(t, i + 1, $w))))
         |  ELSE array() END)[0]""".stripMargin)))
    .withColumnRenamed("pos", "wpos").withColumnRenamed("col", "h")

  /** Covered regions of matched window starts as MERGED INTERVALS,
    * never a per-position set: a matched window covers
    * [start, start+w-1], and on the SORTED start list a fixed-width
    * window extends the previous run iff its start is within w of the
    * predecessor (overlap or abutment — the covered-position union is
    * the same either way). So each maximal matched region is ONE
    * (lo, hi) pair: the interval list is |maximal spans| long where a
    * per-position set would be |covered positions| long, and the
    * exchange ships one long per matched WINDOW. Shared by the c23b
    * within-corpus fold and the c35/c35b eval-driven fold. */
  private def coveredIntervals(matched: DataFrame, w: Int): DataFrame =
    matched
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("wpos"))).as("ss"))
      // lambda index i is 0-based while element_at is 1-based, so
      // element_at(ss, i) is the PREDECESSOR and element_at(ss, i+2)
      // the SUCCESSOR of element i
      .withColumn("ivlo", expr(
        s"filter(ss, (s, i) -> i = 0 OR s > element_at(ss, i) + $w)"))
      .withColumn("ivhi", expr(
        s"""transform(
           |  filter(ss, (s, i) -> i = size(ss) - 1 OR element_at(ss, i + 2) > s + $w),
           |  s -> s + $w - 1)""".stripMargin))
      .select(col("doc_id"), col("ivlo"), col("ivhi"))

  /** Reconstruction by GAP SLICING — O(L) per doc, independent of how
    * much of it is covered: the kept text is the concatenation of the
    * slices between consecutive covered intervals (plus the flanks),
    * never a per-token membership probe (a filter+array_contains form
    * is O(L·|covered|) — quadratic on a long mostly-boilerplate doc).
    * Empty gaps at the flanks fall out of the hi >= lo guard; docs
    * with no covered interval pass through whole. */
  private def gapSliceCore(docs: DataFrame, covered: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN ivlo IS NULL THEN toks ELSE
          |  flatten(zip_with(
          |    concat(array(0), transform(ivhi, h -> h + 1)),
          |    concat(transform(ivlo, lo -> lo - 1), array(size(toks) - 1)),
          |    (glo, ghi) -> CASE WHEN ghi >= glo
          |                  THEN slice(toks, glo + 1, ghi - glo + 1)
          |                  ELSE array() END))
          |END""".stripMargin))

  private def gapSliceKept(docs: DataFrame, covered: DataFrame): DataFrame =
    gapSliceCore(docs, covered)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      .orderBy("doc_id")

  def dedupSpan(spark: SparkSession, dir: String): DataFrame =
    spanOn(Relational.table(spark, dir, "documents"))

  // ------------------------------------------ C24 unigram LM quality

  /** C24 — unigram log-prob scoring: fit a unigram LM on the corpus
    * itself (token → count / total) and score every doc by its mean
    * token surprisal in scaled nats — the cheap stand-in for the
    * perplexity-filter stage of a quality pipeline (real pipelines swap
    * the unigram model for KenLM; the dataflow — fit on corpus, score
    * per doc, threshold — is identical). High avg_nll = rare-token
    * soup; low = stopword soup.
    *
    * Engine parity: surprisal is rounded to integer micro-nats per
    * vocab row (`round(-ln(cnt/N)·1e6)` as long) BEFORE the per-doc
    * sum — long sums are exact and order-independent, so the only
    * cross-engine risk is ln differing in the last ulp exactly on a
    * half-integer micro-nat boundary (probability ~1e-10 per distinct
    * (cnt, N) pair; cnt values collapse to few distincts even on huge
    * vocabs). */
  def docLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // Σcnt = Σ per-doc token counts: a map-only second scan, instead of
    // aggregating the vocab subplan twice (Spark plans derived-DataFrame
    // reuse as recomputation, and the vocab build is the expensive pass)
    val total = Relational.table(spark, dir, "documents")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("n_total"))
    val scored = vocab.crossJoin(broadcast(total))
      .withColumn("nll", expr("cast(round(-ln(cast(cnt as double) / n_total) * 1000000, 0) as bigint)"))
      .select(col("tok"), col("nll"))
    toks.join(scored, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s") / lit(1000000.0) / col("n_tokens"), 4).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** C24b — the DEPLOYMENT shape of LM quality scoring: fit once on a
    * reference corpus, persist the model, score every new crawl batch
    * against it map-only. [[docLogprob]] fits on the corpus being
    * scored — the right oracle for "profile this dataset", but its
    * token-keyed exchange carries the corpus vocabulary, which the sf10
    * rehearsal measured growing linearly with rows (BASELINE.md round
    * 6). With a FIXED vocabulary none of that survives: the persisted
    * LM broadcasts, the batch join is a BroadcastHashJoin, and the only
    * exchange left is the per-doc aggregate's partial-agg shuffle —
    * the op scores 100 TB of arrivals without ever shuffling a token.
    *
    * Out-of-vocabulary tokens (impossible in [[docLogprob]], routine
    * here) score as a hapax would — `-ln(1/N)` micro-nats — the
    * standard count-1 floor, computed from the persisted total so both
    * engines derive it identically (same micro-nat rounding, same
    * last-ulp caveat as the vocab rows). */
  /** `minCount` prunes the persisted vocabulary: tokens seen fewer
    * times are dropped and score as OOV (the hapax floor — for a
    * count-1 token that IS its exact surprisal, so minCount=2 is
    * lossless there). This is what bounds the broadcast at scale: the
    * sf10 rehearsal's fit keeps 18M tokens at minCount=1 — a
    * long-tail of junk hapaxes at the broadcast edge — and 1.5M at
    * minCount=2 (BASELINE.md round 6); real deployments prune exactly
    * this way because the tail is noise the floor models as well. On
    * the sf10 rehearsal corpus minCount=2 collapses 18M tokens to 31 —
    * its dupCap=1 junk is ALL doc-unique hapaxes; real corpora land
    * between the extremes, which is why the knob is a parameter. */
  def fitUnigramLm(docs: DataFrame, lmDir: String, minCount: Long = 1L): Unit = {
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val total = docs.agg(sum(size(split(col("text"), " "))).cast("long").as("n_total"))
    vocab.crossJoin(broadcast(total))
      .withColumn("nll", expr("cast(round(-ln(cast(cnt as double) / n_total) * 1000000, 0) as bigint)"))
      .select(col("tok"), col("nll"))
      .write.mode("overwrite").parquet(s"$lmDir/vocab")
    total.coalesce(1).write.mode("overwrite").parquet(s"$lmDir/total")
  }

  /** Score a batch against a persisted LM: broadcast the vocab, left
    * join (OOV → hapax floor), exact long sums per doc. Same output
    * shape as [[docLogprob]]. */
  def scoreWithLm(spark: SparkSession, docs: DataFrame, lmDir: String): DataFrame = {
    val lm = Relational.cachedSchemaParquet(spark, s"$lmDir/vocab")
    val nTotal = Relational.cachedSchemaParquet(spark, s"$lmDir/total").head().getLong(0)
    val oovNll = math.round(math.log(nTotal.toDouble) * 1e6)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(lm), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("nll"), lit(oovNll))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s") / lit(1000000.0) / col("n_tokens"), 4).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Registry wrapper: fit on the 95% slice (doc_id ≢ 7 mod 20),
    * persist, score the held-out 5% — real OOV tokens, full hash-match
    * oracle (the whole computation is SQL-expressible). */
  def docLogprobLm(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val lmDir = Similarity.freshScratch(spark, s"graft_unigram_lm_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitUnigramLm(docs.filter(col("doc_id") % 20 =!= 7), lmDir.toString)
    scoreWithLm(spark, docs.filter(col("doc_id") % 20 === 7), lmDir.toString)
  }

  // ------------------------------------------ C32 learned BPE tokenizer

  /** Merge-table size (the tokenizer's vocab budget knob; production
    * runs use 30–100k, the 200 default exercises real merge depth at
    * test scale) and the word-dictionary bound the fit collects. */
  private def bpeMerges(spark: SparkSession): Int =
    spark.conf.getOption("graft.bpe.merges").map(_.toInt).getOrElse(200)
  private def bpeMaxWords(spark: SparkSession): Int =
    spark.conf.getOption("graft.bpe.maxWords").map(_.toInt).getOrElse(65536)

  /** C32 fit — train a byte-pair-encoding merge table (Sennrich et al.
    * 2016) on a corpus and persist it, with its vocab, as one
    * [[IndexMeta]] `bpe.gN` generation. The scale split is the one every
    * public BPE trainer uses: the CORPUS pass is one vocab-sized
    * shuffle (explode → partial-aggregated word counts, the c20 plan)
    * plus a TakeOrdered top-`maxWords` — tokens never shuffle raw and
    * the result is a bounded dictionary, because merge statistics are
    * weighted word-frequency sums, identical whether computed over
    * 100 TB of text or its word histogram. The merge LOOP is inherently
    * sequential (merge r+1's counts depend on merge r) and runs
    * driver-side over the ≤`maxWords` dictionary rows — the PQ-books
    * doctrine: a k-row driver structure, never the corpus.
    * Determinism: exact long pair counts; ties break to the
    * lexicographically smallest pair; the dictionary cut orders by
    * (count desc, word asc) — so refits on the same corpus are
    * bit-identical (spec-pinned). */
  def fitBpe(spark: SparkSession, docs: DataFrame, modelDir: String,
      numMerges: Int, maxWords: Int): Unit = {
    val dict = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val words: Array[(Array[String], Long)] =
      dict.map { case (w, c) => (w.toCharArray.map(String.valueOf(_)), c) }
    // Incremental pair-count maintenance (what reference BPE trainers
    // do): a full recount per round is O(numMerges × maxWords × wordLen)
    // — fine at the 200-merge default but hours-scale at production
    // 30–100k merge counts. Instead keep the global pair counts plus a
    // pair → word-index occurrence set, and on each merge touch ONLY the
    // words containing the merged pair (subtract their old adjacencies,
    // merge, add the new ones). Counts are maintained exactly, so the
    // (−count, lexicographic) argmin — and therefore the merge table —
    // is bit-identical to the recount loop (refit-determinism spec).
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def contribute(idx: Int, sign: Long): Unit = {
      val (syms, c) = words(idx)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val n = counts.getOrElse(p, 0L) + sign * c
        if (n == 0L) { counts.remove(p); occurs.remove(p) }
        else {
          counts(p) = n
          if (sign > 0)
            occurs.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += idx
        }
        i += 1
      }
      if (sign < 0) {
        // drop idx from the occurrence sets of pairs that survived the
        // count update but no longer appear in this word
        i = 0
        val present = scala.collection.mutable.HashSet.empty[(String, String)]
        while (i < syms.length - 1) { present += ((syms(i), syms(i + 1))); i += 1 }
        present.foreach(p => occurs.get(p).foreach(_ -= idx))
      }
    }
    words.indices.foreach(contribute(_, 1L))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < numMerges && counts.nonEmpty) {
      val (pair, _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      merges += pair
      val touched = occurs.getOrElse(pair, scala.collection.mutable.HashSet.empty).toArray
      touched.foreach { idx =>
        contribute(idx, -1L)
        words(idx) = (graft.functions.BpeCodec.mergePair(
          words(idx)._1, pair._1, pair._2), words(idx)._2)
        contribute(idx, 1L)
      }
    }
    // VOCAB export (round-11 verdict item 5): the id↔token table a
    // training loader consumes, derived deterministically from the SAME
    // fit — slot 0 is the reserved word separator (" ", the BpeVocab
    // convention), then the fit dictionary's alphabet sorted, then each
    // merge's composed token in rank order (first occurrence wins when
    // two merge paths compose the same string). Merges and vocab land
    // in ONE `bpe.gN` generation that one commit makes live, so a
    // refit into the same dir never pairs new merges with old vocab.
    val alphabet = dict.iterator.flatMap(_._1.iterator).map(String.valueOf(_))
      .toArray.distinct.sorted
    val vocabTokens = (Seq(" ") ++ alphabet ++ merges.map { case (a, b) => a + b }).distinct
    import spark.implicits._
    IndexMeta.commitGen(spark, modelDir, "bpe") { g =>
      merges.toSeq.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/merges")
      vocabTokens.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("id", "token")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/vocab")
      IndexMeta.newHeader()
    }
  }

  /** One table (`merges` or `vocab`) of the live BPE model. */
  private def bpeTable(spark: SparkSession, modelDir: String, table: String): DataFrame =
    Relational.cachedSchemaParquet(spark, IndexMeta.liveDir(spark, modelDir, "bpe",
      "the tokenizer", "refit it with fitBpe") + s"/$table")

  /** Tokenize a batch with a persisted merge table: ONE driver read of
    * the ≤`numMerges`-row model, then a map-only projection — the
    * [[graft.functions.BpeEncode]] kernel ships the table inside the
    * expression (the NearestCells/ADC plan-literal doctrine), so an
    * arrival batch tokenizes at scan cost with no join, no shuffle,
    * and no refit. Emits per-doc token count and an order-sensitive
    * token fingerprint (md5 over the token stream) — the compact
    * deterministic signature a shard-budgeting stage consumes. */
  /** The encode Column for a persisted model over a `text` column —
    * the composition surface (c32 scoring, c15b packing): one driver
    * read of the merge table, the codec plan-shipped. */
  def bpeTokensCol(spark: SparkSession, modelDir: String): org.apache.spark.sql.Column = {
    val m = bpeTable(spark, modelDir, "merges")
      .orderBy("rank").collect()
    val flat = m.flatMap(r => Seq(r.getString(1), r.getString(2)))
    import org.apache.spark.sql.graft.{GraftColumns => EU}
    EU.column(graft.functions.BpeEncode(EU.expression(col("text")), flat))
  }

  def tokenizeBpe(spark: SparkSession, docs: DataFrame, modelDir: String): DataFrame = {
    docs.withColumn("toks", bpeTokensCol(spark, modelDir))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        md5(concat_ws(" ", col("toks"))).as("fp"))
  }

  /** Tokenizer-drift telemetry (the `lexQueryTerms` OOV/`quantizerDrift`
    * measure on the frozen BPE model — the last store the
    * measure→policy doctrine did not cover): fraction of the batch's
    * ENCODED tokens absent from the model's committed vocab table.
    * Unseen characters encode as single tokens outside the alphabet,
    * and un-merged char runs of drifted text inflate the same way, so
    * the fraction reads ≈0 in-distribution and rises as arrivals
    * leave the fit's character/merge space. One map-only encode pass
    * + one broadcast anti-membership aggregate — Θ(batch), the vocab
    * is the bounded plan-side table. Telemetry ONLY, by design:
    * unlike the lexical index the shipped tokenizer cannot be hot-
    * refit (already-written shards carry its token economics; a new
    * tokenizer is a NEW state version an operator cuts deliberately),
    * so there is no `refitIfDrifted` twin — the measure's consumer is
    * that versioning decision. An empty batch reads 0.0 (streaming
    * replay delivers empty micro-batches routinely; "no arrivals" is
    * the no-drift case, not a contract error). */
  def bpeOovFraction(spark: SparkSession, modelDir: String,
      docs: DataFrame,
      toks: Option[org.apache.spark.sql.Column] = None): Double = {
    val vocab = bpeTable(spark, modelDir, "vocab")
      .select(col("token"))
    // `toks` lets a caller that already built the encode Column (one
    // driver read of the frozen merges per op — the read-ONCE seam)
    // share it instead of re-deriving the model here
    val row = docs.withColumn("toks",
        toks.getOrElse(bpeTokensCol(spark, modelDir)))
      .select(explode(col("toks")).as("token"))
      .join(broadcast(vocab.withColumn("known", lit(1))), Seq("token"), "left_outer")
      .agg(avg(when(col("known").isNull, 1.0).otherwise(0.0)).as("frac"))
      .head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** The persisted model as the plan-shippable (merges, vocab) pair:
    * one bounded driver read of each table (≤numMerges and ≤vocab-size
    * rows — the PQ-books doctrine). */
  private def bpeModelTables(spark: SparkSession,
      modelDir: String): (Array[String], Array[String]) = {
    val m = bpeTable(spark, modelDir, "merges")
      .orderBy("rank").collect()
    val flat = m.flatMap(r => Seq(r.getString(1), r.getString(2)))
    val v = bpeTable(spark, modelDir, "vocab")
      .orderBy("id").collect().map(_.getString(1))
    (flat, v)
  }

  /** text → array<int> token ids against the persisted model — the
    * loader-facing encode (codegen'd [[graft.functions.BpeEncodeIds]];
    * vocab plan-shipped, map-only). Unknown characters yield the loud
    * OOV sentinel, never a silent drop. */
  def bpeIdsCol(spark: SparkSession, modelDir: String): org.apache.spark.sql.Column = {
    val (flat, vocab) = bpeModelTables(spark, modelDir)
    import org.apache.spark.sql.graft.{GraftColumns => EU}
    EU.column(graft.functions.BpeEncodeIds(EU.expression(col("text")), flat, vocab))
  }

  /** array<int> token ids → text — the encode doctrine in reverse: the
    * id→token table rides the plan, decode is a map-only projection. */
  def bpeDecodeCol(spark: SparkSession, modelDir: String,
      ids: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (_, vocab) = bpeModelTables(spark, modelDir)
    import org.apache.spark.sql.graft.{GraftColumns => EU}
    EU.column(graft.functions.BpeDecode(EU.expression(ids), vocab))
  }

  /** C32b — the id→text ROUNDTRIP over real data: fit on the 95%
    * slice, encode the held-out 5% to ids through the exported vocab,
    * decode the ids back, and emit md5(decoded). The DuckDB oracle is
    * simply md5(text) over the same slice — so the hash gate IS the
    * lossless-roundtrip proof (an OOV character, a dropped space run,
    * or a vocab/merge drift all diverge the hash loudly). n_oov is
    * pinned to 0 by the oracle's literal for the same reason. */
  def bpeRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val modelDir = Similarity.freshScratch(spark, s"graft_bpe_rt_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitBpe(spark, docs.filter(col("doc_id") % 20 =!= 7), modelDir,
      bpeMerges(spark), bpeMaxWords(spark))
    docs.filter(col("doc_id") % 20 === 7)
      .withColumn("ids", bpeIdsCol(spark, modelDir))
      .select(col("doc_id"),
        md5(bpeDecodeCol(spark, modelDir, col("ids"))).as("rt_md5"),
        size(filter(col("ids"), _ === lit(graft.functions.BpeVocab.OovId)))
          .as("n_oov"))
      .orderBy("doc_id")
  }

  /** Registry wrapper: fit on the 95% slice, persist, tokenize the
    * held-out 5% through the re-read model (the c24b/c29b fit-once
    * split). Not SQL-expressible → rows-only; hand-computed merges,
    * losslessness, refit determinism, and interpreted≡codegen parity
    * are pinned in BpeSpec. */
  def tokenizeBpeQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val modelDir = Similarity.freshScratch(spark, s"graft_bpe_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitBpe(spark, docs.filter(col("doc_id") % 20 =!= 7), modelDir,
      bpeMerges(spark), bpeMaxWords(spark))
    tokenizeBpe(spark, docs.filter(col("doc_id") % 20 === 7), modelDir)
      .orderBy("doc_id")
  }

  // ------------------------------------------ C25 deterministic shard shuffle

  /** Training shard count. 8 exercises multi-shard structure at test
    * scale; production sets `graft.shard.count` ≈ output file count. */
  private val shardCountDefault = 8L

  /** The count c25 actually shards with: session conf override when
    * set, else the default — read by BOTH the query and [[oracleSql]]
    * (a `def` for exactly this reason, same contract as c15's span). */
  private def effectiveShardCount(spark: SparkSession): Long =
    spark.conf.getOption("graft.shard.count")
      .map(_.toLong).getOrElse(shardCountDefault)

  private def activeShardCount: Long =
    SparkSession.getActiveSession.map(effectiveShardCount).getOrElse(shardCountDefault)

  /** Shard in [0, s): top byte of the md5 key via hex-digit positions —
    * `instr` arithmetic only, so the SAME text evaluates identically in
    * Spark and DuckDB (no engine-specific hex-parse builtin needed). */
  private def shardExpr(s: Long) =
    s"""((instr('0123456789abcdef', substring(k, 1, 1)) - 1) * 16 +
       |  instr('0123456789abcdef', substring(k, 2, 1)) - 1) % $s""".stripMargin

  /** C25 — deterministic shard shuffle: the final write-side step of a
    * training pipeline. Every doc gets an md5 order key (seeded off its
    * id), a shard (top key byte mod `graft.shard.count`), a 1-based
    * position within the shard (key order = pseudo-random order), and a
    * running character budget — exactly what a shard writer consumes to
    * emit fixed-size training files in shuffled order. No RNG state:
    * the permutation is a pure function of doc_id, reproducible across
    * engines, partitionings, and reruns (`df.orderBy(rand())` is none
    * of those). */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    shardPlanOn(spark, Relational.table(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars")))
      .select(col("doc_id"), col("shard"), col("pos"), col("cum_chars"))
      .orderBy("shard", "pos")

  /** The c25 shard plan over any (doc_id, n_chars) frame, unsorted —
    * shared by [[shardShuffle]], [[writeShardsOn]], and the pretrain
    * composition (c33). */
  private[ops] def shardPlanOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    val s = effectiveShardCount(spark)
    val byShard = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    docs
      .withColumn("k", md5(concat(lit("shard:"), col("doc_id").cast("string"))))
      .withColumn("shard", expr(shardExpr(s)).cast("long"))
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .withColumn("cum_chars", sum(col("n_chars"))
        .over(byShard.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  // ------------------------------------------ C25b shard-file writer

  /** Character budget per shard FILE. 4000 cuts each testdata shard
    * into several parts; production sets `graft.shard.maxChars` to the
    * target training-file payload (hundreds of MB). Read by BOTH the
    * writer and [[oracleSql]] (the c15/c25 def contract). */
  private val maxShardCharsDefault = 4000L
  private def effectiveMaxShardChars(spark: SparkSession): Long =
    spark.conf.getOption("graft.shard.maxChars")
      .map(_.toLong).getOrElse(maxShardCharsDefault)
  private def activeMaxShardChars: Long =
    SparkSession.getActiveSession.map(effectiveMaxShardChars)
      .getOrElse(maxShardCharsDefault)

  /** C25b — the shard WRITER that consumes [[shardShuffle]]'s plan:
    * materialize the permutation as training files, one parquet file
    * per (shard, part) with docs physically in `pos` order, parts cut
    * at the char budget by each doc's START offset (`(cum_chars −
    * n_chars) div budget` — a file may overflow by the tail of its
    * last doc, never start one past the budget; the standard
    * fixed-payload shard cut). This is the last physical step of the
    * pipeline story c25 stopped short of (round-6 verdict): the plan
    * columns existed, but nothing wrote or re-read actual shard files.
    *
    * Write shape: one exchange keyed (shard, part) puts each output
    * file's rows in exactly one task, `sortWithinPartitions` orders
    * them, and the partitioned write emits one file per directory —
    * parallelism = shards × parts, each file written sequentially in
    * pos order (what a training loader streams). */
  def writeShards(spark: SparkSession, dir: String, outDir: String): Unit =
    writeShardsOn(spark, Relational.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars")), outDir)

  /** The c25b writer over any frame carrying (doc_id, text, n_chars) —
    * every OTHER column of `docs` rides into the shard files as a
    * payload column (how c33 ships bpe_tokens/seq_id/straddles to the
    * training loader). The shard plan runs over the narrow (doc_id,
    * n_chars) projection — window sorts never carry text — and the
    * payload joins back by id, exactly the [[writeShards]] shape. */
  private[ops] def writeShardsOn(spark: SparkSession, docs: DataFrame,
      outDir: String): Unit = {
    val budget = effectiveMaxShardChars(spark)
    val payload = docs.columns.filterNot(Set("doc_id", "n_chars").contains).toSeq
    shardPlanOn(spark, docs.select(col("doc_id"), col("n_chars")))
      .select(col("doc_id"), col("shard"), col("pos"), col("cum_chars"))
      .join(docs, "doc_id")
      .withColumn("part", expr(s"(cum_chars - n_chars) div $budget"))
      .select((Seq("shard", "part", "pos", "doc_id", "n_chars") ++ payload).map(col): _*)
      .repartition(col("shard"), col("part"))
      .sortWithinPartitions("shard", "part", "pos")
      .write.mode("overwrite").partitionBy("shard", "part")
      .parquet(outDir)
  }

  /** Registry wrapper: write the shards to scratch, then answer FROM
    * THE FILES — per (shard, part) doc counts, payload chars, and an
    * order-sensitive md5 over the doc_id sequence. Hash-matching the
    * SQL oracle proves the written files carry exactly the planned
    * permutation; the physical in-file ordering is pinned in the spec
    * (parquet read order is not part of the oracle contract). */
  def shardWriteQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = Similarity.freshScratch(spark, s"graft_shards_${key}_")
    writeShards(spark, dir, out)
    Relational.cachedSchemaParquet(spark, out)
      .groupBy(col("shard").cast("long").as("shard"),
        col("part").cast("long").as("part"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(pos, doc_id))), s -> cast(s.doc_id as string))")))
          .as("doc_md5"))
      .orderBy("shard", "part")
  }

  // ------------------------------------------ C33 pretrain composition

  /** Stages 1–6 of [[pretrainE2E]]: curate → leak-free split → span
    * excision → fit BPE → pack → shard write; returns the shard-file
    * directory (spec entry point). */
  private[ops] def writePretrainShards(spark: SparkSession, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = Similarity.freshScratch(spark, s"graft_pretrain_${key}_")
    val modelDir = Similarity.freshScratch(spark, s"graft_bpe_e2e_${key}_")
    val poolDir = Similarity.freshScratch(spark, s"graft_pool_${key}_")
    val keptDir = Similarity.freshScratch(spark, s"graft_kept_${key}_")
    // per-stage wall telemetry: the c33 decade tables in BASELINE.md
    // attribute the composition's cost to its stages from these lines
    def staged[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[c33-stage] $name sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      r
    }
    // 1. CURATION runs ONCE, materialized to scratch as an id list:
    //    the downstream consumers would each re-execute the whole LSH /
    //    decontamination lineage otherwise (Spark plans derived-frame
    //    reuse as recomputation). Ids only — 8 bytes/doc — so the
    //    barrier is tiny at any corpus scale, and disk-backed (unlike a
    //    localCheckpoint) so it survives executor loss on a cluster.
    staged("curation") {
      Pipeline.curateE2E(spark, dir).select(col("doc_id"))
        .write.mode("overwrite").parquet(poolDir)
    }
    val pool = Relational.cachedSchemaParquet(spark, poolDir)
    // 2. LEAK-FREE SPLIT (c37): the Lehmer-gated eval holdout leaves
    //    the training pool entirely, keyed on near-dup CLUSTERS over
    //    the FULL corpus — a survivor whose cluster drew the eval side
    //    must not train, or its eval twin leaks every benchmark it
    //    touches. One id semi-join; the result rides into the excision
    //    barrier below rather than materializing separately.
    val trainIds = Curation.splitLeakFree(spark, dir)
      .filter(col("split") === "train").select(col("doc_id"))
      .join(pool, Seq("doc_id"), "left_semi")
    // 3. SPAN EXCISION (c35b): curation's 13-gram decontamination
    //    DROPPED heavily-contaminated docs; what survives can still
    //    carry shorter (≥ w-token) verbatim eval spans — cut those out,
    //    keep the rest. The kept TEXT is what the tokenizer/packer/
    //    sharder consume, so this stage is the materialization barrier
    //    (the id list is no longer enough — the text changed): three
    //    consumers read keptDir, the excision lineage runs once.
    staged("split_and_excision") {
      val docsTbl = Relational.table(spark, dir, "documents")
      decontamExciseTextAgainst(
          docsTbl.join(trainIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text")),
          docsTbl.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")))
        .write.mode("overwrite").parquet(keptDir)
    }
    val docs = Relational.cachedSchemaParquet(spark, keptDir)
      .join(Relational.table(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
    // 4. the TOKENIZER artifact: fit once on the excised pool (the
    //    thing a training run ships), persisted under the generation
    //    protocol — unlike c32's 95/5 registry split, the composition
    //    tokenizes the same pool it fit on, the production shape
    staged("bpe_fit") {
      fitBpe(spark, docs, modelDir, bpeMerges(spark), bpeMaxWords(spark))
    }
    // 5. PACK by real tokenizer counts over the excised pool (the c15b
    //    window; its span-stratum `shard` column is internal to packing
    //    and dropped here — the FILE shard below is c25's md5 shard)
    val packed = Curation.packBpeOn(spark,
        docs.select(col("doc_id"), col("lang"), col("text")), modelDir)
      .select(col("doc_id"), col("n_tokens").as("bpe_tokens"),
        col("seq_id"), col("straddles"))
    // 6. SHARD WRITE: the files a training loader streams — the KEPT
    //    text plus the packing columns as payload, physically in pos
    //    order; n_chars is the kept length, so part cuts reflect what
    //    the loader actually reads (the pack stage executes inside
    //    this write — stages 5+6 are one job by design, so their line
    //    reports the fused cost)
    staged("pack_and_shard_write") {
      writeShardsOn(spark,
        docs.select(col("doc_id"), col("text"), col("n_chars")).join(packed, "doc_id"),
        out)
    }
    out
  }

  /** C33 — the FULL pretraining composition, one program: c31 curation
    * → c37 leak-free split → c35b span excision → c32 BPE tokenization
    * → c15b packing (real token counts) → c25b shard write, answered
    * FROM the re-read shard files (round-12 verdict item 8 added the
    * split and excision stages — the actual production chain). Every
    * stage is the shipped operator's own code path
    * ([[Pipeline.curateE2E]], `Curation.splitLeakFree`,
    * [[decontamExciseTextAgainst]], [[fitBpe]]/[[bpeTokensCol]],
    * `Curation.packBpeOn`, [[writeShardsOn]]), so the composition
    * inherits each stage's scale design; the only new machinery is the
    * two materialization barriers (curated ids; excised kept text —
    * needed because excision CHANGES the text its three consumers
    * read).
    *
    * Oracle: the c31 stage oracle's CTE chain extended with the c37
    * closure gate, the c35b kept-text reconstruction, and the c25/c25b
    * shard SQL over the kept lengths — hash-matching it proves the
    * written files carry exactly the split-gated, span-excised curated
    * pool in exactly the planned permutation and part cuts. The
    * BPE-derived payload columns (bpe_tokens, seq_id, straddles) ride
    * in the FILES but not in this oracle-checked answer — BPE is not
    * SQL-expressible (the c32/c15b rows-only doctrine); the spec
    * re-verifies them from the re-read files against a plain-Scala
    * recomputation instead. */
  def pretrainE2E(spark: SparkSession, dir: String): DataFrame = {
    val out = writePretrainShards(spark, dir)
    Relational.cachedSchemaParquet(spark, out)
      .groupBy(col("shard").cast("long").as("shard"),
        col("part").cast("long").as("part"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(pos, doc_id))), s -> cast(s.doc_id as string))")))
          .as("doc_md5"))
      .orderBy("shard", "part")
  }

  // ------------------------- C33b incremental pretrain composition

  // The capstone arrival path (round-13 verdict item 4): every c33
  // stage has an arrival leg (c27 store probe, gram-store decontam,
  // c34 monotone gate, frozen-BPE encode, per-slice shard write), but
  // nothing composed them — a new crawl slice still meant re-running
  // batch c33 over the union. c33b is that composition: a PERSISTED
  // pipeline state under one dir, a build phase that creates it, and
  // an ingest op that flows an arrival slice through the stores and
  // APPENDS shards — no old-corpus re-read anywhere (per-slice cost
  // tracks the slice; batch c33 tracks the corpus).
  //
  // The chain is the MONOTONE curation chain: quality floor → exact
  // dedup (seen-text-hash store) → near-dup removal (c27 signature
  // store) → eval-gram decontamination (persisted gram store) → c34
  // Lehmer gate against a FROZEN rate table → frozen-BPE encode →
  // per-slice shard write. Monotone means an arrival can never evict
  // an earlier selection, which is what makes incremental ≡ batch
  // possible at all; the two deliberate departures from batch c33 are
  // therefore PRINCIPLED, not omissions:
  //   - the c26 per-source cap is replaced by the c34 gate — a cap
  //     ranks WITHIN the pool (an arrival with a smaller md5 evicts a
  //     shipped selection: non-monotone by construction), while the
  //     gate is per-doc and monotone-in-rate (SURVEY c34);
  //   - the rate table and BPE model are FROZEN at build (the shipped
  //     mixture plan / tokenizer artifacts); re-planning rates or
  //     refitting the tokenizer are separate batch ops, exactly as
  //     production versions them.
  // Arrival slices must carry ids ABOVE everything seen (guarded
  // loudly) — the crawl-time model that makes first-seen ≡ lowest-id,
  // so exact/near-dup canonicalization agrees with the batch rule.
  //
  // Union-equivalence (spec-pinned): build(90%) + ingest(two 5%
  // slices) keeps EXACTLY the docs the same chain keeps batch-run
  // over 100% with the same frozen rates, MODULO one documented class
  // — build-phase selections contaminated only by eval docs that
  // ARRIVED LATER (the build could not have known; batch-over-union
  // drops them). The spec computes that class explicitly and asserts
  // the set difference equals it exactly. Late eval contamination on
  // shipped data is handled by the c35 span tooling / takedown, not
  // by churning selections.
  //
  // Crash contract: a slice writes its seen-hash delta, eval-gram
  // delta and shard slice into fresh `slice_<tag>` dirs, and ONE
  // `state.gN` header commit after all of them names the three dirs,
  // advances the id watermark and records the slice id (the
  // [[IndexMeta]] protocol); its near-dup store append commits on its
  // own under the slice's batch id. A completed slice therefore
  // replays into a no-op, and a slice that crashed before its commit
  // left only dirs no header names: the replay reads the same state
  // the crashed attempt read, overwrites them, and commits.

  /** Quality floor + exact-dup keepers + near-dup losers + decontam +
    * frozen-rate gate over a TRAIN frame, with the cross-corpus state
    * supplied by the caller — the one pool body shared by the build
    * phase, the ingest phase, and the spec's batch twin, so the three
    * can never drift. `keepers` are the exact-dup canonical ids,
    * `losers` the near-dup pair db sides, `evalGrams` the eval suite's
    * distinct gram hashes, `rates` the (lang, source, sample_rate)
    * mixture plan. */
  private def monotonePool(train: DataFrame, keepers: DataFrame,
      losers: DataFrame, evalGrams: DataFrame, rates: DataFrame): DataFrame = {
    val spark = train.sparkSession
    val contaminated = Curation.gramHashes(spark, train)
      .join(broadcast(evalGrams), Seq("gram_h"))
      .select(col("doc_id")).distinct()
    Pipeline.qualityOn(train).filter(col("quality") >= 0.7)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(broadcast(rates), Seq("lang", "source"))
      .where(Curation.lehmerHash(col("doc_id")) <
        expr("cast(floor(sample_rate * cast(1000003 as double)) as bigint)"))
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
  }

  /** Encode a kept frame with the state's frozen BPE model and write
    * it as one shard slice under `shards/slice_<tag>` — the c25b
    * writer, slice-scoped: shard assignment is per-doc deterministic
    * (md5), so a doc lands in the same shard whichever slice carries
    * it; pos/part are slice-local (a training loader streams the
    * slice tree — the crawl-dated layout). Returns the slice name, or
    * None for an empty frame. The slice joins the live tree only when
    * the state header naming it COMMITS: a crash before that leaves an
    * orphan dir no reader resolves, overwritten by the slice replay
    * and swept by the next compaction. */
  private def writeSliceShards(spark: SparkSession, stateDir: String,
      kept: DataFrame, tag: String,
      toks: Option[org.apache.spark.sql.Column] = None): Option[String] = {
    if (kept.isEmpty) return None
    val enc = kept.withColumn("bpe_tokens",
      size(toks.getOrElse(bpeTokensCol(spark, s"$stateDir/bpe"))).cast("long"))
    val name = s"slice_$tag"
    writeShardsOn(spark,
      enc.select(col("doc_id"), col("text"), col("n_chars"), col("bpe_tokens")),
      s"$stateDir/shards/$name")
    Some(name)
  }

  /** The header of a pretrain state's `state.gN` generation: the id
    * watermark (max doc_id ingested so far), the live shard-slice dir
    * names under `shards/`, the live seen-text-hash and eval-gram dirs
    * under `seen_th/` and `evalgrams/` (the build's, then one delta
    * per ingested slice), the takedown deltas under `shards/`, and the
    * tags of the slices ingested since the build. */
  private final case class StateHeader(maxDocId: Long, slices: Seq[String],
      seenTh: Seq[String], evalGrams: Seq[String], tombstones: Seq[String],
      applied: Seq[String]) {
    def toJson: com.fasterxml.jackson.databind.node.ObjectNode = {
      val o = IndexMeta.newHeader().put("max_doc_id", maxDocId)
      IndexMeta.putStrings(o, "slices", slices)
      IndexMeta.putStrings(o, "seen_th", seenTh)
      IndexMeta.putStrings(o, "evalgrams", evalGrams)
      IndexMeta.putStrings(o, "tombstones", tombstones)
      IndexMeta.putStrings(o, "applied", applied)
    }
  }

  private def parseState(o: com.fasterxml.jackson.databind.node.ObjectNode): StateHeader =
    StateHeader(IndexMeta.field(o, "max_doc_id").asLong, IndexMeta.strings(o, "slices"),
      IndexMeta.strings(o, "seen_th"), IndexMeta.strings(o, "evalgrams"),
      IndexMeta.strings(o, "tombstones"), IndexMeta.strings(o, "applied"))

  private val stateRebuild = "build the state with buildPretrainState first"
  private val stateLayout = Seq("seen_th", "evalgrams", "tombstones")

  private def stateHeader(spark: SparkSession, stateDir: String, what: String): StateHeader =
    parseState(IndexMeta.header(spark, stateDir, "state", what, stateRebuild, stateLayout))

  /** Commit the state's next generation: `body` gets its path and
    * returns the header; then [[gcState]] runs. */
  private def commitState(spark: SparkSession, stateDir: String)(body: String => StateHeader): Unit =
    gcState(spark, stateDir,
      parseState(IndexMeta.commitGen(spark, stateDir, "state")(g => body(g).toJson)))

  /** Delete every dir under the state's stores that `st` does not name:
    * superseded slices and deltas, and orphans of crashed mutations
    * (single-writer maintenance). */
  private def gcState(spark: SparkSession, stateDir: String, st: StateHeader): Unit = {
    IndexMeta.deleteUnnamed(spark, s"$stateDir/shards", Seq("slice_", "tomb_"),
      (st.slices ++ st.tombstones).toSet)
    IndexMeta.deleteUnnamed(spark, s"$stateDir/seen_th", Seq("slice_"), st.seenTh.toSet)
    IndexMeta.deleteUnnamed(spark, s"$stateDir/evalgrams", Seq("slice_"), st.evalGrams.toSet)
  }

  /** The union of a state store's live dirs (`seen_th` or `evalgrams`). */
  private def stateStore(spark: SparkSession, stateDir: String, store: String,
      dirs: Seq[String]): DataFrame =
    Relational.cachedSchemaParquet(spark, dirs.map(d => s"$stateDir/$store/$d"))

  /** The live slice-dir names, sorted (`private[ops]` so the spec pins
    * the SAME resolution rule readers use, instead of re-implementing
    * it). Readers resolve slices through the header, never by listing
    * the disk, so an uncommitted slice dir is structurally invisible. */
  private[ops] def liveSlices(spark: SparkSession, stateDir: String): Seq[String] =
    stateHeader(spark, stateDir, "this reader").slices.sorted

  /** Build the persisted pipeline state on the initial corpus:
    * seen-text-hash store, near-dup signature store over the unique-
    * text representatives, eval-gram store, frozen rate table (from
    * the curated pool unless `ratesOverride` supplies a shipped plan —
    * the spec's parity hook), frozen BPE model fit on the kept pool,
    * and the build's own shard slice. One corpus text pass per store
    * projection; every cross-slice structure is hashes, never text. */
  def buildPretrainState(spark: SparkSession, docs: DataFrame, stateDir: String,
                         ratesOverride: Option[DataFrame] = None): Unit = {
    val d = Scale.pin(docs.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")))
    // loud empty-corpus guard (the quantizerDrift doctrine): without
    // it the build dies at the header's max(doc_id) with an opaque
    // ROW_VALUE_IS_NULL after writing half a state dir
    require(!d.isEmpty,
      s"buildPretrainState called on an empty corpus for $stateDir — " +
        "a pipeline state needs at least one document (check the " +
        "build/slice split)")
    val th = d.select(col("doc_id"), xxhash64(col("text")).as("th"))
    val build = "slice_00000_build"
    Relational.writeParquet(th.select(col("th")).distinct(), s"$stateDir/seen_th/$build")
    // exact-dup canonicals double as the unique-text representatives
    // the near-dup store indexes (both are min-id-per-text)
    val keepers = th.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).localCheckpoint()
    Similarity.buildNearDupIndex(spark,
      d.join(keepers, Seq("doc_id"), "left_semi").select(col("doc_id"), col("text")),
      s"$stateDir/neardup")
    val losers = Similarity.nearDupIndexPairs(spark, s"$stateDir/neardup")
      .select(col("db").as("doc_id"))
    Relational.writeParquet(Curation.gramHashes(spark, d.filter(col("doc_id") % 20 === 0))
      .select(col("gram_h")).distinct(), s"$stateDir/evalgrams/$build")
    val evalGrams = stateStore(spark, stateDir, "evalgrams", Seq(build))
    val train = d.filter(col("doc_id") % 20 =!= 0)
    // the pre-gate curated pool — the mixture plan freezes over it
    // (rates are pool statistics: c18 feeding c34); this is
    // monotonePool WITHOUT the gate, kept inline because the gate-free
    // form exists only here
    val curated = Pipeline.qualityOn(train).filter(col("quality") >= 0.7)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(Curation.gramHashes(spark, train)
        .join(broadcast(evalGrams), Seq("gram_h"))
        .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val rates = ratesOverride.getOrElse(
      Curation.mixWeightsOn(curated).select(col("lang"), col("source"), col("sample_rate")))
    rates.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/rates")
    val kept = curated
      .join(broadcast(Relational.cachedSchemaParquet(spark, s"$stateDir/rates")), Seq("lang", "source"))
      .where(Curation.lehmerHash(col("doc_id")) <
        expr("cast(floor(sample_rate * cast(1000003 as double)) as bigint)"))
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .localCheckpoint()
    fitBpe(spark, kept, s"$stateDir/bpe", bpeMerges(spark), bpeMaxWords(spark))
    val slice = writeSliceShards(spark, stateDir, kept, "00000_build")
    commitState(spark, stateDir)(_ => StateHeader(
      d.agg(max(col("doc_id"))).head().getLong(0), slice.toSeq, Seq(build), Seq(build), Nil, Nil))
  }

  /** Flow one arrival slice through the persisted state: probe the
    * seen-text and near-dup stores, append the slice's eval grams,
    * curate + gate against the FROZEN rates, encode with the FROZEN
    * BPE model, append a shard slice, advance the id watermark —
    * Θ(slice + store-probe) work, the old corpus' text never read.
    * Idempotent under `sliceId` replay: one state header commit after
    * every store append records the slice (see the crash contract
    * above). An empty slice is a no-op — streaming replay can deliver
    * one, even before the state exists — and needs no record. */
  def ingestPretrainSlice(spark: SparkSession, stateDir: String,
                          slice: DataFrame, sliceId: String): Unit = {
    val tag = sliceId.replaceAll("[^A-Za-z0-9._-]", "_")
    val live = IndexMeta.headerOpt(spark, stateDir, "state", "slice ingest", stateRebuild,
      stateLayout)
      .map(parseState)
    if (live.exists(_.applied.contains(tag))) return
    val d = Scale.pin(slice.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")))
    val mm = d.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (mm.isNullAt(0)) return
    // a non-empty slice needs the state: refuse with the contract error
    val st = live.getOrElse(
      IndexMeta.noCommittedGen(stateDir, "state", "slice ingest", stateRebuild))
    val prevMax = st.maxDocId
    require(mm.getLong(0) > prevMax,
      s"arrival slice carries doc_id ${mm.getLong(0)} ≤ the state's id " +
        s"watermark $prevMax — slices must arrive in id order (the " +
        "crawl-time model that makes first-seen ≡ lowest-id; an " +
        "out-of-order slice would break exact/near-dup canonicalization)")
    // exact-dup against the store: slice hashes broadcast, the store
    // scan is map-only (the c12/c27 probe doctrine) — seenHit is the
    // slice-bounded intersection, then keepers are min-id per NEW text
    val th = d.select(col("doc_id"), xxhash64(col("text")).as("th"))
    val seenHit = stateStore(spark, stateDir, "seen_th", st.seenTh)
      .join(broadcast(th.select(col("th")).distinct()), Seq("th"), "left_semi")
      .distinct().localCheckpoint()
    val newTh = th.join(broadcast(seenHit), Seq("th"), "left_anti")
    val keepers = newTh.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).localCheckpoint()
    // near-dup: append the slice's representatives to the c27 store
    // (probes build + earlier slices + itself; pairs/ stays complete),
    // then losers are simply every pair's higher-id side
    Similarity.appendToNearDupIndex(spark, s"$stateDir/neardup",
      d.join(keepers, Seq("doc_id"), "left_semi").select(col("doc_id"), col("text")),
      Some(s"c33b_$tag"))
    val losers = Similarity.nearDupIndexPairs(spark, s"$stateDir/neardup")
      .select(col("db").as("doc_id"))
    // eval docs in the slice extend the benchmark suite for THIS and
    // future slices (build-phase selections are already shipped — the
    // documented late-contamination class)
    val delta = s"slice_$tag"
    Relational.writeParquet(Curation.gramHashes(spark, d.filter(col("doc_id") % 20 === 0))
      .select(col("gram_h")).distinct(), s"$stateDir/evalgrams/$delta")
    val evalGrams = st.evalGrams :+ delta
    val kept = monotonePool(d.filter(col("doc_id") % 20 =!= 0), keepers, losers,
      stateStore(spark, stateDir, "evalgrams", evalGrams),
      Relational.cachedSchemaParquet(spark, s"$stateDir/rates"))
      .localCheckpoint()
    // tokenizer-drift telemetry per arrival (the lex-oov line's twin):
    // measured on the RAW slice, not the survivors — drift is a
    // property of what arrives, and the quality gate must not mask it.
    // The encode Column is built ONCE per ingest (one driver read of
    // the frozen merges) and shared with the shard write below
    val toksCol = bpeTokensCol(spark, s"$stateDir/bpe")
    System.err.println(f"[bpe-oov] $stateDir slice=$tag " +
      f"oov_frac=${bpeOovFraction(spark, s"$stateDir/bpe", d, Some(toksCol))}%.4f")
    val name = writeSliceShards(spark, stateDir, kept, tag, Some(toksCol))
    Relational.writeParquet(newTh.select(col("th")).distinct(), s"$stateDir/seen_th/$delta")
    commitState(spark, stateDir)(_ => st.copy(maxDocId = mm.getLong(1), slices = st.slices ++ name,
      seenTh = st.seenTh :+ delta, evalGrams = evalGrams, applied = st.applied :+ tag))
  }

  /** Per-shard census of every LIVE shard slice — doc counts, kept
    * chars, and an order-insensitive md5 over the sorted doc_id list
    * (slices are unordered by design; within-slice file order is
    * c25b's pinned pos order). Slices resolve through the state
    * header (never a disk listing — uncommitted dirs are invisible)
    * and tombstoned docs are anti-joined out, so a takedown is
    * visible to the next reader immediately, before any compaction
    * has run (the c43e visibility contract on the shard tree). The
    * registry answer. */
  def readPretrainShards(spark: SparkSession, stateDir: String): DataFrame = {
    val st = stateHeader(spark, stateDir, "this reader")
    val names = st.slices.sorted
    require(names.nonEmpty, s"no shard slices under $stateDir")
    val all = names.map(n => Relational.cachedSchemaParquet(spark, s"$stateDir/shards/$n"))
      .reduce(_.unionByName(_))
    val live = IndexMeta.tombstones(spark, s"$stateDir/shards", st.tombstones) match {
      case Some(t) => all.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => all
    }
    live
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(doc_id)), i -> cast(i as string))")))
          .as("doc_md5"))
      .orderBy("shard")
  }

  /** C33d — pretrain-state TAKEDOWN, tombstone half (the
    * [[Pipeline.deleteLexDocs]] discipline on the shipped training
    * data): the doc ids land in one tombstone delta that the next
    * state header names ([[IndexMeta.commitTombstones]] — O(deletes),
    * no slice rewrite); every census/read anti-joins the broadcast
    * tombstones, so the doc is invisible to the next reader
    * immediately; [[compactPretrainShards]] later removes the BYTES
    * (the compliance surface — shard files carry raw text). Only ids
    * actually SHIPPED are recorded, so a takedown of never-kept or
    * already-removed ids commits nothing. Deliberately NOT touched:
    * the curation stores. seen_th
    * keeps the doc's text hash, so an identical re-crawl of taken-down
    * content stays OUT of future slices (banned content remains
    * banned — the compliance-correct default, and the opposite of the
    * lexical store's re-insertable-after-compaction contract, where
    * the deleted thing is an index entry, not shipped content); the
    * near-dup and eval-gram stores likewise keep their signatures
    * (hashes of banned text suppress its near-duplicates — desired). */
  def tombstonePretrainDocs(spark: SparkSession, stateDir: String,
      ids: DataFrame): Unit = {
    val st = stateHeader(spark, stateDir, "takedowns") // loud not-a-state guard
    // the shipped probe is a semi-join against the live tree's narrow
    // doc_id projection: one map-only column scan, the same price the
    // census already pays
    val shipped = st.slices.map(n =>
        Relational.cachedSchemaParquet(spark, s"$stateDir/shards/$n").select(col("doc_id")))
      .reduce(_.unionByName(_))
    IndexMeta.commitTombstones(spark, s"$stateDir/shards", st.tombstones,
      ids.select(col("doc_id")).join(shipped, Seq("doc_id"), "left_semi")) { write =>
      commitState(spark, stateDir)(g => st.copy(tombstones = st.tombstones :+ write(g)))
    }
  }

  /** C33d — takedown compaction: make tombstones physical. Affected
    * slices (found with ONE distributed semi-join over the narrow
    * doc_id projection of the live tree — never a per-slice probe
    * loop) are rewritten WITHOUT the tombstoned rows to NEW dir names
    * and the next state header swaps them in atomically; untouched
    * slices ride through verbatim (Θ(affected slices), not
    * state-bounded). The new header names no tombstone delta, and
    * orphan/superseded slice dirs and deltas GC only AFTER it commits —
    * a crash anywhere leaves either the old header (rewrites orphaned,
    * swept later) or the new one (delete already durable). The no-op
    * path (no tombstones) still sweeps orphan dirs (shard, seen-hash
    * and eval-gram slices, deltas), the lex compaction doctrine.
    * Slice-local pos values keep their original gaps — pos orders a
    * slice, it does not number it. */
  def compactPretrainShards(spark: SparkSession, stateDir: String): Unit = {
    val root = s"$stateDir/shards"
    val st = stateHeader(spark, stateDir, "compaction")
    val names = st.slices.sorted
    val tombOpt = IndexMeta.tombstones(spark, root, st.tombstones)
    if (tombOpt.isEmpty) { gcState(spark, stateDir, st); return }
    val tombIds = broadcast(tombOpt.get)
    val affected = names.map(n =>
        Relational.cachedSchemaParquet(spark, s"$root/$n").select(col("doc_id"))
          .withColumn("s", lit(n)))
      .reduce(_.unionByName(_))
      .join(tombIds, Seq("doc_id"), "left_semi")
      .select(col("s")).distinct().collect().map(_.getString(0)).toSet
    // rewritten dirs are SUFFIXED with the next state generation
    // number — deterministic, unique per compaction, and never equal
    // to a live name (readers keep resolving the old tree until the
    // commit below)
    val genTag = IndexMeta.nextGen(spark, stateDir, "state")._1
      .split('.').last // "gNNNNN"
    val renamed = names.flatMap { n =>
      if (!affected(n)) Some(n)
      else {
        val nn = s"$n.$genTag"
        val kept = Relational.cachedSchemaParquet(spark, s"$root/$n")
          .join(tombIds, Seq("doc_id"), "left_anti")
          .localCheckpoint() // slice-bounded; the empty probe AND the write
        // a slice whose EVERY doc was taken down (whole-crawl-batch
        // recall) leaves the header entirely — committing a fileless
        // dir would make every later read throw on schema inference
        if (kept.isEmpty) None
        else {
          kept.repartition(col("shard"), col("part"))
            .sortWithinPartitions("shard", "part", "pos")
            .write.mode("overwrite").partitionBy("shard", "part")
            .parquet(s"$root/$nn")
          Some(nn)
        }
      }
    }
    require(renamed.nonEmpty,
      s"takedown removed every live slice under $stateDir — an empty " +
        "state has no census; rebuild instead of compacting to nothing")
    commitState(spark, stateDir)(_ => st.copy(slices = renamed, tombstones = Nil))
  }

  /** C33d registry wrapper — the takedown path on the capstone state:
    * build on the full corpus, tombstone the doc_id % 10 = 7 slice of
    * the SHIPPED docs, compact (bytes physically gone), answer from
    * the re-read census. Rows-only in the driver gate (BPE- and
    * store-dependent, the c33b convention); the spec pins immediate
    * tombstone visibility, physical removal from every live file,
    * census invariance across the compaction, and the
    * banned-content-stays-banned ingest interaction. */
  def pretrainTakedownQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val st = Similarity.freshScratch(spark, s"graft_c33d_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    buildPretrainState(spark, docs, st)
    tombstonePretrainDocs(spark, st,
      docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
    compactPretrainShards(spark, st)
    readPretrainShards(spark, st)
  }

  /** C33b registry wrapper: build on the first 90% of the id range,
    * ingest two consecutive 5% slices (the second probes state the
    * first appended — the multi-slice proof), answer from the re-read
    * shard slices. Chain output is BPE-dependent (frozen-model encode)
    * and store-dependent → rows-only in the driver gate; the spec
    * carries union-equivalence vs the batch twin. */
  def pretrainIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val st = Similarity.freshScratch(spark, s"graft_c33b_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (t1, t2) = (maxId * 90 / 100, maxId * 95 / 100)
    buildPretrainState(spark, docs.filter(col("doc_id") <= t1), st)
    ingestPretrainSlice(spark, st,
      docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), "s1")
    ingestPretrainSlice(spark, st, docs.filter(col("doc_id") > t2), "s2")
    readPretrainShards(spark, st)
  }

  /** C33c — STREAMING pretrain ingest (the c43f/c42c/c22d foreachBatch
    * doctrine on the capstone chain, closing the family symmetry:
    * every store-backed deployment now has an exactly-once streaming
    * leg). Arrivals replay one id-range slice per trigger; each
    * micro-batch makes ONE sliceId-idempotent [[ingestPretrainSlice]]
    * call with the [[StreamHarness]] batch key as its slice id, so a
    * crashed batch replays into the documented no-op. Slice order is
    * the stager's id order — exactly the in-id-order arrival model the
    * watermark guard enforces (a real deployment's crawl feed has the
    * same property: ids are assigned at crawl time). Every store the
    * slice touches (seen-hash, near-dup, eval grams, shard slices)
    * commits through its own append protocol, so a reader mid-stream
    * sees consistent store snapshots. */
  private[graft] def pretrainIngestStreamOn(spark: SparkSession, stateDir: String,
      arrivals: DataFrame, name: String,
      nSlices: Int = Relational.replaySlices): Unit =
    StreamHarness.run(spark, name, arrivals.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")), col("doc_id"), nSlices) { b =>
      ingestPretrainSlice(spark, stateDir, b.df, b.key)
      StreamHarness.NoBound
    }

  /** C33c registry wrapper — build the pipeline state on the first 90%
    * of the id range, STREAM the last 10% through the persisted
    * curation state in micro-batches, answer from the re-read shard
    * census. Spec pins the streamed state ≡ the slice-wise one-shot
    * ingest at the same slice boundaries, kept-id for kept-id and
    * shard for shard. Rows-only in the driver gate (BPE- and
    * store-dependent, the c33b convention). */
  def pretrainStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val st = Similarity.freshScratch(spark, s"graft_c33c_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val t1 = maxId * 90 / 100
    buildPretrainState(spark, docs.filter(col("doc_id") <= t1), st)
    pretrainIngestStreamOn(spark, st, docs.filter(col("doc_id") > t1),
      s"graft_c33c_$key")
    readPretrainShards(spark, st)
  }

  /** Steady-state soak leg for the pretrain chain (the
    * [[Pipeline.lexSteadyState]] shape): build the state on the FIRST
    * 95% of the id range — id-ordered, not modulus-split, because the
    * watermark guard enforces crawl order — then stream ONLY the top
    * 5% in `nBatches` micro-batches, each `[stream-batch]`/`[bpe-oov]`
    * stderr line pricing one arrival at fixed state scale; answer the
    * shard census from the soaked state. */
  def pretrainSteadyState(spark: SparkSession, dir: String,
      nBatches: Int): (DataFrame, String) = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val st = Similarity.freshScratch(spark, s"graft_pre_steady_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId * 95 / 100
    buildPretrainState(spark, docs.filter(col("doc_id") <= cut), st)
    pretrainIngestStreamOn(spark, st, docs.filter(col("doc_id") > cut),
      s"graft_steady_pre_$key", nBatches)
    (readPretrainShards(spark, st), st)
  }

  /** Live slice-dir count — the soak census. One dir per build/ingest:
    * the crawl-dated layout ACCUMULATES by design (a training loader
    * wants the slice tree; only takedown compaction rewrites dirs), so
    * this census REPORTS, it does not bound. */
  def pretrainSliceCount(spark: SparkSession, stateDir: String): Long =
    liveSlices(spark, stateDir).size.toLong

  // ------------------------------ C35 span-level decontamination

  /** C35 — span-level decontamination: locate every maximal region of
    * ≥ `graft.span.tokens` tokens in a TRAINING document that appears
    * VERBATIM anywhere in the eval set (doc_id % 20 == 0, the c12
    * split convention). c12 counts shared 13-grams per doc — the flag;
    * this op answers the follow-up a pipeline acts on: WHERE the
    * contamination sits, as merged (span_lo, span_hi) token intervals,
    * so the c23b gap-slicer can excise the span instead of dropping
    * the whole document (the GPT-3-appendix / Lee-et-al practice).
    * Window hashing at every offset is exactly [[dedupSpan]]'s kernel,
    * aimed cross-table; the interval fold is the same sorted-starts
    * island merge (extend iff the next start is within w).
    *
    * Scale shape: an eval suite is thousands of documents against a
    * 100 TB corpus — the distinct eval window-hash set BROADCASTS (the
    * c12 gram-broadcast doctrine) and the training pass is map-only:
    * scan → hash windows → broadcast-probe; only matched (doc_id,
    * wpos) longs reach the per-doc interval aggregate. Training text
    * never shuffles. */
  def decontaminateSpan(spark: SparkSession, dir: String): DataFrame =
    decontamSpanOn(Relational.table(spark, dir, "documents"))

  /** The c35 localization over any (doc_id, text) frame — spec entry. */
  private[graft] def decontamSpanOn(df: DataFrame): DataFrame = {
    val w = effectiveSpanTokens(df.sparkSession)
    val evalH = spanWindows(df.filter(col("doc_id") % 20 === 0), w)
      .select(col("h")).distinct()
    coveredIntervals(
        spanWindows(df.filter(col("doc_id") % 20 =!= 0), w)
          .join(broadcast(evalH), Seq("h")), w)
      .select(col("doc_id"), explode(arrays_zip(col("ivlo"), col("ivhi"))).as("iv"))
      .select(col("doc_id"), col("iv.ivlo").cast("int").as("span_lo"),
        col("iv.ivhi").cast("int").as("span_hi"))
      .orderBy("doc_id", "span_lo")
  }

  /** C35b — span EXCISION: the actionable tail of c35. Every training
    * document is emitted with its contaminated spans cut out by the
    * c23b gap-slicer (clean docs pass through whole) — the surgical
    * alternative to dropping a 100k-token book because one eval
    * paragraph appears in it. Output shape mirrors c23b:
    * (doc_id, n_tokens, n_kept, kept_md5). Same scale shape as c35
    * (broadcast eval hashes, map-only training pass) plus the O(L)
    * reconstruction join. */
  def decontaminateExcise(spark: SparkSession, dir: String): DataFrame =
    decontamExciseOn(Relational.table(spark, dir, "documents"))

  /** The c35b excision over any (doc_id, text) frame — spec entry. */
  private[graft] def decontamExciseOn(df: DataFrame): DataFrame = {
    val w = effectiveSpanTokens(df.sparkSession)
    val evalH = spanWindows(df.filter(col("doc_id") % 20 === 0), w)
      .select(col("h")).distinct()
    val train = df.filter(col("doc_id") % 20 =!= 0)
    gapSliceKept(train,
      coveredIntervals(spanWindows(train, w).join(broadcast(evalH), Seq("h")), w))
  }

  /** The c35b excision of `train` against an EXPLICIT eval frame,
    * emitting the kept TEXT — the consumable form the c33 composition
    * feeds to the tokenizer/packer/sharder (the md5 form above is the
    * audit answer; a pipeline needs the remainder itself). Same scale
    * shape: eval hashes broadcast, train pass map-only, O(L) gap-slice
    * reconstruction. */
  private[graft] def decontamExciseTextAgainst(train: DataFrame,
                                               evalDocs: DataFrame): DataFrame = {
    val w = effectiveSpanTokens(train.sparkSession)
    val evalH = spanWindows(evalDocs, w).select(col("h")).distinct()
    gapSliceCore(train,
        coveredIntervals(spanWindows(train, w).join(broadcast(evalH), Seq("h")), w))
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // --------------------------------------- C36 overlapping chunking

  /** Chunk window (tokens) and stride for c36. Stride < window gives
    * the 4-token overlap retrieval chunking wants (a fact straddling a
    * cut appears whole in the next chunk); 12/8 yields 3–12 chunks on
    * the 20–90-token synthetic docs — the same corpus-fit reasoning as
    * [[chunkTokens]]. */
  private[graft] val chunkWin = 12
  private[graft] val chunkStride = 8

  /** C36 — overlapping passage chunking: slice each document into
    * fixed-width token windows at a fixed stride (window > stride ⇒
    * adjacent chunks OVERLAP), emitting (doc_id, chunk_ix, start,
    * n_tok, chunk_md5). This is the retrieval/embedding counterpart of
    * c23's disjoint chunks — the unit a RAG index or an embedding
    * model actually consumes, with provenance (doc_id, start) carried
    * so a retrieved chunk maps back to its source span. The tail chunk
    * is kept short rather than dropped (slice clamps): provenance
    * cover must be TOTAL — every token of every document lands in at
    * least one chunk.
    *
    * Scale shape: map-only — tokenize, enumerate starts
    * (`sequence(0, n−1, stride)`), slice per start; the explode
    * multiplies rows ~(n/stride)× but no shuffle exists anywhere
    * except the output-order sort. Emitting md5 fingerprints rather
    * than chunk text keeps the output row narrow (the c23 hash-key
    * doctrine); a consumer that wants text re-slices by (doc_id,
    * start) on its own partition-local copy. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkOverlapOn(Relational.table(spark, dir, "documents"))

  /** The c36 chunking over any (doc_id, text) frame — spec entry. */
  private[graft] def chunkOverlapOn(docs: DataFrame): DataFrame =
    Scale.sizeForCompute(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr(s"sequence(0, size(toks) - 1, $chunkStride)")))
      .withColumnRenamed("pos", "chunk_ix")
      .withColumnRenamed("col", "start")
      .withColumn("chunk", expr(s"slice(toks, start + 1, $chunkWin)"))
      .select(col("doc_id"), col("chunk_ix"), col("start"),
        size(col("chunk")).as("n_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_ix")

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c33_pretrain_e2e" -> (pretrainE2E _),
    "c33b_pretrain_incremental" -> (pretrainIncrementalQuery _),
    "c33c_pretrain_stream" -> (pretrainStreamQuery _),
    "c33d_pretrain_takedown" -> (pretrainTakedownQuery _),
    "c36_chunk_overlap" -> (chunkOverlap _),
    "c23_dedup_passage" -> (dedupPassage _),
    "c23b_dedup_span" -> (dedupSpan _),
    "c35_decontaminate_span" -> (decontaminateSpan _),
    "c35b_decontaminate_excise" -> (decontaminateExcise _),
    "c24_doc_logprob" -> (docLogprob _),
    "c24b_doc_logprob_lm" -> (docLogprobLm _),
    "c25_shard_shuffle" -> (shardShuffle _),
    "c25b_shard_write" -> (shardWriteQuery _),
    "c32_tokenize_bpe" -> (tokenizeBpeQuery _),
    "c32b_bpe_roundtrip" -> (bpeRoundtripQuery _))

  // a def, not a val: the c25 entry embeds the session's EFFECTIVE
  // shard count at dump time (c15 contract)
  def oracleSql: Map[String, String] = Map(
    // the roundtrip identity IS the oracle: decode(encodeIds(text))
    // must hash-equal the raw text — BPE itself is not SQL-expressible
    // but its LOSSLESSNESS is, which is the property a loader needs
    "c32b_bpe_roundtrip" ->
      """SELECT doc_id, md5(text) AS rt_md5, CAST(0 AS INTEGER) AS n_oov
        |FROM documents WHERE doc_id % 20 = 7 ORDER BY doc_id""".stripMargin,
    // list slicing clamps at the list end in both engines, so the
    // short tail chunk needs no explicit bound
    "c36_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |e AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, len(toks) - 1, $chunkStride)) AS start FROM t),
         |c AS (SELECT doc_id, start // $chunkStride AS chunk_ix, start,
         |    toks[(start + 1):(start + $chunkWin)] AS chunk FROM e)
         |SELECT doc_id, chunk_ix, start, len(chunk) AS n_tok,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_ix""".stripMargin,
    // the oracle groups/joins on chunk STRINGS; equality with the
    // hashed Spark path holds absent xxhash64 collisions
    "c23_dedup_passage" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ch0 AS (SELECT doc_id, t,
         |    unnest(generate_series(0, (len(t) - 1) // $chunkTokens)) AS pos FROM t),
         |ch AS (SELECT doc_id, pos,
         |    array_to_string(t[(pos * $chunkTokens + 1):(pos * $chunkTokens + $chunkTokens)], ' ') AS chunk
         |  FROM ch0),
         |dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) > 1),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY pos) AS kept_text
         |  FROM ch WHERE chunk NOT IN (SELECT chunk FROM dup) GROUP BY doc_id),
         |na AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
         |SELECT na.doc_id, n_chunks, coalesce(n_kept, 0) AS n_kept,
         |  md5(coalesce(kept_text, '')) AS kept_md5
         |FROM na LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    // c35: the oracle joins on window STRINGS (the c23 convention);
    // islands via the standard lag/sum fold — break when the next
    // start exceeds predecessor + w (same merge rule as the Spark fold)
    "c35_decontaminate_span" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, i,
         |    array_to_string(toks[i+1:i+$activeSpanTokens], ' ') AS win
         |  FROM t, UNNEST(range(len(toks) - ${activeSpanTokens - 1})) AS u(i)
         |  WHERE len(toks) >= $activeSpanTokens),
         |ev AS (SELECT DISTINCT win FROM w WHERE doc_id % 20 = 0),
         |hit AS (SELECT DISTINCT w.doc_id, w.i FROM w JOIN ev USING (win)
         |  WHERE w.doc_id % 20 != 0),
         |brk AS (SELECT doc_id, i,
         |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
         |           OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + $activeSpanTokens
         |         THEN 1 ELSE 0 END AS b
         |  FROM hit),
         |grp AS (SELECT doc_id, i,
         |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM brk)
         |SELECT doc_id, cast(min(i) as int) AS span_lo,
         |  cast(max(i) + ${activeSpanTokens - 1} as int) AS span_hi
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_lo""".stripMargin,
    // c35b: the c23b reconstruction oracle with the dup set replaced by
    // eval-matched windows; eval docs are excluded from the output
    "c35b_decontaminate_excise" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 20 != 0),
         |te AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, i,
         |    array_to_string(toks[i+1:i+$activeSpanTokens], ' ') AS win
         |  FROM te, UNNEST(range(len(toks) - ${activeSpanTokens - 1})) AS u(i)
         |  WHERE len(toks) >= $activeSpanTokens),
         |ev AS (SELECT DISTINCT win FROM w WHERE doc_id % 20 = 0),
         |cov AS (SELECT doc_id, list(DISTINCT p) AS cov
         |  FROM (SELECT w.doc_id, c.p FROM w JOIN ev USING (win),
         |        UNNEST(range(w.i, w.i + $activeSpanTokens)) AS c(p)
         |        WHERE w.doc_id % 20 != 0)
         |  GROUP BY doc_id),
         |k AS (SELECT t.doc_id, toks,
         |    CASE WHEN cov IS NULL THEN toks
         |         ELSE list_transform(
         |                list_filter(list_transform(range(len(toks)),
         |                              i -> {'i': i, 'tk': toks[i+1]}),
         |                            s -> NOT list_contains(cov, s.i)),
         |                s -> s.tk) END AS kept
         |  FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id)
         |SELECT doc_id, len(toks) AS n_tokens, len(kept) AS n_kept,
         |  md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
         |FROM k ORDER BY doc_id""".stripMargin,
    "c23b_dedup_span" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, i,
         |    array_to_string(toks[i+1:i+$activeSpanTokens], ' ') AS win
         |  FROM t, UNNEST(range(len(toks) - ${activeSpanTokens - 1})) AS u(i)
         |  WHERE len(toks) >= $activeSpanTokens),
         |dup AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
         |cov AS (SELECT doc_id, list(DISTINCT p) AS cov
         |  FROM (SELECT w.doc_id, c.p FROM w JOIN dup USING (win),
         |        UNNEST(range(w.i, w.i + $activeSpanTokens)) AS c(p))
         |  GROUP BY doc_id),
         |k AS (SELECT t.doc_id, toks,
         |    CASE WHEN cov IS NULL THEN toks
         |         ELSE list_transform(
         |                list_filter(list_transform(range(len(toks)),
         |                              i -> {'i': i, 'tk': toks[i+1]}),
         |                            s -> NOT list_contains(cov, s.i)),
         |                s -> s.tk) END AS kept
         |  FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id)
         |SELECT doc_id, len(toks) AS n_tokens, len(kept) AS n_kept,
         |  md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
         |FROM k ORDER BY doc_id""".stripMargin,
    "c24_doc_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS n_total FROM vocab),
        |scored AS (SELECT tok,
        |    cast(round(-ln(cnt * 1.0 / n_total) * 1000000, 0) as bigint) AS nll
        |  FROM vocab, tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(nll) / 1000000.0 / count(*), 4) AS avg_nll
        |FROM toks JOIN scored USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "c24b_doc_logprob_lm" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 20 != 7),
        |held AS (SELECT * FROM documents WHERE doc_id % 20 = 7),
        |toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM train),
        |vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS n_total FROM vocab),
        |lm AS (SELECT tok,
        |    cast(round(-ln(cnt * 1.0 / n_total) * 1000000, 0) as bigint) AS nll
        |  FROM vocab, tot),
        |oov AS (SELECT cast(round(ln(n_total) * 1000000, 0) as bigint) AS nll FROM tot),
        |htoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM held)
        |SELECT h.doc_id, count(*) AS n_tokens,
        |  round(sum(coalesce(lm.nll, (SELECT nll FROM oov))) / 1000000.0 / count(*), 4) AS avg_nll
        |FROM htoks h LEFT JOIN lm USING (tok)
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,
    "c25_shard_shuffle" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    md5(concat('shard:', cast(doc_id as varchar))) AS k FROM documents),
         |s AS (SELECT doc_id, n_chars, k, ${shardExpr(activeShardCount)} AS shard FROM t)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos,
         |  cast(sum(n_chars) OVER (PARTITION BY shard ORDER BY k, doc_id
         |    ROWS UNBOUNDED PRECEDING) as bigint) AS cum_chars
         |FROM s ORDER BY shard, pos""".stripMargin,
    // same plan as c25, then each doc's START offset cuts parts at the
    // char budget; the Spark side answers from the WRITTEN files
    "c25b_shard_write" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    md5(concat('shard:', cast(doc_id as varchar))) AS k FROM documents),
         |s AS (SELECT doc_id, n_chars, k, ${shardExpr(activeShardCount)} AS shard FROM t),
         |p AS (SELECT doc_id, n_chars, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos,
         |    cast(sum(n_chars) OVER (PARTITION BY shard ORDER BY k, doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_chars as bigint) AS start FROM s)
         |SELECT shard, start // $activeMaxShardChars AS part,
         |  count(*) AS n_docs, cast(sum(n_chars) as bigint) AS chars,
         |  md5(string_agg(cast(doc_id as varchar), ',' ORDER BY pos)) AS doc_md5
         |FROM p GROUP BY shard, part ORDER BY shard, part""".stripMargin,
    // the c31 stage-oracle CTE chain (ending at `r`) extended with the
    // c37 closure gate, the c35b kept-text reconstruction, and the
    // c25/c25b shard SQL over the KEPT lengths — the chained
    // whole-pipeline oracle (stage-oracle composition, the c31
    // doctrine). The closure here is CONTRACTED to unique-text reps
    // (keepers): Jaccard depends only on text, so exact-copy groups
    // are cliques whose component structure equals the rep graph's,
    // and min doc_id per component = min rep id (each rep IS its
    // group's min) — identical labels to the c37 full-closure oracle.
    // The contraction is a NECESSITY, not a nicety: at sf1 the
    // composed query with the doc-level recursion spilled DuckDB past
    // 55 GB of temp (the planner re-derives the pair join inside the
    // recursion when the surrounding chain is large enough), while
    // the rep-level recursion's subtree is unique-texts-sized and
    // cheap even fully inlined per iteration.
    "c33_pretrain_e2e" ->
      s"""WITH RECURSIVE ${Pipeline.curateCtes},
         |rex AS (SELECT ex.doc_id, ex.s FROM ex JOIN keepers USING (doc_id)),
         |rpairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM rex a JOIN rex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |rnp AS (SELECT da, db FROM rpairs
         |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
         |redges AS (SELECT da AS src, db AS dst FROM rnp UNION ALL SELECT db, da FROM rnp),
         |rreach AS (
         |  SELECT src AS id, src AS node FROM redges
         |  UNION
         |  SELECT r2.id, e.dst FROM rreach r2 JOIN redges e ON r2.node = e.src),
         |rlabels AS (SELECT id AS rep, min(node) AS rcluster FROM rreach GROUP BY id),
         |grp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep,
         |    count(*) OVER (PARTITION BY text) AS gcnt FROM documents),
         |labels AS (SELECT g.doc_id, coalesce(rl.rcluster, g.rep) AS cluster_id
         |  FROM grp g LEFT JOIN rlabels rl ON g.rep = rl.rep
         |  WHERE g.gcnt > 1 OR rl.rep IS NOT NULL),
         |survivors AS (SELECT doc_id FROM r WHERE rank <= ${Curation.sourceCap}),
         |trainpool AS (SELECT s0.doc_id FROM survivors s0 LEFT JOIN labels l USING (doc_id)
         |  WHERE ${Curation.lehmerSql("coalesce(l.cluster_id, s0.doc_id)")} >= ${Curation.evalThresh}),
         |tt AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
         |  FROM documents d JOIN trainpool USING (doc_id)),
         |evw AS (SELECT DISTINCT array_to_string(toks[i+1:i+$activeSpanTokens], ' ') AS win
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
         |        WHERE doc_id % 20 = 0) te,
         |       UNNEST(range(len(toks) - ${activeSpanTokens - 1})) AS u(i)
         |  WHERE len(toks) >= $activeSpanTokens),
         |wt AS (SELECT doc_id, i,
         |    array_to_string(toks[i+1:i+$activeSpanTokens], ' ') AS win
         |  FROM tt, UNNEST(range(len(toks) - ${activeSpanTokens - 1})) AS u(i)
         |  WHERE len(toks) >= $activeSpanTokens),
         |cov AS (SELECT doc_id, list(DISTINCT p) AS cov
         |  FROM (SELECT wt.doc_id, c.p FROM wt JOIN evw USING (win),
         |        UNNEST(range(wt.i, wt.i + $activeSpanTokens)) AS c(p))
         |  GROUP BY doc_id),
         |kx AS (SELECT tt.doc_id,
         |    CASE WHEN cov IS NULL THEN toks
         |         ELSE list_transform(
         |                list_filter(list_transform(range(len(toks)),
         |                              i -> {'i': i, 'tk': toks[i+1]}),
         |                            s -> NOT list_contains(cov, s.i)),
         |                s -> s.tk) END AS kept
         |  FROM tt LEFT JOIN cov ON tt.doc_id = cov.doc_id),
         |t AS (SELECT doc_id,
         |    len(array_to_string(kept, ' ')) AS n_chars,
         |    md5(concat('shard:', cast(doc_id as varchar))) AS k
         |  FROM kx),
         |s AS (SELECT doc_id, n_chars, k, ${shardExpr(activeShardCount)} AS shard FROM t),
         |p AS (SELECT doc_id, n_chars, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos,
         |    cast(sum(n_chars) OVER (PARTITION BY shard ORDER BY k, doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_chars as bigint) AS start FROM s)
         |SELECT shard, start // $activeMaxShardChars AS part,
         |  count(*) AS n_docs, cast(sum(n_chars) as bigint) AS chars,
         |  md5(string_agg(cast(doc_id as varchar), ',' ORDER BY pos)) AS doc_md5
         |FROM p GROUP BY shard, part ORDER BY shard, part""".stripMargin)
}
