package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.OrcIO

/**
 * Tier C — text analysis + pipeline ops over `documents` (SURVEY §2
 * Tier C): exact dedup, text statistics, quality scoring, token
 * counting, winnowing fingerprints, heuristic language ID, and the
 * multimodal nested-struct roundtrip. All pure DataFrame programs —
 * shuffle-parallel, codegen-friendly (higher-order functions, no UDFs),
 * no driver materialization.
 */
object Pipeline extends LexIndex {

  // C1 — exact dedup: keep the lowest doc_id per identical text
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")

  // C4 — text statistics with a language filter
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        length(col("text")).as("chars"),
        size(split(col("text"), " ")).as("n_tokens"))
      .orderBy("doc_id")

  // C4c — quality scoring: length, stopword ratio, alpha ratio → composite
  private[ops] val stopList = "('the','a','and','of','to','in','is','it')"

  /** The c4 composite quality over any (doc_id, text) frame, unsorted —
    * shared by [[qualityScore]] and the cluster keep-best rule (c14b,
    * `Curation.dedupClusterKeepBest`). Deterministic double arithmetic
    * over integer token counts: identical IEEE ops in Spark and DuckDB,
    * so even ORDERING by the score is engine-portable. */
  private[ops] def qualityOn(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_cnt", expr(s"size(filter(toks, t -> t in $stopList))"))
      .withColumn("quality",
        round(least(col("n_tokens") * lit(1.0) / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("stop_cnt") * lit(1.0) / col("n_tokens")) * 0.5, 4))

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityOn(Relational.table(spark, dir, "documents"))
      .withColumn("alpha_cnt", length(regexp_replace(col("text"), "[^a-z]", "")))
      .select(col("doc_id"),
        round(col("stop_cnt") * lit(1.0) / col("n_tokens"), 4).as("stop_ratio"),
        round(col("alpha_cnt") * lit(1.0) / length(col("text")), 4).as("alpha_ratio"),
        col("quality"))
      .orderBy("doc_id")

  // C4d — token counting: whitespace + BPE-ish regex segmentation.
  // Space (not \s) in the class: Spark SQL literals eat backslashes,
  // DuckDB's don't — a literal-space class parses identically in both.
  private val bpeRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr(s"regexp_extract_all(lower(text), '$bpeRegex', 0)")).as("bpe_tokens"))
      .orderBy("doc_id")

  // C4e — document fingerprint: min-hash winnow over token 3-gram
  // shingles (one md5 per shingle, keep the minimum — a deterministic
  // 1-permutation MinHash usable as a near-dup blocking key)
  // token array bound once as a lambda variable — an aliased `split`
  // column gets inlined by CollapseProject and re-splits per shingle
  // index (the O(tokens²) trap; see Similarity.withShingles)
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .withColumn("fp", expr(
        """transform(array(split(text, ' ')), t ->
          |  CASE WHEN size(t) < 3 THEN md5(text)
          |  ELSE array_min(transform(sequence(0, size(t) - 3),
          |    i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2])))) END)[0]""".stripMargin))
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")

  // C4b — heuristic language ID: CJK char presence → zh, else stopword-
  // profile argmax (deterministic tie-break via struct max). The testdata
  // text is synthetic English-vocab, so `lang` labels are not learnable —
  // the heuristic is exercised on crafted samples in the spec.
  private val langProfiles = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du"),
    "es" -> Seq("el", "de", "y", "que", "en", "los", "se", "una"),
    "de" -> Seq("der", "die", "und", "das", "ein", "zu", "mit", "von"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(Relational.table(spark, dir, "documents"), langProfiles)
      .select(col("doc_id"), col("lang"), col("predicted_lang"))
      .orderBy("doc_id")

  /** Language-ID scoring applied to any DataFrame with a `text` column. */
  def langIdOn(df: DataFrame, profiles: Seq[(String, Seq[String])]): DataFrame = {
    val scoreStructs = profiles.map { case (langCode, words) =>
      val list = words.map(w => s"'$w'").mkString("(", ",", ")")
      s"named_struct('score', size(filter(split(lower(text), ' '), t -> t in $list)), 'lang', '$langCode')"
    }.mkString(", ")
    df
      .withColumn("best", expr(s"array_max(array($scoreStructs))"))
      .withColumn("predicted_lang",
        when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
          .when(col("best.score") > 0, col("best.lang"))
          .otherwise("unknown"))
  }

  // C38 — corpus normalization: Unicode NFC composition (the graft_nfc
  // native expression), control-char → space translation, space-run
  // collapse, trim. The first stage of every real corpus pipeline —
  // byte-level dedup, shingle hashing, and BPE alphabets all assume one
  // spelling per grapheme. The testdata text is ASCII, so the query
  // first DIRTIES it deterministically in-plan (the a8_lenient
  // doctrine): combining acute after every 'e', a leading tab, stray
  // double spaces — then normalizes, and the oracle (DuckDB
  // nfc_normalize) must agree byte-for-byte on the result. Map-only:
  // no shuffle, no join — at 100 TB this is a pure scan-projection
  // pass inside WholeStageCodegen.
  def normalizeCorpus(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // the combining acute rides as a string LITERAL: Spark's chr() is
    // mod-256 ASCII (chr(769) = \x01), unlike DuckDB's codepoint chr —
    // only sub-256 chr() calls are engine-portable
    Relational.table(spark, dir, "documents")
      .withColumn("raw", expr(
        s"concat(chr(9), ' ', regexp_replace(text, 'e', 'e\u0301'), '  ')"))
      .withColumn("norm", expr(
        "trim(regexp_replace(translate(graft_nfc(raw), concat(chr(9), chr(10), chr(13)), '   '), ' +', ' '))"))
      .select(col("doc_id"), col("norm"),
        // composed = accents folded: NFC shortens raw by one codepoint
        // per 'e'+combining pair
        (length(col("raw")) - length(expr("graft_nfc(raw)"))).as("n_composed"))
      .orderBy("doc_id")
  }

  // C40 — corpus TF-IDF: per-document top-3 terms. The ln is quantized
  // to micro-nat BIGINTs the moment it is computed (the c24/c18b
  // doctrine) so every downstream comparison — including the rank
  // ORDER BY — is integer-exact and engine-portable. Shape: explode →
  // partial-agg tf (one shuffle on (doc_id, tok)) → vocab-sized df/idf
  // table joined back (broadcast-able: vocab ≪ corpus) → per-doc
  // window. At 100 TB only (doc_id, tok, count) rows shuffle — short
  // terms, 8-byte counts — never document text.
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_micro", expr(
        """cast(round(ln(cast(n_docs + 1 as double) / cast(dfq + 1 as double))
          |  * cast(1000000 as double), 0) as bigint) + 1000000""".stripMargin))
      .select(col("tok"), col("idf_micro"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("tok"))
    // broadcast boundary (the q8/q19 hint doctrine — the author hint
    // carries the knowledge, the site documents where it stops): the
    // idf table is one row per DISTINCT token; a curated corpus vocab
    // (≤ tens of millions of (tok, bigint) rows, ≲ 1 GB) broadcasts on
    // a 96 GB driver, an uncleaned web-scale token space (billions of
    // typo/number tokens) does not — there, drop the hint and the tok-
    // keyed shuffle join is the honest plan, or pre-filter to a
    // c20-style top-K vocab before joining.
    tf.join(broadcast(idf), "tok")
      .withColumn("score_micro", col("tf") * col("idf_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("score_micro"))
      .orderBy("doc_id", "rnk")
  }

  // C41 — BM25 retrieval (k1 = 1.2, b = 0.75): score the corpus against
  // a fixed query-term set, return the top-10 documents. Determinism
  // doctrine: avgdl never materializes as a double — the score is
  // rewritten over the integer-exact rationals num = 22·S·tf and
  // denom = 10·S·tf + 3·S + 9·dl·N (S = Σ doc lengths, N = #docs; the
  // k1/b constants fold into the 22/10/3/9 coefficients), so the only
  // float ops are one ln (quantized to micro-nats immediately) and one
  // IEEE multiply+divide of exact integers — correctly-rounded ops,
  // identical in any engine. Scale: tokens are FILTERED to the query
  // terms before the tf aggregation, so only query-term postings ever
  // shuffle; dl rides the groupBy key (functionally dependent on
  // doc_id) to avoid a second corpus join; df/scalars broadcast back.
  private[ops] val bm25Query = Seq("stream", "merge", "window", "vector")

  /** The one BM25 idf expression, shared by the in-plan path (c41) and
    * the persisted fit (c41b) so the two can never drift: micro-nat
    * BIGINT the moment the ln lands (the c24 doctrine). Expects
    * `dfq`/`n_docs` columns in scope. */
  private[ops] val bm25IdfExpr =
    """cast(round(ln((cast(n_docs - dfq as double) + cast(0.5 as double))
      |    / (cast(dfq as double) + cast(0.5 as double)) + cast(1 as double))
      |  * cast(1000000 as double), 0) as bigint)""".stripMargin

  /** The one BM25 per-(doc, term) score expression (k1/b folded into
    * the 22/10/3/9 integer-rational coefficients — the c41 rewrite),
    * shared by the in-plan scorer, the batch hybrid, and the lex-index
    * fit so the three can never drift. Expects `idf_micro`, `tf`,
    * `dl`, `s_total`, `n_docs` columns in scope. */
  private[ops] val bm25RationalExpr =
    """cast(round(cast(idf_micro as double)
      |  * (cast(22 * s_total * tf as double)
      |     / cast(10 * s_total * tf + 3 * s_total + 9 * cast(dl as bigint) * n_docs as double)), 0)
      |as bigint)""".stripMargin

  /** Resolve the live (terms, scalars) paths of a persisted BM25 stats
    * dir: ONE `stats.gN` generation holding `terms/` and `scalars/`,
    * committed by [[IndexMeta.commitGen]] AFTER both tables land — so
    * a reader can never pair a new terms table with old scalars (or
    * vice versa). Any other layout is refused with the refit message. */
  private[graft] def bm25StatsPaths(spark: SparkSession, statsDir: String): (String, String) = {
    val g = IndexMeta.liveDir(spark, statsDir, "stats", "the BM25 scorer",
      "fit the stats with fitBm25Stats")
    (s"$g/terms", s"$g/scalars")
  }

  /** Write (terms, scalars) as ONE committed generation: both tables
    * land in the next `stats.gN` and [[IndexMeta.commitGen]] commits
    * the snapshot atomically (the Spark per-table `_SUCCESS` files live
    * one level down and are not the commit signal; the header is
    * empty — the two tables are the whole state). Superseded
    * generations are GC'd only after the commit, so a crash at any
    * point leaves a readable consistent snapshot live. */
  private def commitBm25Stats(spark: SparkSession, statsDir: String,
                              terms: DataFrame, scalars: DataFrame): Unit =
    IndexMeta.commitGen(spark, statsDir, "stats") { genDir =>
      terms.write.mode("overwrite").parquet(s"$genDir/terms")
      scalars.coalesce(1).write.mode("overwrite").parquet(s"$genDir/scalars")
      IndexMeta.newHeader()
    }

  /** C41b fit — persist the BM25 corpus statistics: the FULL per-term
    * document-frequency/idf table (vocab-sized — the term table a real
    * search deployment maintains, not just one query's terms; dfq is
    * persisted alongside idf so [[appendBm25Stats]] can merge arrivals
    * additively) plus the (s_total, n_docs) scalars. One distinct-term
    * shuffle; same plan class as [[Training.fitUnigramLm]]. Both tables
    * commit as ONE [[IndexMeta]] generation (`stats.gN`, single marker
    * — see [[commitBm25Stats]]), so a reader always sees a terms/
    * scalars pair produced by the same fit or append. */
  def fitBm25Stats(docs: DataFrame, statsDir: String): Unit = {
    val spark = docs.sparkSession
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val scalars = d.agg(
      sum(col("dl").cast("long")).as("s_total"),
      count(lit(1)).as("n_docs"))
    val terms = d.select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(scalars))
      .withColumn("idf_micro", expr(bm25IdfExpr))
      .select(col("tok"), col("dfq"), col("idf_micro"))
    commitBm25Stats(spark, statsDir, terms, scalars)
  }

  /** C41c append — merge an arrival batch into persisted BM25 stats
    * WITHOUT refitting the corpus (the c27/appendToIvfIndex doctrine on
    * the lexical side). Document frequency and the (s_total, n_docs)
    * scalars are additive over disjoint corpora, so the merge is one
    * batch-vocab aggregate full-outer-joined onto the vocab-sized terms
    * table, then idf recomputed for EVERY term from the merged
    * (dfq, n_docs) — n_docs changed globally, so every idf moves; the
    * recompute is the same [[bm25IdfExpr]] the fit uses, which is what
    * makes incremental ≡ refit exact (bit-identical BIGINTs, pinned by
    * the c41c oracle: the whole-corpus c41 SQL). Cost is vocab-bounded,
    * never corpus-bounded: the old corpus' text is not re-read. The
    * merged terms+scalars commit as ONE generation ([[commitBm25Stats]]);
    * a crash before the single marker leaves the old snapshot live. */
  def appendBm25Stats(spark: SparkSession, statsDir: String, batch: DataFrame): Unit = {
    // localCheckpoint: `d` feeds TWO aggregates (the scalars delta and
    // the per-term df delta). A non-deterministic batch frame (sample,
    // unordered limit) would otherwise hand the two aggregates
    // DIFFERENT row sets and corrupt the merged stats with no error
    // (round-12 advice); pinning the rows once also skips the double
    // tokenize.
    val d = batch.select(split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
      .localCheckpoint()
    val (termsPath, scalarsPath) = bm25StatsPaths(spark, statsDir)
    // batch delta + stored scalars in ONE job per append (round-15
    // action fold): a cross join of the two 1-row frames reads both
    // together instead of a head() each
    val hdr = d.agg(sum(col("dl").cast("long")).as("ds"), count(lit(1)).as("dn"))
      .crossJoin(Relational.cachedSchemaParquet(spark, scalarsPath)).head()
    val (s2, n2) = (hdr.getAs[Long]("s_total") + hdr.getLong(0),
      hdr.getAs[Long]("n_docs") + hdr.getLong(1))
    val deltaDf = d.select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("ddf"))
    val merged = Relational.cachedSchemaParquet(spark, termsPath)
      .select(col("tok"), col("dfq"))
      .join(deltaDf, Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("dfq"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("dfq"))
      .withColumn("n_docs", lit(n2))
      .withColumn("idf_micro", expr(bm25IdfExpr))
      .select(col("tok"), col("dfq"), col("idf_micro"))
    val scalars = spark.range(1)
      .select(lit(s2).as("s_total"), lit(n2).as("n_docs"))
    commitBm25Stats(spark, statsDir, merged, scalars)
  }

  /** C41b score — BM25 over a document batch against PERSISTED stats:
    * the query terms prune the terms table before it broadcasts, the
    * scalars ride as plan literals (two longs — the ADC literal
    * doctrine), and the batch pays one map-side filter + one per-doc
    * aggregate. The arrival path of a standing search/curation service:
    * corpus statistics are fit once, every batch scores map-only. */
  def bm25ScoreWith(spark: SparkSession, docs: DataFrame, statsDir: String,
                    terms: Seq[String], k: Int = 10): DataFrame = {
    val (termsPath, scalarsPath) = bm25StatsPaths(spark, statsDir)
    val row = Relational.cachedSchemaParquet(spark, scalarsPath).head()
    val (sTotal, nDocs) = (row.getLong(0), row.getLong(1))
    val stats = Relational.cachedSchemaParquet(spark, termsPath)
      .filter(col("tok").isin(terms: _*))
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(stats), "tok")
      .withColumn("score_micro", expr(
        s"""cast(round(cast(idf_micro as double)
           |  * (cast(22 * ${sTotal}L * tf as double)
           |     / cast(10 * ${sTotal}L * tf + 3 * ${sTotal}L + 9 * cast(dl as bigint) * ${nDocs}L as double)), 0)
           |as bigint)""".stripMargin))
      .groupBy(col("doc_id")).agg(sum(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score_micro"))
  }

  /** Registry wrapper: fit the full stats table on the corpus, then
    * score the same corpus for the fixed query through the persisted
    * path — the oracle is c41's VERBATIM, so the deployment form must
    * reproduce the in-plan form bit for bit. */
  def bm25Persisted(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val statsDir = Similarity.freshScratch(spark, s"graft_bm25_stats_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitBm25Stats(docs, statsDir)
    bm25ScoreWith(spark, docs, statsDir, bm25Query)
  }

  /** The in-plan BM25 score body shared by c41 (top-10 retrieval) and
    * c43's sparse leg (top-[[rrfDepth]] ranks): per-doc integer-exact
    * score_micro, unsorted. */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val scalars = docs.agg(
      sum(col("dl").cast("long")).as("s_total"),
      count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(bm25Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(scalars))
      .withColumn("idf_micro", expr(bm25IdfExpr))
      .select(col("tok"), col("idf_micro"), col("s_total"), col("n_docs"))
    tf.join(broadcast(idf), "tok")
      .withColumn("score_micro", expr(bm25RationalExpr))
      .groupBy(col("doc_id")).agg(sum(col("score_micro")).as("score_micro"))
  }

  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("score_micro"))

  /** Registry wrapper for the incremental leg: fit on 90% of the corpus
    * (doc_id % 10 ≠ 7 — the deterministic split doctrine), append the
    * remaining 10% as an arrival batch, score the FULL corpus through
    * the merged stats. The oracle is c41's whole-corpus SQL verbatim:
    * additivity of df and the scalars over disjoint corpora plus the
    * shared idf recompute make incremental ≡ refit bit for bit. */
  def bm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val statsDir = Similarity.freshScratch(spark, s"graft_bm25_inc_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitBm25Stats(docs.filter(col("doc_id") % 10 =!= 7), statsDir)
    appendBm25Stats(spark, statsDir, docs.filter(col("doc_id") % 10 === 7))
    bm25ScoreWith(spark, docs, statsDir, bm25Query)
  }

  // C43 — HYBRID retrieval: sparse BM25 + dense cosine fused by
  // reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher SIGIR'09 —
  // the default production shape: lexical recall catches what the
  // embedding misses and vice versa; public practice in every major
  // search stack). Each leg is a top-[[rrfDepth]] retrieval with fully
  // deterministic ranks (BM25 scores are integer-exact by the c41
  // rational rewrite; cosine rounds to 4 before ranking, ties break on
  // doc_id — the c3_sim_topk determinism class), so the fused output is
  // hash-matchable. RRF weights 1/(60+rank) quantize as
  // floor(1e6/(60+rank)): one IEEE division of small exact integers —
  // exact where the result IS an integer (64 and 80 divide 1e6), and
  // floor is unambiguous elsewhere, so no round-half hazard. Scale: each
  // leg ends in a TakeOrdered (k rows, no global sort — BM25 shuffles
  // only query-term postings, the dense leg is one broadcast-query map
  // pass), and the fuse is a full outer join of two ≤rrfDepth-row sets.
  // The batch-of-queries generalization runs the dense leg through the
  // c3_ann_batch pruned-probe join and the sparse leg grouped by query
  // id; this entry keeps c41's fixed single query so the whole fusion
  // stays oracle-exact.
  private[ops] val rrfK = 60
  private[ops] val rrfDepth = 20

  /** Top-n by `score` (desc, doc_id tiebreak) with dense 1-based ranks:
    * TakeOrdered bounds the sort at n rows BEFORE the window, so the
    * rank pass is a single n-row task, never a global sort. */
  private def rankedTopN(df: DataFrame, score: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.orderBy(col(score).desc, col("doc_id")).limit(n)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col(score).desc, col("doc_id"))))
  }

  // C43b — BATCH hybrid retrieval: the c43 fusion for a query SET, the
  // form a production retrieval pass actually takes. Queries are every
  // `graft.ann.batchQueryMod`-th document (default 17, ~6% — the
  // c3_ann_batch convention); each query's dense vector is its
  // embedding, and its sparse terms are its [[hybridQueryTerms]]
  // RAREST distinct tokens (rank by corpus df ascending — keyword
  // extraction, the standard doc-as-query practice). Rare-term
  // selection is what makes batch sparse retrieval scale-bounded: the
  // fan-out join's size is Σ_query Σ_{t∈rare-5} df(t), and rare terms
  // have small df BY SELECTION — with full-doc term sets the common
  // terms make every query touch most of the corpus (measured: the
  // full-term form ground past 10 min at sf10 where this one holds
  // single-digit seconds; the same reason real engines use WAND /
  // impact-ordered pruning). The sparse leg is EXACT batch BM25 over
  // the selected terms: corpus postings semi-join the term vocabulary
  // BEFORE the tf aggregate (the c41 doctrine with a dynamic set); the
  // vocab-BOUNDED df/idf tables broadcast (the c40 doctrine). The
  // dense leg is the persisted-IVF batch probe
  // ([[Similarity.annIvfBatch]]: map-side cell assignment,
  // partition-pruned cell join, never a per-query loop). Fusion, per
  // query: full outer join on (query_id, doc_id), the same
  // floor-quantized RRF weights as c43, per-query top-10 via a
  // query-partitioned window (each partition ranks ≤ 2·rrfDepth rows).
  // Rare-term selection alone is NOT enough when posting lists are
  // dense (this synthetic corpus has a ~26-token global vocabulary, so
  // every term's posting list is a large corpus fraction — measured:
  // 557M fan-out rows at sf1, 297 s for the pair aggregate). The
  // second standard lever closes that: IMPACT-ORDERED POSTING
  // TRUNCATION — each term keeps only its [[hybridPostingCap]]
  // highest-impact postings (by the term's actual BM25 contribution,
  // score_micro desc — the WAND / impact-ordered early-termination
  // family), so per-query sparse work is ≤ terms × cap REGARDLESS of
  // posting density. Exact whenever every posting list fits the cap
  // (the spec's scale — pinned); at 100 TB it trades tail recall for
  // bounded work, exactly as production engines do.
  // Approximate overall (the IVF leg + the cap) → rows-only in the
  // driver gate; the spec pins the sparse leg EXACT rank-for-rank
  // (below-cap regime) and the fusion's overlap against a brute-force
  // exact hybrid.
  private[ops] val hybridQueryTerms = 5
  private[ops] val hybridPostingCap = 1000

  /** The impact-ordered posting cap, conf-overridable
    * (`graft.retrieval.postingCap`) so the cap↔recall trade can be
    * swept as a knob — the coarseProbes treatment applied to the
    * lexical side. Governs BOTH the in-plan c43b truncation and the
    * [[fitLexIndex]] build-time truncation. */
  private[graft] def postingCap(spark: SparkSession): Int =
    spark.conf.getOption("graft.retrieval.postingCap")
      .map(_.toInt).getOrElse(hybridPostingCap)

  /** The batch query-id set shared by c43b and c43c: every qmod-th id
    * present in BOTH tables — fusion is only defined where both
    * modalities exist (either table can be a subset of the other), and
    * both legs semi-join this one frame, so the query sets are
    * identical by construction: an embedding with no documents row can
    * never become a dense-only query (round-12 advice). */
  private def batchQueryIds(spark: SparkSession, dir: String, qmod: Long): DataFrame =
    Relational.table(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id")).filter(col("doc_id") % qmod === 0)
      .join(Relational.table(spark, dir, "documents").select(col("doc_id")),
        Seq("doc_id"), "left_semi")

  /** The session's batch-query modulus (`graft.ann.batchQueryMod`,
    * default 17 — the c43b convention every indexed retrieval wrapper
    * shares). */
  private def batchQueryMod(spark: SparkSession): Long =
    spark.conf.getOption("graft.ann.batchQueryMod").map(_.toLong).getOrElse(17L)

  /** The (queryDocs, queryVecs) pair of the shared retrieval query
    * batch — c43b's verbatim selection ([[batchQueryIds]] semi-joined
    * into both tables), extracted ONCE so the five registry wrappers
    * that pose the same question through different deployment shapes
    * cannot drift in how they derive the batch. */
  private[ops] def batchQueryFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    batchQueryFrames(spark, dir, batchQueryMod(spark))

  /** Explicit-modulus form, for callers whose downstream check bakes a
    * specific qmod (the c43e oracle) — immune to the session conf. */
  private[ops] def batchQueryFrames(spark: SparkSession, dir: String, qmod: Long)
      : (DataFrame, DataFrame) = {
    val qIds = batchQueryIds(spark, dir, qmod)
    (Relational.table(spark, dir, "documents")
       .join(qIds, Seq("doc_id"), "left_semi")
       .select(col("doc_id"), col("text")),
     Relational.table(spark, dir, "embeddings")
       .join(qIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
       .select(col("vec_id"), col("embedding")))
  }

  /** Per-query RRF fusion of a (query_id, doc_id, rank_sparse) leg and
    * a (query_id, doc_id, rank_dense) leg — the c43 floor-quantized
    * weights, full outer join per (query, doc), per-query top-10 via a
    * query-partitioned window (each partition ranks ≤ 2·rrfDepth
    * rows). Shared by c43b and c43c so the fusion can never drift
    * between the in-plan and indexed forms. */
  private[ops] def fuseRrfBatch(sparse: DataFrame, dense: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def w(rank: String) = coalesce(
      expr(s"cast(floor(cast(1000000 as double) / cast($rrfK + $rank as double)) as bigint)"),
      lit(0L))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro", w("rank_sparse") + w("rank_dense"))
      .withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"),
        col("rank_sparse"), col("rank_dense"))
      .orderBy(col("query_id"), col("rrf_micro").desc, col("doc_id"))
  }

  def hybridRrfBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val qmod = batchQueryMod(spark)

    val docs = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    // full-vocab document frequency: one distinct-term shuffle, result
    // vocab-sized (the c40 idf table) — broadcast back for selection
    val dfAll = docs.select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df_all"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("df_all").asc, col("tok").asc)
    // localCheckpoint: queryTerms feeds THREE consumers (the tf
    // semi-join's term set, the idf restriction, the fan-out join) and
    // tf feeds TWO (idf build, probe side) — without cutting the
    // lineage every consumer re-runs the corpus explode + df window
    // chain (measured at sf1: 173 s composed vs 6.4+1.3 s for the legs
    // alone; checkpointed the whole query runs in seconds). Both
    // checkpointed frames are SMALL: queries×5 rows and Σ df(rare
    // terms) postings — never the corpus (the knnJoinIvf2 doctrine).
    val qIds = batchQueryIds(spark, dir, qmod)
    val queryTerms = docs.join(qIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(col("toks"))).as("tok"))
      .join(broadcast(dfAll), Seq("tok"))
      .withColumn("trk", row_number().over(wq))
      .filter(col("trk") <= hybridQueryTerms)
      .select(col("query_id"), col("tok"))
      .localCheckpoint()
    val termSet = queryTerms.select("tok").distinct()
    val scalars = docs.agg(
      sum(col("dl").cast("long")).as("s_total"),
      count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .join(broadcast(termSet), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // df counts ALL docs containing a term (including query docs) —
    // the same statistics a standing search service serves
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(scalars))
      .withColumn("idf_micro", expr(bm25IdfExpr))
      .select(col("tok"), col("idf_micro"), col("s_total"), col("n_docs"))
    val perTerm = tf.join(broadcast(idf), "tok")
      .withColumn("score_micro", expr(bm25RationalExpr))
      .select(col("doc_id"), col("tok"), col("score_micro"))
    // impact-ordered truncation: per term, keep the cap's
    // highest-impact postings (WindowGroupLimit pushes the cap into
    // the sort — never a full posting-list materialization per group)
    val wp = Window.partitionBy(col("tok"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    val perTermCapped = perTerm
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= postingCap(spark))
      .select(col("doc_id"), col("tok"), col("score_micro"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    // postings ⋈ query-terms on tok: BOTH sides scale with the query
    // batch (this is the term-sharded retrieval join, not a dim join),
    // so no broadcast hint — AQE picks BHJ at small batches and a
    // tok-sharded shuffle join (the posting-list intersection a search
    // engine runs) at large ones
    val sparse = perTermCapped
      .join(queryTerms, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_micro")).as("score_micro"))
      .withColumn("rank_sparse", row_number().over(ws))
      .filter(col("rank_sparse") <= rrfDepth)
      .select(col("query_id"), col("doc_id"), col("rank_sparse"))

    val dense = Similarity.annIvfBatch(spark, Similarity.ensureIndex(spark, dir),
        Relational.table(spark, dir, "embeddings")
          .join(qIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("embedding")),
        k = rrfDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rnk").as("rank_dense"))

    fuseRrfBatch(sparse, dense)
  }

  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // doc 0 is the query document (its embedding is the dense query
    // vector), so it is excluded from BOTH legs — retrieval never
    // returns the query itself.
    val sparse = rankedTopN(
      bm25Scores(spark, dir).filter(col("doc_id") =!= 0), "score_micro", rrfDepth)
      .select(col("doc_id"), col("rnk").as("rank_sparse"))
    val e = Relational.table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dense = rankedTopN(
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(Similarity.cosineExpr("embedding", "qv"), 4).as("sim")),
      "sim", rrfDepth)
      .select(col("doc_id"), col("rnk").as("rank_dense"))
    def w(rank: String) = coalesce(
      expr(s"cast(floor(cast(1000000 as double) / cast($rrfK + $rank as double)) as bigint)"),
      lit(0L))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro", w("rank_sparse") + w("rank_dense"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("rrf_micro"), col("rank_sparse"), col("rank_dense"))
  }

  // C5 — multimodal nested struct: doc ⋈ embedding ⋈ stats nested into
  // struct columns, ORC roundtrip, scalar projection (oracle-checked on
  // the scalars)
  def multimodalStruct(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
    val emb = Relational.table(spark, dir, "embeddings")
    val nested = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(
        struct(col("doc_id"), col("text"), col("lang")).as("doc"),
        col("embedding"),
        struct(col("n_chars"), col("label")).as("meta"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_c5_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    OrcIO.writeOrc(nested, path, OrcIO.WriteOptions(overwrite = true))
    // read back with the just-written schema (the a2 doctrine): skips
    // the per-construction ORC footer-inference job
    OrcIO.readOrcAs(spark, path, nested.schema)
      .select(col("doc.doc_id").as("doc_id"), col("doc.lang").as("lang"),
        col("meta.label").as("label"), size(col("embedding")).as("dim"))
      .orderBy("doc_id")
  }

  // C8 — the composed corpus-cleaning pipeline (the operator a
  // training-data user actually runs): quality-filter → exact dedup
  // (keep lowest doc_id) → near-dup removal (drop the higher id of
  // every exact-jaccard pair; transitive chains handled conservatively
  // — each pair independently drops its db side). Every stage is a
  // shuffle-parallel DataFrame program; oracle mirrors it exactly.
  //
  // Near-dup stage uses the CONTRACTED scaled path (exact-dup
  // contraction → MinHash-LSH candidates among unique texts → exact
  // Jaccard verify): after the exact-dedup keepers join only
  // representatives survive, and a representative loses to a near-dup
  // iff a LOWER-id representative is within J ≥ 0.8 (J depends only on
  // text, and every group's min id is its rep) — so rep-level pairs
  // give the identical survivor set while candidate work scales with
  // unique texts, not duplication² (the uncontracted path re-verified
  // >19 min at sf1 on the exact join, and the full-pairs LSH path blew
  // past 1800 s on the ×100-replicated sf10).
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val quality = qualityScore(spark, dir).filter(col("quality") >= 0.7)
      .select(col("doc_id"), col("quality"))
    val keepers = dedupExact(spark, dir).select(col("keep_id").as("doc_id"))
    val nearDupLosers = Similarity.nearDupRepPairs(spark, dir).select(col("db").as("doc_id"))
    quality
      .join(keepers, "doc_id") // exact-dup canonical survivors
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  // C31 — the END-TO-END curation pipeline: every cleaning stage a
  // pretraining-data run actually chains, composed as ONE DataFrame
  // program and oracle-checked as a whole. Order and semantics:
  //   1. quality floor (c4 composite ≥ 0.7), exact-dup canonicalization
  //      (keep lowest doc_id per text), and near-dup removal (drop the
  //      higher id of every J ≥ 0.8 pair) — the c8 stages, each computed
  //      independently over the full corpus and intersected (a doc must
  //      pass all three);
  //   2. benchmark decontamination — the eval split (doc_id % 20 = 0,
  //      standing in for a held-out benchmark) leaves the training pool
  //      entirely, and any remaining doc sharing a 13-token-gram with it
  //      is dropped (c12's flag list consumed as a filter);
  //   3. the per-source domain cap (c26's salted two-phase top-10 by
  //      deterministic md5 order) runs LAST, over the survivors — capping
  //      before cleaning would let dropped docs consume cap slots.
  // Stage order matters only where stages interact: 1 and 2 are
  // independent filters (intersection commutes), but 3 ranks within the
  // surviving pool, so it must follow. Every stage reuses the shipped
  // operator's exact code path (cleanCorpus / decontaminate /
  // capPerSourceOn), so the composition inherits each stage's scale
  // design — broadcast gram hashes, contracted near-dup candidates,
  // salted cap windows — and the oracle chains the same stages' SQL.
  def curateE2E(spark: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(spark, dir, "documents")
    val survivors = cleanCorpus(spark, dir) // (doc_id, quality)
    val contaminated = Curation.decontaminate(spark, dir).select(col("doc_id"))
    val pool = survivors
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .filter(col("doc_id") % 20 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    Curation.capPerSourceOn(pool.select(col("doc_id"), col("source")))
      .join(survivors, "doc_id")
      .select(col("doc_id"), col("source"), col("rank"), col("quality"))
      .orderBy("doc_id")
  }

  // C9 — streaming exact deduplication: `dropDuplicates` on the key
  // columns over the 4-file micro-batch replay; append mode emits the
  // first occurrence of each key, cross-batch duplicates are suppressed
  // by the state store. Output restricted to the key itself — which
  // payload arrives first is an intra-batch ordering artifact. Exact
  // dedup holds state for every key forever (the correctness baseline);
  // at 100 TB with time-scoped keys the same pipeline takes
  // `withWatermark + dropDuplicatesWithinWatermark` to bound the store.
  def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(spark, dir)
    val stage = Relational.stageEventFiles(spark, ev,
      s"graft_c9_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    StreamHarness.replayToSink(spark,
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      "graft_c9_sink")
      .orderBy("user_id", "event_type")
  }

  // C20 — corpus vocabulary: top-100 tokens by frequency (the vocab /
  // tokenizer-training primitive). explode fans the corpus into token
  // rows, but map-side partial aggregation collapses each partition to
  // its distinct-token counts before the shuffle — the exchange carries
  // vocab-sized partials, not the corpus — and the limit plans
  // TakeOrderedAndProject, never a global sort (pinned in PlanSpec).
  // Deterministic tie-break on the token itself.
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(100)

  // C29 — LEARNED quality classifier: the fastText-style linear filter
  // every production pretraining pipeline runs (public pattern: GPT-3's
  // logistic-regression WebText filter, LLaMA's fastText quality
  // classifier — a cheap linear model fitted on a small curated/weak
  // label set scores the whole corpus). Deployment shape mirrors c24b:
  // FIT on the 95% split, SCORE the held-out 5% — the expensive fit
  // runs once, scoring an arrival batch is one broadcast of the weight
  // vector and a map-only pass. Features are hashed token counts
  // (HashingTF, 4096 buckets — the hashing trick keeps the feature
  // space fixed no matter the vocabulary, so the model never grows with
  // the corpus); the weak label here is the median split of the shipped
  // c4 quality heuristic, standing in for the curated seed set the
  // production run would supply. LBFGS float sums are partition-order
  // sensitive → rows-only; held-out agreement with the weak labeler is
  // pinned in the spec.
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    import org.apache.spark.ml.functions.vector_to_array
    val scored = Relational.table(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_cnt", expr(s"size(filter(toks, t -> t in $stopList))"))
      .withColumn("q",
        least(col("n_tokens") * lit(1.0) / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("stop_cnt") * lit(1.0) / col("n_tokens")) * 0.5)
    // median split → balanced classes by construction; approxQuantile is
    // a driver O(1) scalar (the centroid-table exception)
    val med = scored.stat.approxQuantile("q", Array(0.5), 0.001).head
    val labeled = scored.withColumn("label", (col("q") >= med).cast("double"))
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(4096)
    val train = tf.transform(labeled.filter(col("doc_id") % 20 =!= 7))
    val holdout = tf.transform(labeled.filter(col("doc_id") % 20 === 7))
    val lr = new LogisticRegression().setMaxIter(30).setRegParam(1e-3)
      .setLabelCol("label").setFeaturesCol("features")
    lr.fit(train).transform(holdout)
      .select(col("doc_id"), col("label").as("weak_label"),
        col("prediction").as("predicted"),
        round(element_at(vector_to_array(col("probability")), 2), 4).as("p_keep"))
      .orderBy("doc_id")
  }

  // C29b — PERSISTED quality classifier: the c24b fit-once treatment
  // applied to c29. c29 demonstrates the fit/score split but refits
  // LBFGS on every invocation; the deployment shape is fit ONCE,
  // persist the linear model (4096 weights + intercept — one 32 KB
  // row), and score every arrival batch as a broadcast of the weight
  // vector plus a map-only pass (hand-rolled sigmoid over hashed token
  // counts — no ML pipeline, no shuffle, no fit at score time).
  //
  // Hashing contract: BOTH sides bucket tokens with SQL
  // `pmod(hash(t), 4096)` — Spark's codegen'd Murmur3 (seed 42). The
  // fit side must NOT use spark.ml's HashingTF: its murmur3 variant
  // (hashUnsafeBytes2) diverges from SQL `hash()` (hashUnsafeBytes) on
  // strings whose byte length isn't a multiple of 4, so a
  // HashingTF-fitted model scored through SQL hashing would read the
  // wrong weights. Features are assembled sparse per doc (explode →
  // count per (doc, bucket) → sparse vector), so fit cost scales with
  // tokens, not docs × 4096.
  /** Fit on `docs` and persist under `modelDir` (one [[IndexMeta]]
    * `model.gN` generation holding table `model`; a refit supersedes
    * it at commit). Weak label: median split of the c4 quality
    * heuristic over the fit docs, standing in for a curated seed set. */
  def fitQualityClassifier(spark: SparkSession, docs: DataFrame, modelDir: String): Unit = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val scored = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_cnt", expr(s"size(filter(toks, t -> t in $stopList))"))
      .withColumn("q",
        least(col("n_tokens") * lit(1.0) / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("stop_cnt") * lit(1.0) / col("n_tokens")) * 0.5)
    val med = scored.stat.approxQuantile("q", Array(0.5), 0.001).head
    val labeled = scored.withColumn("label", (col("q") >= med).cast("double"))
    val feats = labeled
      .select(col("doc_id"), col("label"), explode(col("toks")).as("t"))
      .select(col("doc_id"), col("label"),
        pmod(hash(col("t")), lit(qcBuckets)).as("b"))
      .groupBy("doc_id", "label", "b").agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy("doc_id", "label")
      // sparse-vector indices must arrive ordered; struct fields named
      // _1/_2 so the tuple encoder binds by name
      .agg(sort_array(collect_list(struct(col("b").as("_1"), col("cnt").as("_2")))).as("feats"))
      .as[(Long, Double, Seq[(Int, Double)])]
      .map { case (_, lbl, fs) =>
        (lbl, Vectors.sparse(qcBuckets, fs.map(_._1).toArray, fs.map(_._2).toArray))
      }.toDF("label", "features")
    val model = new LogisticRegression().setMaxIter(30).setRegParam(1e-3)
      .setLabelCol("label").setFeaturesCol("features").fit(feats)
    val w = model.coefficients.toArray.toSeq
    IndexMeta.commitGen(spark, modelDir, "model") { g =>
      Seq((w, model.intercept, med)).toDF("weights", "intercept", "label_median_q")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/model")
      IndexMeta.newHeader()
    }
  }

  private val qcBuckets = 4096

  /** Score `docs` with the persisted model: ONE small driver read (the
    * model row), the 4096-double weight vector shipped as a plan
    * literal, margin = intercept + a fold over the token list reading
    * `weights[pmod(hash(t), 4096)]` per occurrence — exactly the dot
    * product LBFGS optimized, no refit, no shuffle, no ML pipeline.
    * Map-only (PlanSpec-pinned); an arrival batch scores at scan cost. */
  def scoreWithClassifier(spark: SparkSession, docs: DataFrame, modelDir: String): DataFrame = {
    val m = Relational.cachedSchemaParquet(spark, IndexMeta.liveDir(spark, modelDir, "model",
      "the quality scorer", "fit it with fitQualityClassifier") + "/model").head()
    val w = m.getSeq[Double](0)
    val b = m.getDouble(1)
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("wt", typedlit(w))
      .withColumn("margin", expr(
        s"aggregate(toks, ${b}D, (acc, t) -> acc + element_at(wt, pmod(hash(t), $qcBuckets) + 1))"))
      .select(col("doc_id"),
        (col("margin") > 0).cast("double").as("predicted"),
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 4).as("p_keep"))
  }

  /** Registry wrapper: fit on the 95% slice into a scratch model dir
    * (the c24b split), score the held-out 5% through the persisted
    * weights — the registry answers FROM the re-read model, proving
    * the fit→persist→score cycle end-to-end. Rows-only (LBFGS float
    * sums); score parity with the in-session model and refit-free
    * reuse are pinned in the spec. */
  def qualityClassifierPersisted(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val modelDir = Similarity.freshScratch(spark, s"graft_c29b_model_${key}_")
    val docs = Relational.table(spark, dir, "documents")
    fitQualityClassifier(spark, docs.filter(col("doc_id") % 20 =!= 7), modelDir)
    scoreWithClassifier(spark, docs.filter(col("doc_id") % 20 === 7), modelDir)
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c29_quality_classifier" -> (qualityClassifier _),
    "c29b_quality_classifier" -> (qualityClassifierPersisted _),
    "c20_vocab_topk" -> (vocabTopK _),
    "c8_clean_corpus" -> (cleanCorpus _),
    "c31_curate_e2e" -> (curateE2E _),
    "c9_dedup_stream" -> (dedupStream _),
    "c1_dedup_exact" -> (dedupExact _),
    "c4_text_stats" -> (textStats _),
    "c4_quality" -> (qualityScore _),
    "c4_token_count" -> (tokenCount _),
    "c4_fingerprint" -> (fingerprint _),
    "c4_lang_id" -> (langId _),
    "c38_normalize" -> (normalizeCorpus _),
    "c40_tfidf" -> (tfidfTop _),
    "c41_bm25" -> (bm25Search _),
    "c41b_bm25_persisted" -> (bm25Persisted _),
    "c41c_bm25_incremental" -> (bm25Incremental _),
    "c43_hybrid_rrf" -> (hybridRrf _),
    "c43b_hybrid_rrf_batch" -> (hybridRrfBatch _),
    "c43c_hybrid_batch_indexed" -> (hybridRrfBatchIndexed _),
    "c43d_hybrid_ingest" -> (hybridIngestQuery _),
    "c43e_lex_takedown" -> (lexTakedownQuery _),
    "c43f_lex_stream" -> (hybridStreamIngestQuery _),
    "c5_multimodal" -> (multimodalStruct _))

  /** The c31 curation oracle's CTE chain (quality floor, exact/near
    * dedup, decontamination, per-source cap) ending at `r` — shared by
    * the c31 entry and c33's chained pretrain-composition oracle
    * (Training.oracleSql). */
  private[ops] val curateCtes: String =
    s"""base AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |    len(list_filter(toks, t -> t in $stopList)) AS stop_cnt FROM base),
         |q AS (SELECT doc_id,
         |    round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
         |      + (1.0 - stop_cnt * 1.0 / n_tokens) * 0.5, 4) AS quality FROM m),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingles FROM toks2),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |losers AS (SELECT db AS doc_id FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= ${Curation.ngramN} THEN
         |    list_distinct(list_transform(generate_series(1, len(toks) - ${Curation.ngramN - 1}),
         |      i -> array_to_string(toks[i:i+${Curation.ngramN - 1}], ' ')))
         |  ELSE [] END) AS gram FROM base),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
         |contaminated AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
         |  WHERE g.doc_id % 20 != 0),
         |pool AS (SELECT q.doc_id, d.source, q.quality,
         |    md5(concat('cap:', cast(q.doc_id as varchar))) AS k
         |  FROM q JOIN keepers USING (doc_id) JOIN documents d USING (doc_id)
         |  WHERE q.quality >= 0.7
         |    AND q.doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND q.doc_id % 20 != 0
         |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |r AS (SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rank FROM pool)""".stripMargin

  /** The BM25 score CTE chain ending at `s` (doc_id, score_micro) —
    * shared by the c41/c41b/c41c oracle and c43's sparse-leg ranks. */
  private val bm25OracleCtes: String = {
    val qList = bm25Query.map(t => s"'$t'").mkString("(", ",", ")")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
       |sc AS (SELECT sum(dl) AS s_total, count(*) AS n_docs FROM dl),
       |tf AS (SELECT t.doc_id, dl.dl, t.tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) t
       |  JOIN dl ON t.doc_id = dl.doc_id
       |  WHERE t.tok IN $qList GROUP BY 1, 2, 3),
       |idf AS (SELECT tok,
       |    cast(round(ln((cast(n_docs - dfq AS DOUBLE) + cast(0.5 AS DOUBLE))
       |        / (cast(dfq AS DOUBLE) + cast(0.5 AS DOUBLE)) + cast(1 AS DOUBLE))
       |      * cast(1000000 AS DOUBLE), 0) AS BIGINT) AS idf_micro,
       |    s_total, n_docs
       |  FROM (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1), sc),
       |s AS (SELECT doc_id,
       |    sum(cast(round(cast(idf_micro AS DOUBLE)
       |      * (cast(22 * s_total * tf AS DOUBLE)
       |         / cast(10 * s_total * tf + 3 * s_total + 9 * cast(dl AS BIGINT) * n_docs AS DOUBLE)), 0)
       |    AS BIGINT)) AS score_micro
       |  FROM tf JOIN idf USING (tok) GROUP BY 1)""".stripMargin
  }

  /** The one BM25 oracle (integer-rational rewrite, see [[bm25Search]]),
    * shared verbatim by c41 (in-plan), c41b (persisted stats), and c41c
    * (incrementally merged stats): every deployment form must reproduce
    * the in-plan form bit for bit. */
  private val bm25OracleSql: String =
    s"""WITH $bm25OracleCtes
       |SELECT doc_id, cast(score_micro AS BIGINT) AS score_micro FROM s
       |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin

  /** The c43e takedown oracle — the ONE indexed-retrieval key that is
    * exactly SQL-expressible (both hybrid keys carry the approximate
    * IVF dense leg; the sparse-only takedown is deterministic end to
    * end): full-corpus quantized BM25 stats (the index serves
    * BUILD-time statistics until compaction — the documented
    * staleness, so the oracle scores from the full corpus too),
    * impact-ordered posting cap applied BEFORE the tombstone
    * exclusion (the index capped at build; the read anti-joins the
    * capped lists), per-query rarest-5 term selection, depth-20
    * ranks. Moves c43e from rows-only to the full three-check gate. */
  private val lexTakedownOracleSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
       |sc AS (SELECT sum(dl) AS s_total, count(*) AS n_docs FROM dl),
       |q AS (SELECT e.vec_id AS query_id FROM embeddings e
       |  JOIN documents dd ON dd.doc_id = e.vec_id WHERE e.vec_id % 17 = 0),
       |tf AS (SELECT t.doc_id, dl.dl, t.tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) t
       |  JOIN dl ON t.doc_id = dl.doc_id GROUP BY 1, 2, 3),
       |df AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
       |idf AS (SELECT tok, dfq,
       |    cast(round(ln((cast(n_docs - dfq AS DOUBLE) + cast(0.5 AS DOUBLE))
       |        / (cast(dfq AS DOUBLE) + cast(0.5 AS DOUBLE)) + cast(1 AS DOUBLE))
       |      * cast(1000000 AS DOUBLE), 0) AS BIGINT) AS idf_micro,
       |    s_total, n_docs
       |  FROM df, sc),
       |post AS (SELECT tok, doc_id, score_micro FROM (
       |  SELECT tf.tok, tf.doc_id,
       |    cast(round(cast(idf_micro AS DOUBLE)
       |      * (cast(22 * s_total * tf AS DOUBLE)
       |         / cast(10 * s_total * tf + 3 * s_total + 9 * cast(dl AS BIGINT) * n_docs AS DOUBLE)), 0)
       |      AS BIGINT) AS score_micro,
       |    row_number() OVER (PARTITION BY tf.tok ORDER BY
       |      cast(round(cast(idf_micro AS DOUBLE)
       |        * (cast(22 * s_total * tf AS DOUBLE)
       |           / cast(10 * s_total * tf + 3 * s_total + 9 * cast(dl AS BIGINT) * n_docs AS DOUBLE)), 0)
       |        AS BIGINT) DESC, tf.doc_id) AS prk
       |  FROM tf JOIN idf USING (tok)) WHERE prk <= $hybridPostingCap),
       |live AS (SELECT * FROM post WHERE doc_id % 10 <> 7),
       |qt0 AS (SELECT q.query_id, x.tok FROM q
       |  JOIN (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM d) x
       |    ON x.doc_id = q.query_id),
       |qt AS (SELECT query_id, tok FROM (
       |  SELECT query_id, tok,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dfq ASC, tok ASC) AS trk
       |  FROM qt0 JOIN df USING (tok)) WHERE trk <= $hybridQueryTerms),
       |sres AS (SELECT query_id, live.doc_id, sum(score_micro) AS score_micro
       |  FROM live JOIN qt USING (tok) WHERE live.doc_id <> query_id GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank_sparse
       |  FROM sres)
       |SELECT query_id, doc_id, cast(rank_sparse AS INT) AS rank_sparse
       |FROM r WHERE rank_sparse <= $rrfDepth ORDER BY query_id, rank_sparse""".stripMargin

  /** The c43 hybrid-RRF oracle: both legs re-ranked independently in
    * DuckDB (BM25 from the shared CTEs; dense from
    * list_cosine_similarity — the c3_sim_topk oracle form), fused with
    * the same floor-quantized reciprocal ranks. */
  private val hybridRrfOracleSql: String =
    s"""WITH $bm25OracleCtes,
       |sp0 AS (SELECT doc_id, score_micro FROM s WHERE doc_id <> 0
       |  ORDER BY score_micro DESC, doc_id LIMIT $rrfDepth),
       |sp AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rs FROM sp0),
       |dn0 AS (SELECT vec_id AS doc_id,
       |    round(cast(list_cosine_similarity(cast(embedding as double[]),
       |      (SELECT cast(embedding as double[]) FROM embeddings WHERE vec_id = 0)) as double), 4) AS sim
       |  FROM embeddings WHERE vec_id <> 0
       |  ORDER BY sim DESC, doc_id LIMIT $rrfDepth),
       |dn AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY sim DESC, doc_id) AS rd FROM dn0),
       |f AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
       |    coalesce(cast(floor(cast(1000000 AS DOUBLE) / cast($rrfK + rs AS DOUBLE)) AS BIGINT), 0)
       |    + coalesce(cast(floor(cast(1000000 AS DOUBLE) / cast($rrfK + rd AS DOUBLE)) AS BIGINT), 0) AS rrf_micro,
       |    rs, rd
       |  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
       |SELECT doc_id, rrf_micro,
       |  cast(rs AS INT) AS rank_sparse, cast(rd AS INT) AS rank_dense
       |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "c20_vocab_topk" ->
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100""".stripMargin,
    "c8_clean_corpus" ->
      s"""WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |    len(list_filter(toks, t -> t in $stopList)) AS stop_cnt FROM base),
         |q AS (SELECT doc_id,
         |    round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
         |      + (1.0 - stop_cnt * 1.0 / n_tokens) * 0.5, 4) AS quality FROM m),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingles FROM toks2),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |losers AS (SELECT db AS doc_id FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8)
         |SELECT q.doc_id, q.quality FROM q
         |JOIN keepers USING (doc_id)
         |WHERE q.quality >= 0.7 AND q.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY q.doc_id""".stripMargin,
    "c1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // the c8 stage CTEs + c12's gram-overlap contamination + c26's
    // deterministic md5-order cap over the surviving pool — the same
    // stage SQL the standalone oracles use, chained in pipeline order
    "c31_curate_e2e" ->
      s"""WITH $curateCtes
         |SELECT doc_id, source, rank, quality FROM r WHERE rank <= ${Curation.sourceCap}
         |ORDER BY doc_id""".stripMargin,
    // first-occurrence-per-key streaming dedup ≡ the distinct key set
    "c9_dedup_stream" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "c4_text_stats" ->
      """SELECT doc_id, len(text) AS chars, len(string_split(text, ' ')) AS n_tokens
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "c4_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, text, len(toks) AS n_tokens,
         |    len(list_filter(toks, t -> t in $stopList)) AS stop_cnt,
         |    len(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_cnt
         |  FROM base)
         |SELECT doc_id,
         |  round(stop_cnt * 1.0 / n_tokens, 4) AS stop_ratio,
         |  round(alpha_cnt * 1.0 / len(text), 4) AS alpha_ratio,
         |  round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
         |    + (1.0 - stop_cnt * 1.0 / n_tokens) * 0.5, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "c4_token_count" ->
      s"""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '$bpeRegex')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // same scoring as langIdOn: per-profile stopword hit counts, argmax
    // via lexicographic struct max (score first, then lang — identical
    // tie-break in Spark's array_max and DuckDB's list_aggregate 'max')
    "c4_lang_id" -> {
      val structs = langProfiles.map { case (langCode, words) =>
        val list = words.map(w => s"'$w'").mkString("(", ",", ")")
        s"{'score': cast(len(list_filter(string_split(lower(text), ' '), t -> t IN $list)) as int), 'lang': '$langCode'}"
      }.mkString(",\n        |    ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk,
         |    list_aggregate([$structs], 'max') AS best
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN cjk THEN 'zh'
         |       WHEN best.score > 0 THEN best.lang
         |       ELSE 'unknown' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    // same deterministic in-plan dirtying, DuckDB's nfc_normalize as
    // the independent NFC implementation — byte-level agreement on the
    // composed text is the gate
    "c38_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |    chr(9) || ' ' || regexp_replace(text, 'e', 'e' || chr(769), 'g') || '  ' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(translate(nfc_normalize(raw),
        |    chr(9) || chr(10) || chr(13), '   '), ' +', ' ', 'g')) AS norm,
        |  len(raw) - len(nfc_normalize(raw)) AS n_composed
        |FROM raw ORDER BY doc_id""".stripMargin,
    // micro-nat-quantized idf (the c24 ln doctrine): every comparison
    // downstream of the ln — including the rank — is integer-exact
    "c40_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (SELECT tok,
        |    cast(round(ln(cast(n_docs + 1 AS DOUBLE) / cast(dfq + 1 AS DOUBLE))
        |      * cast(1000000 AS DOUBLE), 0) AS BIGINT) + 1000000 AS idf_micro
        |  FROM dfq, n),
        |s AS (SELECT doc_id, tok, tf * idf_micro AS score_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * idf_micro DESC, tok) AS rnk
        |  FROM tf JOIN idf USING (tok))
        |SELECT doc_id, rnk, tok, score_micro FROM s WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    // the integer-rational BM25 rewrite (see bm25Search): the only
    // float ops are the quantized ln and one IEEE mul+div of exact ints.
    // c41b (the persisted fit-once/score-arrivals form) shares the SQL
    // verbatim: the deployment path must reproduce the in-plan path.
    "c41_bm25" -> bm25OracleSql,
    "c41b_bm25_persisted" -> bm25OracleSql,
    "c41c_bm25_incremental" -> bm25OracleSql,
    "c43_hybrid_rrf" -> hybridRrfOracleSql,
    "c43e_lex_takedown" -> lexTakedownOracleSql,
    "c4_fingerprint" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(t) < 3 THEN md5(text)
        |  ELSE list_aggregate(list_transform(generate_series(1, len(t) - 2),
        |    i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2]))), 'min') END AS fp
        |FROM toks ORDER BY doc_id""".stripMargin,
    "c5_multimodal" ->
      """SELECT d.doc_id, d.lang, e.label, len(e.embedding) AS dim
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin)
}
