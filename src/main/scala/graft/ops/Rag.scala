package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The retrieval-augmented generation composition of [[Similarity]]
  * (C42): chunking, the chunk index, and its batch, incremental and
  * streaming legs. */
private[ops] trait Rag { self: Similarity.type =>

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
    * replay (the header's `applied` list); quantizer drift from accumulated
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
    * through the header's `applied` list), with the harness's in-stream index
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
      s"graft_rag_index_${key}_", ivfFamily)(
      buildIvfIndexFrom(spark, chunkVecs, _))
  }
}
