package graft.ops

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** C3f2 — PERSIST the PQ sidecar on an existing index: `books` (one
  * row per (subspace, code) centroid), `codes` (vec_id, pq,
  * cell-partitioned EXACTLY like the vectors layout, so ADC probes
  * get the same parquet partition pruning — the live codes are the
  * UNION of a base generation plus one delta generation per repaired
  * append), and the `pq.gN` header — the one COMMITTED binding of
  * all three: which IVF segments are encoded, which codes
  * generations hold their codes, and which books generation encoded
  * them. Readers resolve the live header and trust nothing not named
  * there, so books and codes can never pair across states (round-7
  * advice: the old books-carry-the-fingerprint order had a crash
  * window where fresh-looking books served codes encoded with
  * never-persisted codebooks).
  *
  * Repair economics (the round-7 lead item): when the index grew
  * only by APPENDED segments — every encoded segment still live —
  * the repair FREEZES the live books, encodes ONLY the uncovered
  * segments (Θ(batch)), and commits a codes DELTA generation. The
  * quantizer didn't move, so frozen-book codes are byte-identical to
  * what a full re-encode of those rows would produce (spec-pinned).
  * The Θ(n) refit+re-encode runs only when the segments themselves
  * were rewritten (compaction, rebuild) — exactly when the books'
  * training distribution changed. Public FAISS practice:
  * add_with_ids encodes arrivals against frozen codebooks; retrain is
  * a maintenance op. Deletes need NO repair — tombstones anti-join
  * the codes scan exactly as they do the vectors scan. */
private[graft] final case class PqMeta(segments: Seq[String], codesGens: Seq[String],
    booksGen: String)

/** The product-quantized IVF path of [[Similarity]] (C3f): the
  * on-the-fly IVF-PQ probe and the persisted PQ sidecar of an IVF
  * index. */
private[ops] trait PqIndex { self: Similarity.type =>

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

  /** The PQ sidecar family ([[PqMeta]]): after each commit, every
    * books and codes generation the header does not name is deleted —
    * superseded ones and orphans of crashed repairs (single-writer
    * maintenance contract, like compaction). A header of the layout
    * before segments reads with no covered segments, so it is stale
    * against every index and [[addPqToIndex]] re-derives it in full. */
  private[graft] val pqFamily = new IndexFamily[PqMeta]("pq", "run addPqToIndex", Nil,
    Seq(IndexFamily.Gc("", Seq("codes.g", "books.g"), m => m.codesGens :+ m.booksGen)))

  /** Sidecar freshness: the live header encodes exactly the index's
    * live segments. Appends make it stale by ADDING segments (delta
    * repair); compactions/rebuilds by replacing them (full re-derive). */
  private[graft] def pqSidecarFresh(spark: SparkSession, indexDir: String): Boolean =
    pqFamily.headerOpt(spark, indexDir, "the PQ sidecar")
      .exists(_.segments == ivfFamily.header(spark, indexDir, "the PQ sidecar").segments)

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

  /** The live codes set: union of the committed header's codes
    * generations (each scan keeps its own cell partition pruning). A
    * spec reader seam: TierCSpec's PQ delta-parity test compares it
    * with [[pqEncodeAllWithLiveBooks]]. */
  private[graft] def pqCodesTable(spark: SparkSession, indexDir: String): DataFrame = {
    val m = pqFamily.header(spark, indexDir, "the PQ codes reader")
    unionScans(spark, m.codesGens.map(g => s"$indexDir/$g"))
      .select(col("vec_id"), col("pq"), col("cell"))
  }

  /** Every live vector encoded against the PERSISTED (frozen) books —
    * the parity oracle of TierCSpec's PQ delta test (its one caller):
    * delta-appended codes must equal this re-encode row-for-row,
    * because the books did not move between the base encode and the
    * delta. */
  private[graft] def pqEncodeAllWithLiveBooks(spark: SparkSession, indexDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val m = pqFamily.header(spark, indexDir, "the PQ parity oracle")
    pqEncode(storedVectors(spark, indexDir),
      readPqBooks(spark, indexDir, m.booksGen))
  }

  /** (vec_id, pq, cell) of a vectors frame under `books`. */
  private def pqEncode(vectors: DataFrame, books: Array[Array[Float]]): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"), col("cell"))
    val dim = v.select(size(col("embedding"))).head().getInt(0)
    v.withColumn("pq", pqPackedCol(books, dim / pqSubspaces))
      .select(col("vec_id"), col("pq"), col("cell"))
  }

  /** Derive or REPAIR the PQ sidecar. Fresh → no-op. Index grew by
    * appended segments only → Θ(batch) delta: freeze the books, encode
    * only the uncovered segments, commit a codes delta generation.
    * Segments rewritten (compaction/rebuild) or no sidecar yet → full
    * derive (refit books on the live corpus, re-encode everything —
    * the books' training distribution changed, so a refit is due
    * anyway). Everything becomes visible in ONE header commit. */
  def addPqToIndex(spark: SparkSession, indexDir: String): Unit = {
    GraftFunctions.register(spark)
    val live = ivfFamily.header(spark, indexDir, "the PQ sidecar").segments
    def vectorsOf(segs: Seq[String]) = unionScans(spark, segs.map(s => s"$indexDir/$s/vectors"))
    def writeCodes(codes: DataFrame): String = {
      val (codesGen, _) = IndexMeta.nextGen(spark, indexDir, "codes")
      codes.repartition(col("cell")).write.mode("overwrite").partitionBy("cell").parquet(codesGen)
      baseName(codesGen)
    }
    pqFamily.headerOpt(spark, indexDir, "the PQ sidecar") match {
      case Some(m) if m.segments == live =>
        () // fresh — nothing to repair
      case Some(m) if m.segments.nonEmpty && m.segments.forall(live.contains) =>
        // append-only growth: encode ONLY the new segments with the live
        // (frozen) books — Θ(batch), never a refit or corpus re-encode.
        // An append names a segment only when it holds rows, so the
        // delta is never row-empty
        val delta = pqEncode(vectorsOf(live.filterNot(m.segments.contains)),
          readPqBooks(spark, indexDir, m.booksGen))
        pqFamily.commit(spark, indexDir)(_ =>
          m.copy(segments = live, codesGens = m.codesGens :+ writeCodes(delta)))
      case _ =>
        // full derive: fit books on the live corpus, encode everything
        val v = vectorsOf(live).select(col("vec_id"), col("embedding"), col("cell"))
        val dim = v.select(size(col("embedding"))).head().getInt(0)
        val books = fitPqBooks(v, v.count(), dim)
        val dsub = dim / pqSubspaces
        import spark.implicits._
        val codesGen = writeCodes(v.withColumn("pq", pqPackedCol(books, dsub))
          .select(col("vec_id"), col("pq"), col("cell")))
        val (booksGen, _) = IndexMeta.nextGen(spark, indexDir, "books")
        books.zipWithIndex.flatMap { case (flat, s) =>
          (0 until flat.length / dsub).map { j =>
            (s, j, flat.slice(j * dsub, (j + 1) * dsub).toSeq)
          }
        }.toSeq.toDF("sub", "code", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(booksGen)
        pqFamily.commit(spark, indexDir)(_ => PqMeta(live, Seq(codesGen), baseName(booksGen)))
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
  def annIvfPqFiltered(spark: SparkSession, dir: String, indexDir: String): DataFrame =
    pqIndexedCore(spark, indexDir, Some(englishFilter(spark, dir)))

  def annIvfPqFilteredQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFiltered(spark, dir, ensurePqIndex(spark, dir))

  private def pqIndexedCore(spark: SparkSession, indexDir: String,
      filtered: Option[(DataFrame, Double)]): DataFrame = {
    GraftFunctions.register(spark)
    val m = pqFamily.header(spark, indexDir, "the PQ probe")
    val h = ivfFamily.header(spark, indexDir, "the PQ probe")
    val live = h.segments
    require(m.segments == live,
      s"PQ sidecar is STALE: codes cover segments [${m.segments.mkString(", ")}] but the " +
        s"live index has [${live.mkString(", ")}] (an append or compaction changed it). " +
        "Serving them would silently miss or misplace vectors — run " +
        "addPqToIndex to repair (Θ(batch) after an append: frozen books, " +
        "delta encode of the new segments; full re-derive only after a " +
        "compaction or rebuild), then probe again.")
    val books = readPqBooks(spark, indexDir, m.booksGen)
    val vectors = liveIndexVectors(spark, indexDir, h)
    val cb = ivfCodebook(spark, indexDir)
    val qVec = queryVector(indexDir, vectors)
    val probeCells = probeCellsOf(cb, qVec, probeWidth(spark, cb, filtered.map(_._2)))
    // base + delta codes generations, unioned — each scan keeps its own
    // cell partition pruning, and [[compactIvfIndex]]-triggered full
    // re-derives fold them back to one
    val codes0 = unionScans(spark, m.codesGens.map(g => s"$indexDir/$g"))
      .select(col("vec_id"), col("pq"), col("cell"))
    val codes1 = IndexMeta.tombstones(spark, indexDir, h.tombstones)
      .fold(codes0)(t => codes0.join(broadcast(t), Seq("vec_id"), "left_anti"))
    // allowed-id semi-join BEFORE ADC scoring (see annIvfPqFiltered)
    val codes = filtered match {
      case Some((allowed, _)) => codes1.join(allowed, Seq("vec_id"), "left_semi")
      case None => codes1
    }
    pqProbe(spark, codes,
      vectors.filter(col("cell").isin(probeCells: _*)),
      books, qVec, probeCells)
  }

  /** Registry wrapper: probe from the persisted codes of [[ensurePqIndex]]. */
  def annIvfPqIndexedQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfPqIndexed(spark, dir, ensurePqIndex(spark, dir))

  /** [[ensureIndex]] the shared per-dir index, and derive or
    * delta-repair its PQ sidecar if absent or stale. */
  private def ensurePqIndex(spark: SparkSession, dir: String): String = {
    val idx = ensureIndex(spark, dir)
    if (!pqSidecarFresh(spark, idx)) addPqToIndex(spark, idx)
    idx
  }
}
