package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Tier C behavioral checks that the rows-only driver gate can't see:
  * streaming/batch parity, approximate-operator recall against exact
  * baselines, the language-ID heuristic on crafted inputs, and the
  * multimodal decode plumbing. Runs on sf0.001 to stay fast. */
class TierCSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** One small index per family that commits through
    * [[IndexMeta.commitGen]], each taken through its whole life on
    * sf0.001 — build, one append under batch id `b1`, compaction — and
    * built once per suite, on first use. Each row: the family, its root
    * dir and generation name, its own metadata reader, a fingerprint of
    * its served contents, (for families with batch-id appends) the
    * replay of `b1`, and one more mutation whose commits pass every
    * [[IndexMeta.faultPoints]] point — run on a copy of the root after
    * `prepare`. Each function takes the root it works on. Tests that
    * use the fixture only read it or restore what they change. */
  private final case class Family(name: String, root: String, gen: String,
      read: String => Any, contents: String => Any, replay: Option[String => Unit],
      prepare: String => Unit, mutate: String => Unit)

  private lazy val families: Seq[Family] = {
    val docs = Relational.table(spark, dir, "documents")
    val vecs = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    def scratch(p: String) = Similarity.freshScratch(spark, s"graft_families_${p}_")
    def count(paths: Seq[String]) = spark.read.parquet(paths: _*).count()

    val lex = scratch("lex")
    val lexBatch = docs.filter(col("doc_id") % 10 === 7)
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), lex)
    Pipeline.appendLexIndex(spark, lex, lexBatch, Some("b1"))
    Pipeline.deleteLexDocs(spark, lex, docs.limit(1).select(col("doc_id")))
    Pipeline.compactLexIndex(spark, lex)

    val ivf = scratch("ivf")
    val ivfBatch = vecs.filter(col("vec_id") % 20 === 7)
    Similarity.buildIvfIndexFrom(spark, vecs.filter(col("vec_id") % 20 =!= 7), ivf)
    Similarity.addPqToIndex(spark, ivf)
    Similarity.appendToIvfIndex(spark, ivf, ivfBatch, Some("b1"))
    Similarity.addPqToIndex(spark, ivf) // the delta repair
    Similarity.compactIvfIndex(spark, ivf)
    Similarity.addPqToIndex(spark, ivf) // the full re-derive

    val store = scratch("store")
    val storeBatch = docs.filter(col("doc_id") % 20 === 7)
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), store)
    Similarity.appendToNearDupIndex(spark, store, storeBatch, Some("b1"))
    Similarity.compactNearDupIndex(spark, store)

    val state = scratch("state")
    val t1 = docs.agg(max(col("doc_id"))).head().getLong(0) * 90 / 100
    val slice = docs.filter(col("doc_id") > t1)
    Training.buildPretrainState(spark, docs.filter(col("doc_id") <= t1), state)
    Training.ingestPretrainSlice(spark, state, slice, "b1")
    Training.tombstonePretrainDocs(spark, state, spark.read
      .parquet(s"$state/shards/${Training.liveSlices(spark, state).head}").select(col("doc_id")).limit(1))
    Training.compactPretrainShards(spark, state)

    // the extra mutations: a delete (lex, IVF, state), a delta repair
    // after one more append (PQ), an append of copies under new ids
    // (store)
    val none = (_: String) => ()
    val moved = (df: org.apache.spark.sql.DataFrame, id: String) =>
      df.withColumn(id, col(id) + 1000000L)
    Seq(
      Family("lex", lex, "lex", Pipeline.lexSegmentCount(spark, _),
        Pipeline.sparseScoreIndexed(spark, _, lexBatch.select(col("doc_id"), col("text")))
          .collect().toSet,
        Some(Pipeline.appendLexIndex(spark, _, lexBatch, Some("b1"))), none,
        Pipeline.deleteLexDocs(spark, _, docs.filter(col("doc_id") % 10 === 3).select(col("doc_id")))),
      Family("ivf", ivf, "ivf", Similarity.ivfCodebook(spark, _),
        Similarity.liveIndexVectors(spark, _).select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq,
        Some(Similarity.appendToIvfIndex(spark, _, ivfBatch, Some("b1"))), none,
        Similarity.deleteFromIvfIndex(spark, _, vecs.filter(col("vec_id") % 10 === 3).select(col("vec_id")))),
      Family("pq", ivf, "pq", Similarity.livePqMeta(spark, _).get,
        Similarity.pqCodesTable(spark, _).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq, None,
        Similarity.appendToIvfIndex(spark, _, moved(ivfBatch, "vec_id"), Some("b2")),
        Similarity.addPqToIndex(spark, _)),
      Family("store", store, "store", Similarity.nearDupTablePaths(spark, _, "pairs"),
        d => Seq("shingles", "bands", "pairs")
          .map(t => count(Similarity.nearDupTablePaths(spark, d, t))),
        Some(Similarity.appendToNearDupIndex(spark, _, storeBatch, Some("b1"))), none,
        Similarity.appendToNearDupIndex(spark, _, moved(storeBatch, "doc_id"), Some("b2"))),
      Family("state", state, "state", Training.liveSlices(spark, _),
        Training.readPretrainShards(spark, _).collect().toSet,
        Some(Training.ingestPretrainSlice(spark, _, slice, "b1")), none,
        Training.tombstonePretrainDocs(spark, _, docs.filter(col("doc_id") % 10 === 3).select(col("doc_id")))))
  }

  /** A copy of the tree at `from` in a fresh scratch dir. */
  private def copyTree(from: String, prefix: String): String = {
    val to = Similarity.freshScratch(spark, prefix)
    copyInto(java.nio.file.Paths.get(from.stripPrefix("file:")), java.nio.file.Paths.get(to.stripPrefix("file:")))
    to
  }

  /** Copy every file under `from` to the same relative path under `to`. */
  private def copyInto(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Run `op` on the index at `idx` and then put back every tombstone
    * entry (`tomb*`) it held before: the crash state of a mutation that
    * committed its header but died before the deletes it retired were
    * cleared. */
  private def withDeletesLeftBehind(idx: String)(op: => Unit): Unit = {
    val root = java.nio.file.Paths.get(idx.stripPrefix("file:"))
    val aside = java.nio.file.Files.createTempDirectory("graft_tombs_aside")
    val tombs = IndexMeta.list(spark, idx).map(_.getPath.getName).filter(_.startsWith("tomb"))
    assert(tombs.nonEmpty, s"precondition: no tombstones under $idx")
    tombs.foreach(t => copyInto(root.resolve(t), aside.resolve(t)))
    op
    tombs.foreach(t => copyInto(aside.resolve(t), root.resolve(t)))
    IndexMeta.delete(spark, aside.toString)
  }

  /** Whether a local path exists. */
  private def onDisk(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p.stripPrefix("file:")))

  /** Parquet files under `paths` (a table's live segments). */
  private def filesUnder(paths: Seq[String]): Long =
    paths.map(IndexMeta.countUnder(spark, _, ".parquet")).sum

  /** Parquet files of an IVF index's live layout, by cell dir. */
  private def vectorFilesByCell(indexDir: String): Map[String, Seq[java.nio.file.Path]] = {
    import scala.jdk.CollectionConverters._
    Similarity.liveVectorsPaths(spark, indexDir).flatMap { p =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(p.stripPrefix("file:"))).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
    }.groupBy(_.getParent.getFileName.toString)
  }

  /** (cell, centroid) rows of an IVF index's codebook, by cell. */
  private def centroidsOf(idx: String): Seq[(Int, Array[Float])] = {
    val cb = Similarity.ivfCodebook(spark, idx)
    (0 until cb.k).map(i => (i, cb.flat.slice(i * cb.dim, (i + 1) * cb.dim)))
  }

  test("B16 streaming replay = B15 batch agg minus watermark-open windows (self-oracle, SURVEY B16)") {
    // append mode emits only windows the final watermark (max ts - 10 min)
    // has closed; the open tail windows are withheld, everything else must
    // match the batch aggregation exactly (no late data in ordered replay)
    val batch = Relational.eventsWindowBatch(spark, dir).collect().toSeq
    val stream = Relational.eventsStream(spark, dir).collect().toSeq
    assert(stream.nonEmpty && stream == batch.take(stream.size),
      s"stream (${stream.size} windows) must be a prefix of batch (${batch.size})")
    // only the final windows — those not yet closed by the watermark — may be missing
    assert(batch.size - stream.size <= 1,
      s"more than the open tail window missing: ${batch.size - stream.size}")
  }

  test("C31 e2e curation: output is exactly the staged intersection, capped per source") {
    val out = Pipeline.queries("c31_curate_e2e")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val outIds = out.map(_._1).toSet
    // stage 1: every survivor passed the c8 clean (quality + exact +
    // near-dup), and nothing outside it got through
    val clean = Pipeline.cleanCorpus(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds.subsetOf(clean), s"docs outside cleanCorpus: ${(outIds -- clean).take(5)}")
    // stage 2: the eval split and its gram-contaminated docs are gone
    assert(outIds.forall(_ % 20 != 0), "eval-split docs leaked into the training pool")
    val contaminated = Curation.decontaminate(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds.intersect(contaminated).isEmpty,
      s"contaminated docs leaked: ${outIds.intersect(contaminated).take(5)}")
    // stage 3: the cap bites per source — output count per source is
    // exactly min(cap, surviving pool size per source), so the cap
    // neither over-prunes nor lets cleaned-away docs consume slots
    val srcOf = Relational.table(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val poolBySrc = (clean -- contaminated).filter(_ % 20 != 0)
      .groupBy(srcOf).view.mapValues(_.size).toMap
    val outBySrc = out.groupBy(_._2).view.mapValues(_.size).toMap
    poolBySrc.foreach { case (src, n) =>
      assert(outBySrc.getOrElse(src, 0) == math.min(Curation.sourceCap, n),
        s"source $src: expected min(${Curation.sourceCap}, $n), got ${outBySrc.getOrElse(src, 0)}")
    }
    // ranks are 1..count within each source
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq, s"rank gap in $src")
    }
  }

  test("C2 minhash recall: finds every exact n-gram near-dup pair") {
    val exact = Similarity.dedupNgram(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.dedupMinHash(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert((exact -- approx).isEmpty,
      s"minhash missed ${(exact -- approx).size} of ${exact.size} true pairs")
  }

  test("C27 persistent near-dup store: build+append pair set = exact n-gram pairs") {
    // the store's contract: after build(95%) + append(5%), pairs/ holds
    // exactly the exact-path pair set on the union — corpus-internal
    // pairs from the build, arrival-crossing ones from the append
    val exact = Similarity.dedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val store = Similarity.dedupIncrementalQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(store == exact,
      s"store missed ${(exact -- store).size}, invented ${(store -- exact).size} of ${exact.size}")
    // arrival-crossing pairs actually exercised: at least one pair
    // touches a held-out (doc_id % 20 == 7) arrival id
    assert(exact.exists(p => p._1 % 20 == 7 || p._2 % 20 == 7),
      "split leaves no arrival-crossing pairs — spec would not test the append path")
  }

  test("C27 hs-based minhash signature is bit-identical to the string-based formula") {
    // the store re-signs from persisted 8-byte hashes; the claim that
    // min(xxhash64(xxhash64(s), i)) over a DISTINCT hash set equals the
    // string formula over the raw multiset is load-bearing — pin it
    val docs = Relational.table(spark, dir, "documents").limit(200)
    val sh = docs.withColumn("shingles", expr(
      """transform(array(split(text, ' ')), toks ->
        |  array_distinct(CASE WHEN size(toks) < 3 THEN array(text)
        |  ELSE transform(sequence(0, size(toks) - 3),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |  END))[0]""".stripMargin))
    val both = sh
      .withColumn("hs", expr("array_distinct(transform(shingles, s -> xxhash64(s)))"))
      .withColumn("sig_str", expr(Similarity.minhashSigSql))
      .withColumn("sig_hs", expr(Similarity.minhashSigFromHsSql))
    assert(both.filter(col("sig_str") =!= col("sig_hs")).count() == 0)
  }

  test("C27 verify size-band: boundary pair survives, impossible pair drops") {
    import spark.implicits._
    // (1,2): |ha|=5, |hb|=4, inter=4 → J = 4/5 = 0.8 exactly — must
    // survive (the band's 20000/15999 integer form must not clip the
    // inclusive threshold); (2,3): |4| vs |10|, J = 0.4 — band-dropped
    // before the intersection, same verdict as the exact check
    val sh = Seq(
      (1L, Seq(10L, 11L, 12L, 13L, 14L)),
      (2L, Seq(10L, 11L, 12L, 13L)),
      (3L, Seq(10L, 11L, 12L, 13L, 24L, 25L, 26L, 27L, 28L, 29L))
    ).toDF("doc_id", "hs")
    val cands = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val out = Similarity.verifyPairs(cands, sh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set((1L, 2L, 0.8)))
  }

  test("C27 verify size-band never changes the survivor set (randomized equivalence)") {
    import spark.implicits._
    // all pairs over random small hash sets, banded verify vs the
    // pre-band formula — identical (da, db, j) sets, including rounding
    // boundaries (values from a small domain make near-0.8 J common)
    val rng = new scala.util.Random(7)
    // planted structure: even ids are a base set, odd ids a perturbed
    // copy (drop one element, sometimes add a fresh one) → J spans
    // (n−1)/n, (n−1)/(n+1), … — dense around the 0.8 threshold for the
    // sizes drawn; unrelated bases give the sub-threshold mass
    val docs = (0L until 60L by 2).flatMap { i =>
      val base = Seq.fill(4 + rng.nextInt(10))(rng.nextLong()).distinct
      val variant =
        if (rng.nextBoolean()) base.drop(1)
        else base.drop(1) :+ rng.nextLong()
      Seq(i -> base, (i + 1) -> variant)
    }
    val sh = docs.toDF("doc_id", "hs")
    val cands = (for { a <- 1L to 60L; b <- a + 1 to 60L } yield (a, b))
      .toDF("da", "db")
    val banded = Similarity.verifyPairs(cands, sh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unbanded = cands
      .join(sh.select(col("doc_id").as("da"), col("hs").as("ha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("hs").as("hb")), Seq("db"))
      .select(col("da"), col("db"), expr(
        """round(size(array_intersect(ha, hb)) * 1.0D /
          |(size(ha) + size(hb) - size(array_intersect(ha, hb))), 4)""".stripMargin).as("j"))
      .filter(col("j") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unbanded.nonEmpty, "random fixture produced no verified pairs — spec is vacuous")
    assert(banded === unbanded,
      s"band dropped ${(unbanded -- banded).size} / invented ${(banded -- unbanded).size} pairs")
  }

  test("C27 re-appending indexed ids is rejected loudly") {
    val idx = java.nio.file.Files.createTempDirectory("graft_c27_guard_").toString
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") < 100), idx)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToNearDupIndex(spark, idx, docs.filter(col("doc_id") < 10))
    }
    assert(e.getMessage.contains("re-inserts indexed doc ids"))
  }

  test("C27 batchId makes a completed append replay a no-op") {
    val idx = java.nio.file.Files.createTempDirectory("graft_c27_batch_").toString
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") < 200), idx)
    def filesOf(t: String) = filesUnder(Similarity.nearDupTablePaths(spark, idx, t))
    val tables = Seq("shingles", "bands", "pairs")
    val before = tables.map(filesOf)
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 250)
    val bound = Similarity.appendToNearDupIndex(spark, idx, batch, batchId = Some("day-1"))
    // the returned CensusCadence increment must dominate the files the
    // append actually added to EVERY table (the pairs table is the one
    // a rows-appended bound can undercount on dup-heavy streams)
    tables.zip(before).foreach { case (t, b) =>
      assert(filesOf(t) - b <= bound, s"$t gained ${filesOf(t) - b} files > bound $bound")
    }
    val pairsAfter = Similarity.nearDupIndexPairs(spark, idx).count()
    val shAfter = spark.read.parquet(Similarity.nearDupTablePaths(spark, idx, "shingles"): _*).count()
    // replaying the committed batch must touch nothing — and without
    // the marker the id guard would have thrown, so this also proves
    // the marker short-circuits BEFORE the guard; the no-op reports
    // zero files added, so the census bound does not drift on replays
    assert(Similarity.appendToNearDupIndex(spark, idx, batch, batchId = Some("day-1")) === 0L)
    assert(Similarity.nearDupIndexPairs(spark, idx).count() === pairsAfter)
    assert(spark.read.parquet(Similarity.nearDupTablePaths(spark, idx, "shingles"): _*).count() === shAfter)
  }

  test("C27 store compaction: fewer files, pair set and probe untouched") {
    import scala.jdk.CollectionConverters._
    val idx = java.nio.file.Files.createTempDirectory("graft_c27_compact_").toString
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") < 300), idx)
    // several small appends fragment each table
    Seq((300L, 350L), (350L, 400L), (400L, 450L)).foreach { case (lo, hi) =>
      Similarity.appendToNearDupIndex(spark, idx,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi))
    }
    def files(table: String) = filesUnder(Similarity.nearDupTablePaths(spark, idx, table))
    def pairs = Similarity.nearDupIndexPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val (fragShingles, pairsBefore) = (files("shingles"), pairs)
    assert(fragShingles > 1, "appends should have fragmented the shingles table")
    Similarity.compactNearDupIndex(spark, idx)
    // one target-size file per table at test scale; contents identical;
    // only the one live segment remains
    Seq("shingles", "bands", "pairs").foreach(t => assert(files(t) === 1, s"$t not compacted"))
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("seg_")).toSeq
    assert(segs.size === 1, s"superseded segments not swept: $segs")
    assert(pairs === pairsBefore)
    // the compacted store still accepts and scores arrivals
    Similarity.appendToNearDupIndex(spark, idx,
      docs.filter(col("doc_id") >= 450))
    assert(pairs.size >= pairsBefore.size)
  }

  test("C2 simhash: near-identical docs collide within hamming radius") {
    val exact = Similarity.dedupNgram(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Similarity.dedupSimHash(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(sim.contains).toDouble / math.max(exact.size, 1)
    assert(recall >= 0.8, s"simhash recall $recall below 0.8 (found ${sim.size} pairs)")
  }

  test("C2 cosine-LSH: recovers all planted noisy duplicates") {
    val pairs = Similarity.dedupCosineLsh(spark, dir).collect()
    val e = Relational.table(spark, dir, "embeddings")
    val n = e.count()
    // data-derived offset (max(100000, maxId+1)) — a fixed constant
    // collided with real ids past 100k rows (round-7 advice)
    val off = Similarity.plantedOffset(e)
    val planted = pairs.count(r => r.getLong(1) == r.getLong(0) + off)
    assert(planted == n, s"recovered $planted of $n planted duplicates")
  }

  test("C29 quality classifier: held-out agreement with the weak labeler") {
    // sf0.01: the sf0.001 holdout is 3 docs — too small to measure
    val out = Pipeline.qualityClassifier(spark, "/root/testdata/sf0.01").collect()
    assert(out.length >= 20, s"holdout unexpectedly small: ${out.length}")
    val agree = out.count(r => r.getDouble(1) == r.getDouble(2))
    val rate = agree.toDouble / out.length
    assert(rate >= 0.8, s"classifier agrees with weak labels on $rate of holdout")
    // probabilities are real probabilities, and agreement is not the
    // degenerate all-one-class predictor
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(out.map(_.getDouble(2)).distinct.length == 2,
      "predictor collapsed to a single class")
  }

  test("C29b persisted classifier: fit-once weights, map-only scoring, score parity") {
    val sf01 = "/root/testdata/sf0.01"
    val modelDir = java.nio.file.Files.createTempDirectory("graft_c29b_spec").toString
    val docs = Relational.table(spark, sf01, "documents")
    Pipeline.fitQualityClassifier(spark, docs.filter(col("doc_id") % 20 =!= 7), modelDir)
    val holdout = docs.filter(col("doc_id") % 20 === 7)
    val scoredDf = Pipeline.scoreWithClassifier(spark, holdout, modelDir)
    // the deployment contract: scoring is ONE broadcast of the weight
    // row + a map pass — no exchange, no fit, no ML pipeline
    val plan = scoredDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"score path is not map-only:\n$plan")
    val scored = scoredDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(scored.length >= 20, s"holdout unexpectedly small: ${scored.length}")
    // parity: recompute every margin driver-side from the PERSISTED
    // weights, hashing tokens through Spark SQL itself (the same
    // pmod(hash, 4096) both fit and score use)
    val m = spark.read.parquet(s"${IndexMeta.liveGen(spark, modelDir, "model").get}/model").head()
    val w = m.getSeq[Double](0); val b = m.getDouble(1); val med = m.getDouble(2)
    assert(w.length === 4096)
    val buckets = holdout
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), pmod(hash(col("t")), lit(4096)).as("bkt"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    scored.foreach { case (id, pred, p) =>
      val margin = b + buckets(id).map(w(_)).sum
      val pp = 1.0 / (1.0 + math.exp(-margin))
      val ppR = java.math.BigDecimal.valueOf(pp)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      assert(math.abs(p - ppR) <= 1e-4, s"doc $id: served p=$p, recomputed $ppR")
      if (math.abs(margin) > 1e-9)
        assert(pred === (if (margin > 0) 1.0 else 0.0), s"doc $id prediction mismatch")
    }
    // the model LEARNED the weak labeler: holdout agreement ≥ 0.8
    // against labels derived with the persisted fit-time median
    val weak = holdout
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_cnt", expr(
        "size(filter(toks, t -> t in ('the','a','and','of','to','in','is','it')))"))
      .withColumn("q",
        least(col("n_tokens") * lit(1.0) / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("stop_cnt") * lit(1.0) / col("n_tokens")) * 0.5)
      .select(col("doc_id"), (col("q") >= med).cast("double").as("label"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val agree = scored.count { case (id, pred, _) => weak(id) == pred }
    val rate = agree.toDouble / scored.length
    assert(rate >= 0.8, s"classifier agrees with weak labels on only $rate of holdout")
    // refit-free reuse: a second score pass reads the same persisted
    // weights and reproduces the result bit-for-bit
    val again = Pipeline.scoreWithClassifier(spark, holdout, modelDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(again.sortBy(_._1).toSeq === scored.sortBy(_._1).toSeq)
  }

  test("C2 SemDeDup: planted duplicates drop with their base twin as witness") {
    val df = Similarity.dedupSemantic(spark, dir)
    // the Hamming screen must ride the join CONDITION as unrolled
    // popcounts — a HOF (zip_with/aggregate) there allocates per
    // enumerated pair, the allocation-storm trap at Θ(n^1.5) pairs.
    // (optimizedPlan, not executedPlan: AQE's top-level string elides
    // the inner join subtree where the condition lives)
    // (scoped to the join's own line: zip_with legitimately appears in
    // the planted-noisy JITTER projection elsewhere in the plan)
    val plan = df.queryExecution.optimizedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("bit_count"))
    assert(joinLine.isDefined, "Hamming screen missing from the plan")
    assert(joinLine.get.contains("Join"),
      s"popcounts not in a join condition: ${joinLine.get.trim.take(120)}")
    assert(!joinLine.get.contains("lambdafunction"),
      "screen regressed to a HOF in the join condition")
    val drops = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val e = Relational.table(spark, dir, "embeddings")
    val n = e.count()
    val off = Similarity.plantedOffset(e)
    // every planted noisy copy (id + plantedOffset) lands in its twin's
    // cluster (±0.001 jitter cannot cross a centroid boundary here)
    // and the keep rule names the LOWEST-id duplicate — the base twin
    val planted = drops.filter { case (dropped, keptBy) =>
      dropped >= off && keptBy == dropped - off
    }
    assert(planted.size == n, s"recovered ${planted.size} of $n planted duplicates")
    // no base vector is dropped: the corpus has no natural ≥0.99 pair,
    // and planted ids order above every base id
    assert(drops.keys.forall(_ >= off),
      s"base vectors wrongly dropped: ${drops.keys.filter(_ < off).take(5)}")
  }

  test("C2 SemDeDup constant-population knob: cellPop output matches the sqrt-n configuration") {
    // graft.semdedup.cellPop = the 100 TB linearity knob (k = n/pop
    // instead of sqrt(n)). Granularity changes WHICH cells exist, but a
    // planted twin sits within jitter of its base so both land in the
    // same cell at any granularity — the drop set must be invariant.
    val base = Similarity.dedupSemantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("graft.semdedup.cellPop", "100")
    try {
      val popped = Similarity.dedupSemantic(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(popped === base,
        s"cellPop changed the drop set: extra=${(popped -- base).take(5)} " +
          s"missing=${(base -- popped).take(5)}")
    } finally spark.conf.unset("graft.semdedup.cellPop")
  }

  test("C2 incremental semantic dedup: arrivals drop against indexed twins only") {
    val df = Similarity.queries("c2_dedup_semantic_inc")(spark, dir)
    // c27 probe doctrine: the arrival side broadcasts, the corpus sigs
    // scan is map-only — no hash exchange on the cell key anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"arrival probe is not a broadcast join:\n$plan")
    assert(!plan.contains("hashpartitioning(cell"),
      s"corpus side pays a cell-key exchange:\n$plan")
    val out = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    val corpusIds = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    val off = Similarity.plantedOffset(e)
    // every planted twin (corpus id + plantedOffset) drops, witnessed
    // by its indexed original
    // full recall: the ±0.001 jitter can flip an argmin assignment to
    // the SECOND-nearest cell (measured 1-in-475 at probeCells=1), and
    // the arrival-side nearest-2 probe exists to catch exactly that
    val twins = out.filter { case (a, k) => a >= off && k == a - off }
    assert(twins.size == corpusIds.size,
      s"dropped ${twins.size} of ${corpusIds.size} planted twins")
    // the genuinely-new held-out arrivals pass (no natural ≥0.99 pair)
    val falseDrops = out.keys.filter(_ < off)
    assert(falseDrops.isEmpty, s"held-out arrivals wrongly dropped: ${falseDrops.take(5)}")
  }

  test("C2 incremental semantic dedup over a constant-population index: drops match the flat index") {
    // index built under graft.semdedup.cellPop persists the flat global
    // sub-centroid codebook (flat readers unchanged) PLUS the coarse
    // codebook, and the incremental probe goes
    // hierarchical. The planted-twin drop set must match the flat
    // index's exactly at this scale.
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7).select(col("vec_id"), col("embedding"))
    val off = Similarity.plantedOffset(e)
    val arrivals = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Similarity.plantedNoisy(corpus, off).select(col("vec_id"), col("embedding")))
      .localCheckpoint()
    val flatIdx = java.nio.file.Files.createTempDirectory("graft_inc_flat").toString
    Similarity.buildIvfIndexFrom(spark, corpus, flatIdx)
    val flat = Similarity.dedupSemanticIncremental(spark, flatIdx, arrivals)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val popIdx = java.nio.file.Files.createTempDirectory("graft_inc_pop").toString
    spark.conf.set("graft.semdedup.cellPop", "100")
    try {
      Similarity.buildIvfIndexFrom(spark, corpus, popIdx)
      assert(Similarity.ivfCodebook(spark, popIdx).coarse.isDefined,
        "two-level build did not persist the coarse codebook")
      val popped = Similarity.dedupSemanticIncremental(spark, popIdx, arrivals)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(popped === flat,
        s"two-level index changed the drop set: extra=${(popped -- flat).take(5)} " +
          s"missing=${(flat -- popped).take(5)}")
    } finally spark.conf.unset("graft.semdedup.cellPop")
    // and a √n rebuild over the two-level index retires the coarse
    // codebook so the flat probe resumes
    Similarity.buildIvfIndexFrom(spark, corpus, popIdx)
    assert(Similarity.ivfCodebook(spark, popIdx).coarse.isEmpty,
      "sqrt-n rebuild left a stale coarse codebook")
  }

  test("C2 multi-branch coarse probe (coarseProbes) widens hierarchical recall monotonically") {
    // graft.semdedup.coarseProbes = the FAISS-style coarse-nprobe knob:
    // search the top-b coarse branches instead of only the nearest —
    // the production answer to the hierarchical probe's coarse-boundary
    // recall dip (BASELINE.md round 9: 993-995/1000 planted twins at b=1 vs
    // the flat index's 999-1000). Three pinned properties: b=2 drops
    // are a SUPERSET of b=1 (TwoLevelCells prefix monotonicity made
    // structural), b=2 drops match the FLAT index's at this scale
    // (recall parity with the full k-cell scan), and placement is
    // b-invariant so the knob can change over an index's lifetime.
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7).select(col("vec_id"), col("embedding"))
    val off = Similarity.plantedOffset(e)
    val arrivals = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Similarity.plantedNoisy(corpus, off).select(col("vec_id"), col("embedding")))
      .localCheckpoint()
    val flatIdx = java.nio.file.Files.createTempDirectory("graft_cp_flat").toString
    Similarity.buildIvfIndexFrom(spark, corpus, flatIdx)
    val flat = Similarity.dedupSemanticIncremental(spark, flatIdx, arrivals)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val popIdx = java.nio.file.Files.createTempDirectory("graft_cp_pop").toString
    spark.conf.set("graft.semdedup.cellPop", "100")
    try {
      Similarity.buildIvfIndexFrom(spark, corpus, popIdx)
      // b=1 is the opt-in economy mode since round 11 (default is 2)
      spark.conf.set("graft.semdedup.coarseProbes", "1")
      val b1 = Similarity.dedupSemanticIncremental(spark, popIdx, arrivals)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("graft.semdedup.coarseProbes", "2")
      val b2 = Similarity.dedupSemanticIncremental(spark, popIdx, arrivals)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(b1.subsetOf(b2),
        s"widening the coarse probe LOST drops: ${(b1 -- b2).take(5)}")
      assert(b2 === flat,
        s"b=2 hierarchical recall diverges from the flat index: " +
          s"extra=${(b2 -- flat).take(5)} missing=${(flat -- b2).take(5)}")
    } finally {
      spark.conf.unset("graft.semdedup.coarseProbes")
      spark.conf.unset("graft.semdedup.cellPop")
    }
  }

  test("C3 drift lifecycle: shifted arrivals degrade twin recall; the metric fires; rebuild restores") {
    import spark.implicits._
    val e = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = Similarity.freshScratch(spark, "graft_drift_spec_")
    Similarity.buildIvfIndexFrom(spark, e, idx)
    // in-distribution control: a resample of the corpus itself sits ≈ 1
    val ctrl = Similarity.quantizerDrift(spark, idx, e.filter(col("vec_id") % 3 === 0))
    assert(ctrl < 2.0, s"in-distribution drift $ctrl not ≈ 1")
    // ---- shifted arrival fixture. Two components:
    // (a) planted near-twin pairs ON frozen Voronoi boundaries —
    //     midpoints of close centroid pairs ± δ along the inter-
    //     centroid axis, kept only when the two ends VERIFIABLY assign
    //     to different frozen cells (the geometry a distribution shift
    //     creates when frozen cells cut through new-region modes);
    // (b) a far bulk (each centroid displaced by a uniform per-dim
    //     shift sized from the build's own quantizer baseline, so the
    //     batch mean lands ~50× it) that carries the drift mass.
    val cents = centroidsOf(idx).map { case (c, v) => (c, v.map(_.toDouble)) }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def nearestCell(x: Array[Double]): Int = cents.minBy(c => d2(c._2, x))._1
    val used = scala.collection.mutable.Set.empty[Int]
    val closePairs = cents.flatMap { case (i, ci) =>
      if (used(i)) None else {
        val cand = cents.filter(c => c._1 != i && !used(c._1))
          .minBy(c => d2(c._2, ci))
        used += i; used += cand._1
        Some((ci, cand._2))
      }
    }
    val modes = closePairs.toSeq.flatMap { case (ca, cb) =>
      val gap = math.sqrt(d2(ca, cb))
      val m = ca.zip(cb).map { case (x, y) => (x + y) / 2 }
      val del = 0.05 * gap
      val q = m.zip(ca.zip(cb)).map { case (x, (a, b)) => x - del * (b - a) / gap }
      val t = m.zip(ca.zip(cb)).map { case (x, (a, b)) => x + del * (b - a) / gap }
      if (nearestCell(q) != nearestCell(t)) Some((q, t)) else None
    }
    assert(modes.size >= 4, s"fixture straddles only ${modes.size} boundaries")
    val queries = modes.zipWithIndex.map { case ((q, _), i) =>
      (900000L + i, q.map(_.toFloat)) }
    val twins = modes.zipWithIndex.map { case ((_, t), i) =>
      (910000L + i, t.map(_.toFloat)) }
    val baseMean = Similarity.ivfHeader(spark, idx, "the spec").meanSqDist
    val shift = math.sqrt(60.0 * baseMean / cents.head._2.length)
    val bulk = (0 until 100).map { j =>
      (920000L + j, cents(j % cents.length)._2.map(x => (x + shift).toFloat))
    }
    val arrivals = (queries ++ twins ++ bulk).toDF("vec_id", "embedding")
      .localCheckpoint()
    Similarity.appendToIvfIndex(spark, idx, arrivals)
    // recall probe at nprobe=1 (assignment-level recall — where
    // boundary splits are visible; wider probes only delay the
    // symptom while the metric catches the cause batch-one)
    spark.conf.set("graft.ann.nprobe", "1")
    try {
      def twinRecall(): Double = {
        val qDf = queries.toDF("vec_id", "embedding")
        val top = Similarity.annIvfBatch(spark, idx, qDf, k = 1).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        queries.count { case (qid, _) =>
          top.get(qid).contains(qid - 900000L + 910000L)
        }.toDouble / queries.size
      }
      val recallPre = twinRecall()
      assert(recallPre <= 0.25,
        s"boundary twins unexpectedly retrievable pre-rebuild: $recallPre")
      val driftPre = Similarity.quantizerDrift(spark, idx, arrivals)
      assert(driftPre > 4.0, s"drift metric did not fire: $driftPre")
      assert(Similarity.rebuildIvfIfDrifted(spark, idx, arrivals),
        "policy op did not rebuild above threshold")
      val recallPost = twinRecall()
      assert(recallPost >= 0.75 && recallPost > recallPre,
        s"rebuild did not restore twin recall: $recallPre -> $recallPost")
      val driftPost = Similarity.quantizerDrift(spark, idx, arrivals)
      assert(driftPost < 4.0, s"post-rebuild drift still high: $driftPost")
      assert(!Similarity.rebuildIvfIfDrifted(spark, idx, arrivals),
        "policy op rebuilt again below threshold")
    } finally spark.conf.unset("graft.ann.nprobe")
  }

  test("compaction cadence: file-count trigger compacts once, then holds") {
    val idx = java.nio.file.Files.createTempDirectory("graft_cadence_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark,
      e.filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("embedding")), idx)
    (1 to 3).foreach { i =>
      Similarity.appendToIvfIndex(spark, idx,
        e.filter(col("vec_id") % 4 === i).select(col("vec_id"), col("embedding")))
    }
    val fragmented = filesUnder(Similarity.liveVectorsPaths(spark, idx))
    // a generous threshold does not trigger
    assert(!Similarity.compactIvfIndexIfFragmented(spark, idx, maxFiles = fragmented + 1))
    // a tight one compacts, and the follow-up probe still serves
    assert(Similarity.compactIvfIndexIfFragmented(spark, idx, maxFiles = 1))
    val after = filesUnder(Similarity.liveVectorsPaths(spark, idx))
    assert(after < fragmented, s"compaction did not shrink files: $fragmented -> $after")
    // idempotent at the new file count (unless still over the bound)
    assert(!Similarity.compactIvfIndexIfFragmented(spark, idx, maxFiles = after))
    assert(Similarity.annIvfIndexed(spark, dir, idx).collect().length === 10)
  }

  test("probe dispatch: broadcast and shuffle_hash probe plans agree") {
    // near-dup store: same arrivals, both plans, hash-identical pairs
    val idx = java.nio.file.Files.createTempDirectory("graft_dispatch_spec").toString
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx)
    val arr = Similarity.hashedShingles(spark,
      docs.filter(col("doc_id") % 20 === 7)).localCheckpoint()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val bc = Similarity.probeNearDupIndex(spark, idx, arr)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "default dispatch below the threshold must broadcast the arrival side")
    val bcPairs = pairsOf(bc)
    spark.conf.set("graft.probe.broadcastMaxRows", "0")
    try {
      val sh = Similarity.probeNearDupIndex(spark, idx, arr)
      val shPlan = sh.queryExecution.executedPlan.toString
      assert(shPlan.contains("ShuffledHashJoin"),
        s"over-threshold dispatch did not take the shuffle_hash plan:\n$shPlan")
      assert(pairsOf(sh) === bcPairs,
        "shuffle_hash probe diverges from the broadcast probe")
      // semantic-inc under the shuffle plan: identical drop list
      val shSem = Similarity.queries("c2_dedup_semantic_inc")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.conf.unset("graft.probe.broadcastMaxRows")
      val bcSem = Similarity.queries("c2_dedup_semantic_inc")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(shSem === bcSem,
        "semantic-inc shuffle_hash probe diverges from the broadcast probe")
    } finally spark.conf.unset("graft.probe.broadcastMaxRows")
  }

  test("C12b semantic decontamination: eval twins flag, clean corpus passes, corpus stays map-only") {
    val df = Similarity.queries("c12b_decontaminate_semantic")(spark, dir)
    // plan: the eval side broadcasts; the corpus side pays NO exchange
    // before the hits aggregate (the mirror of the incremental probe)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval index not broadcast:\n$plan")
    assert(!plan.contains("hashpartitioning(cell"),
      s"corpus pays a cell-key exchange:\n$plan")
    val flags = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val e = Relational.table(spark, dir, "embeddings")
    val evalIds = e.filter(org.apache.spark.sql.functions.col("vec_id") % 20 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val off = Similarity.plantedOffset(e)
    // every planted twin of an eval vector flags, witnessed by it
    val twins = flags.filter { case (c, w) => c >= off && w == c - off }
    assert(twins.size == evalIds.size,
      s"flagged ${twins.size} of ${evalIds.size} planted eval twins")
    assert(twins.values.toSet == evalIds)
    // no clean corpus vector flags (no natural ≥0.99 cross pair)
    val falseFlags = flags.keys.filter(_ < off)
    assert(falseFlags.isEmpty, s"clean corpus wrongly flagged: ${falseFlags.take(5)}")
  }

  test("C2 semantic-dedup crash replay: re-probing a committed batch is drop-identical") {
    // the c22c exactly-once window: a micro-batch crashes AFTER its
    // append commits (marker present) but BEFORE the sink write; the
    // streaming engine replays it, the re-append is a marker no-op,
    // and the re-PROBE runs against an index that now contains the
    // batch's own survivors. The drop list must be IDENTICAL — in
    // particular no survivor may self-drop against its own appended
    // row (the a.vec_id =!= c.vec_id exclusion)
    val idx = java.nio.file.Files.createTempDirectory("graft_sem_replay").toString
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    Similarity.buildIvfIndexFrom(spark,
      corpus.select(col("vec_id"), col("embedding")), idx)
    val off = Similarity.plantedOffset(e)
    val b1 = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val first = Similarity.dedupSemanticWithAppend(spark, idx, b1, Some("replay_spec"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the replay: same batchId (append no-op), probe sees the
    // survivors — every arrival here survived, so a missing exclusion
    // would self-drop ALL of them
    val replayed = Similarity.dedupSemanticWithAppend(spark, idx, b1, Some("replay_spec"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed === first,
      s"replayed drop list diverged: extra=${(replayed -- first).take(5)} " +
        s"missing=${(first -- replayed).take(5)}")
    assert(!replayed.exists { case (a, k) => a == k }, "survivors self-dropped on replay")
  }

  test("C2 semantic-dedup cycle: WITHIN-batch twins drop — batching must not change dedup") {
    // the round-11 soak discriminator: the same 5% slice produced 750
    // drops in 32 micro-batches and 0 in 8, because twin pairs landing
    // in one batch were only screened against the index. The cycle must
    // drop the higher-id member of a same-batch twin pair, keep the
    // lower, and REPLAY identically (the survivor is then in the index,
    // so a missing self-screen would flip verdicts between runs).
    val idx = java.nio.file.Files.createTempDirectory("graft_sem_selfscreen").toString
    val e = Relational.table(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 20 =!= 7)
    Similarity.buildIvfIndexFrom(spark,
      corpus.select(col("vec_id"), col("embedding")), idx)
    val off = Similarity.plantedOffset(e)
    // one batch: three distinct held-outs + an EXACT twin of the first
    // under a higher id — all four genuinely new to the index
    val held = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding")).limit(3).localCheckpoint()
    val ids = held.collect().map(_.getLong(0)).sorted
    val twin = held.filter(col("vec_id") === ids.head)
      .select((col("vec_id") + lit(10 * off)).as("vec_id"), col("embedding"))
    val batch = held.unionByName(twin).localCheckpoint()
    val drops = Similarity.dedupSemanticWithAppend(spark, idx, batch, Some("selfscreen_spec"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drops === Set((ids.head + 10 * off, ids.head)),
      s"within-batch twin not dropped against its lower-id sibling: $drops")
    // replay: the append is a marker no-op, the kept sibling is now IN
    // the index — verdicts must not change
    val replayed = Similarity.dedupSemanticWithAppend(spark, idx, batch, Some("selfscreen_spec"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed === drops, s"self-screen replay diverged: $replayed vs $drops")
  }

  test("C2 semantic-dedup append cycle: batch-2 twins drop against batch-1 survivors") {
    val drops2 = Similarity.queries("c2_dedup_semantic_cycle")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val e = Relational.table(spark, dir, "embeddings")
    val off = Similarity.plantedOffset(e)
    // batch-1 survivors are exactly the held-out 5% (batch-1 twins of
    // indexed vectors all dropped — proven by the _inc spec above);
    // batch 2 plants one twin per survivor at offset 2·off
    val survivorIds = e.filter(col("vec_id") % 20 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every batch-2 twin drops, witnessed by the batch-1 survivor it
    // twins — which is only in the index if the cycle appended it
    val caught = drops2.filter { case (a, k) => k == a - 2 * off }
    assert(caught.size == survivorIds.size,
      s"caught ${caught.size} of ${survivorIds.size} batch-2 twins of batch-1 survivors")
    assert(caught.values.toSet == survivorIds,
      "batch-2 twins witnessed by something other than the batch-1 survivors")
    // and nothing else was dropped (twins are the only ≥0.99 pairs)
    assert(drops2.size == caught.size,
      s"unexpected extra drops: ${(drops2.keySet -- caught.keySet).take(5)}")
  }

  test("C2 semantic-dedup append cycle under cellPop: identical drops through the two-level index") {
    // pins the WHOLE lifecycle (build → probe → append → probe) on the
    // constant-population index: batch-1 twins drop against the
    // hierarchical index, batch-1 survivors append through the SAME
    // indexCellsCol hierarchical kernel the probe uses (a round-9 bug
    // placed them flat-global while the probe searched
    // branch-restricted — 40% of appended-survivor twins unfindable),
    // batch-2 twins of those survivors drop through the hierarchical
    // probe — same drop map as the default sqrt-n cycle at this scale.
    val base = Similarity.queries("c2_dedup_semantic_cycle")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.conf.set("graft.semdedup.cellPop", "100")
    try {
      val popped = Similarity.queries("c2_dedup_semantic_cycle")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(popped === base,
        s"cellPop cycle diverged: extra=${(popped.toSet -- base.toSet).take(5)} " +
          s"missing=${(base.toSet -- popped.toSet).take(5)}")
    } finally spark.conf.unset("graft.semdedup.cellPop")
  }

  test("C3i batch ANN: per-query recall vs exact; one pruned scan; no self-match; ranks dense") {
    import org.apache.spark.sql.expressions.Window
    val probe = Similarity.queries("c3_ann_batch")(spark, dir)
    val got = probe.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val queries = got.map(_._1).distinct.sorted
    assert(queries.length >= 20, s"query set too thin to test: ${queries.length}")
    // rank contract: per query, rnk is 1..k with sim non-increasing
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to sorted.length), s"query $qid ranks not dense")
      assert(sorted.map(_._3).toSeq.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"query $qid sims not non-increasing")
      assert(rows.forall(_._2 != qid), s"query $qid matched itself")
    }
    // per-query recall vs the EXACT brute-force top-10 over the same
    // corpus (self excluded) — the single-query flat probe's bar (0.5,
    // nprobe=8 of √n cells) must hold for EVERY query in the batch on
    // average, not just vec_id 0
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = e.crossJoin(q).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.cosineExpr("embedding", "qv"), 4).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rnk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exactByQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val gotByQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(gotByQ.keySet === exactByQ.keySet, "batch dropped or invented a query")
    val recalls = exactByQ.map { case (qid, ex) =>
      ex.count(gotByQ(qid).contains).toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean per-query recall $mean below 0.5 across ${recalls.size} queries")
    // plan pins: the probed-cell union is a PARTITION filter on ONE
    // layout scan (never a scan per query — the whole point), and the
    // query side broadcasts at this batch size (the dispatch contract)
    // under AQE the rendered executed plan carries BOTH a final and an
    // initial section — count scans in the final section only
    val plan = probe.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"probed-cell union did not become a partition filter:\n$plan")
    val layoutScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("graft_ivf_index"))
    assert(layoutScans == 1, s"expected ONE pruned layout scan, got $layoutScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query side not broadcast at spec batch size:\n$plan")
  }

  test("C3 IVF ANN: high recall vs exact top-k") {
    val exact = Similarity.simTopK(spark, dir).select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.annIvf(spark, dir).select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below 0.5")
  }

  test("C3g filtered search: results pass the filter; widened probe holds recall") {
    val allowed = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.simTopKFiltered(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    assert(exact.length == 10 && exact.forall(allowed.contains),
      "exact filtered top-k returned an id outside the lang filter")
    // the filtered set must genuinely differ from the unfiltered one —
    // otherwise this spec tests nothing (lang='en' is ~38% of docs)
    val unfiltered = Similarity.simTopK(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!exact.toSet.subsetOf(unfiltered),
      "filter did not change the top-k — test corpus degenerate")
    val probe = Similarity.queries("c3_ann_filtered")(spark, dir)
    val approx = probe.select("vec_id").collect().map(_.getLong(0))
    assert(approx.forall(allowed.contains),
      "indexed filtered probe returned an id outside the lang filter")
    val recall = exact.count(approx.toSet.contains).toDouble / exact.length
    assert(recall >= 0.8, s"filtered-ANN recall $recall below 0.8")
    // plan shape: the widened cell set must still PRUNE the layout scan
    // (partition filter, not a data filter over all cells), and the
    // lang predicate must reach the documents parquet scan
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"cell IN (...) did not become a partition filter:\n$plan")
    assert("PushedFilters: \\[[^\\]]*lang[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"lang predicate not pushed to the documents scan:\n$plan")
    // the PQ composition: allowed-id semi-join BEFORE ADC scoring, so
    // the 8-byte-code path holds the same filtered recall
    val pq = Similarity.queries("c3_ann_pq_filtered")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    assert(pq.forall(allowed.contains),
      "PQ filtered probe returned an id outside the lang filter")
    val pqRecall = exact.count(pq.toSet.contains).toDouble / exact.length
    assert(pqRecall >= 0.8, s"filtered-PQ recall $pqRecall below 0.8")
  }

  test("C30 diversity sample: flattens a planted blob, keeps the tail, deterministic") {
    // 400 exact copies of one vector (a near-dup blob, 80% of the
    // corpus) + 100 genuinely spread real vectors. Coincident blob
    // rows all argmin-assign to one cell (deterministic first-min), so
    // the √-quota must crush the blob's 80% population share while
    // hash-ranked in-cell choice keeps the pick deterministic.
    val planted = java.nio.file.Files.createTempDirectory("graft_c30_spec").toString
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val blobVec = e.filter(col("vec_id") === 0).select("embedding")
    val blob = spark.range(1000, 1400).toDF("vec_id")
      .crossJoin(broadcast(blobVec))
    val tail = e.filter(col("vec_id").between(1, 100))
      .select(col("vec_id"), col("embedding"))
    blob.unionByName(tail).withColumn("label", lit(0))
      .write.parquet(s"$planted/embeddings.parquet")
    val s1 = Similarity.sampleDiverse(spark, planted)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val s2 = Similarity.sampleDiverse(spark, planted)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "diversity sample is not deterministic across runs")
    assert(s1.size >= 25 && s1.size <= 75,
      s"sample size ${s1.size} far from the n/10 = 50 target")
    val blobShare = s1.count(_ >= 1000).toDouble / s1.size
    assert(blobShare <= 0.5,
      s"blob is 80% of the corpus but must be flattened in the sample; got $blobShare")
    assert(s1.count(_ < 1000) >= 10,
      s"tail underrepresented: ${s1.count(_ < 1000)} of ${s1.size}")
  }

  test("C3 IVF-PQ: 8-byte codes + ADC shortlist keep exact-top-k recall") {
    // at sf0.001 every cell is probed (nprobe ≥ k) and the shortlist
    // nearly exhausts the corpus, so any miss here is PQ quantization
    // loss itself — the re-rank must hold recall at the flat-IVF bar
    val exact = Similarity.simTopK(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.length === 10)
    val recall = exact.count(pq.map(_._1).toSet.contains).toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ recall@10 $recall below 0.8")
    // the re-rank is EXACT cosine: every served similarity must equal
    // the brute-force value for that id
    val exactSims = Similarity.simTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    pq.filter(p => exactSims.contains(p._1)).foreach { case (id, s) =>
      assert(s === exactSims(id), s"re-ranked sim for $id diverges from exact")
    }
  }

  test("C3 PQ sidecar: persisted codes serve the probe; staleness refuses; re-derive repairs") {
    val indexDir = java.nio.file.Files.createTempDirectory("graft_pq_sidecar_spec").toString
    Similarity.buildIvfIndex(spark, dir, indexDir)
    Similarity.addPqToIndex(spark, indexDir)
    val probe = Similarity.annIvfPqIndexed(spark, dir, indexDir)
    // the ADC scan over the codes layout must PARTITION-PRUNE to the
    // probed cells, exactly like the vectors probe — a codes scan that
    // lists every cell directory forfeits the sidecar's point
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"codes scan does not partition-prune on cell:\n$plan")
    val served = probe.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(served.length === 10)
    // the persisted-codes probe holds the per-query fit's recall bar vs
    // exact (codebooks are refit on the layout's partitioning, so
    // low-bit KMeans divergence forbids byte-parity as the assertion)
    val exact = Similarity.simTopK(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = exact.count(served.map(_._1).toSet.contains).toDouble / exact.size
    assert(recall >= 0.8, s"persisted-PQ recall@10 $recall below 0.8")
    // re-ranked sims are exact cosine
    val exactSims = Similarity.simTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    served.filter(p => exactSims.contains(p._1)).foreach { case (id, s) =>
      assert(s === exactSims(id), s"served sim for $id diverges from exact")
    }
    // an APPEND (one new segment) must flip the sidecar stale — codes
    // missing the appended vectors must never serve
    import spark.implicits._
    val e = Relational.table(spark, dir, "embeddings")
    // plant an exact copy of the query vector under a fresh id: its
    // cosine is 1.0, so the repaired codes path MUST serve it at #1
    val extra = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, indexDir, extra)
    val ex = intercept[IllegalArgumentException] {
      Similarity.annIvfPqIndexed(spark, dir, indexDir).collect()
    }
    assert(ex.getMessage.contains("STALE"))
    // repair after an APPEND is the Θ(batch) DELTA path (round-8): the
    // books FREEZE (same generation — no refit) and the new segment's
    // codes — its one row, nothing else — land as a second codes
    // generation
    val metaBefore = Similarity.livePqMeta(spark, indexDir).get
    Similarity.addPqToIndex(spark, indexDir)
    val metaAfter = Similarity.livePqMeta(spark, indexDir).get
    assert(metaAfter.booksGen === metaBefore.booksGen,
      "append repair refit the books — the delta path must freeze them")
    assert(metaAfter.codesGens.size === metaBefore.codesGens.size + 1,
      s"append repair did not add exactly one codes delta generation: " +
        s"${metaBefore.codesGens} -> ${metaAfter.codesGens}")
    val segs = Similarity.ivfHeader(spark, indexDir, "the spec").segments
    assert(metaBefore.segments.size === 1 && metaAfter.segments === segs && segs.size === 2,
      s"the repaired sidecar does not cover the live segments: ${metaAfter.segments} vs $segs")
    assert(spark.read.parquet(s"$indexDir/${metaAfter.codesGens.last}").count() === 1,
      "the delta encoded more than the appended segment")
    // delta-parity oracle: because the books did not move, the live
    // codes (base + delta) must equal a full re-encode of every live
    // vector against the SAME frozen books, row for row
    val live = Similarity.pqCodesTable(spark, indexDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val reenc = Similarity.pqEncodeAllWithLiveBooks(spark, indexDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(live === reenc,
      "delta-appended codes diverge from a frozen-books re-encode")
    // ... and the appended twin serves through the delta codes
    val after = Similarity.annIvfPqIndexed(spark, dir, indexDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(after.head._1 === 500000L && after.head._2 === 1.0,
      s"appended exact twin of the query not served first: ${after.toSeq}")
    // a COMPACTION rewrites the layout (new vectors generation): the
    // sidecar flips stale and the repair is the full re-derive —
    // refit books, one codes generation again
    Similarity.compactIvfIndex(spark, indexDir)
    assert(!Similarity.pqSidecarFresh(spark, indexDir),
      "sidecar claims fresh across a layout rewrite")
    Similarity.addPqToIndex(spark, indexDir)
    val metaCompact = Similarity.livePqMeta(spark, indexDir).get
    assert(metaCompact.booksGen !== metaAfter.booksGen,
      "compaction repair did not refit the books")
    assert(metaCompact.codesGens.size === 1,
      s"compaction repair left ${metaCompact.codesGens.size} codes generations")
    val afterCompact = Similarity.annIvfPqIndexed(spark, dir, indexDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(afterCompact.head._1 === 500000L && afterCompact.head._2 === 1.0)
  }

  test("C3 persistent IVF index: partition-pruned probes, byte-identical to the per-query fit") {
    // every dir this test makes (its index, a corpus copy, the wrapper's
    // cache dirs) lives under one index root it deletes at the end
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_spec_root")
    spark.conf.set("graft.index.root", root.toString)
    try persistentIvfSpec(root)
    finally {
      spark.conf.unset("graft.index.root")
      IndexMeta.delete(spark, root.toString)
    }
  }

  private def persistentIvfSpec(root: java.nio.file.Path): Unit = {
    val indexDir = java.nio.file.Files.createTempDirectory(root, "graft_ivf_spec").toString
    Similarity.buildIvfIndex(spark, dir, indexDir)
    val indexed = Similarity.annIvfIndexed(spark, dir, indexDir)
    // same quantizer (same data, fixed seed) → the indexed query must
    // reproduce the per-query-fit result EXACTLY, not just in recall
    val fromIndex = indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromFit = Similarity.queries("c3_ann_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == fromFit, s"indexed $fromIndex != fresh-fit $fromFit")
    // the probe reads ONLY its cells: the cell IN (…) predicate must be
    // a PARTITION filter on the scan (pruned directories), not a data
    // filter over the full corpus
    val plan = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"cell IN (...) did not become a partition filter:\n$plan")
    // build-once contract: the registry wrapper must NOT rebuild an
    // existing index (no cache dir appears and no live header generation
    // moves across a second query).
    // The wrapper keys its dir by data-dir AND corpus fingerprint —
    // discover the cache dirs by prefix rather than re-deriving the
    // fingerprint
    import scala.jdk.CollectionConverters._
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    def liveIvfGens() = java.nio.file.Files.list(root)
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"graft_ivf_index_${key}_"))
      .map(p => p.toString -> IndexMeta.liveGen(spark, p.toString, "ivf").map(_.getName))
      .toMap
    Similarity.queries("c3_ann_indexed")(spark, dir).collect()
    val gens1 = liveIvfGens()
    assert(gens1.values.exists(_.isDefined), s"no cache dir holds a live ivf generation: $gens1")
    Similarity.queries("c3_ann_indexed")(spark, dir).collect()
    assert(liveIvfGens() == gens1, "second query must reuse the index, not rebuild it")
    // staleness guard: a corpus change at the same path must re-key the
    // index. Exercised on a WRITABLE copy of the corpus (testdata is
    // read-only): same path, touched embeddings mtime → new fingerprint
    // → a second index dir appears instead of the stale one being reused
    val corpusCopy = java.nio.file.Files.createTempDirectory(root, "graft_fp_corpus")
    val srcDir = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val dstDir = corpusCopy.resolve("embeddings.parquet")
    java.nio.file.Files.createDirectories(dstDir)
    java.nio.file.Files.walk(srcDir).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .foreach(f => java.nio.file.Files.copy(f, dstDir.resolve(f.getFileName.toString)))
    val copyKey = corpusCopy.toString.replaceAll("[^A-Za-z0-9._-]", "_")
    def indexDirsForCopy = java.nio.file.Files.list(root)
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"graft_ivf_index_${copyKey}_")).toSeq
    Similarity.queries("c3_ann_indexed")(spark, corpusCopy.toString).collect()
    val Seq(firstDir) = indexDirsForCopy
    val touched = java.nio.file.Files.list(dstDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    java.nio.file.Files.setLastModifiedTime(touched,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(touched).toMillis + 12345))
    Similarity.queries("c3_ann_indexed")(spark, corpusCopy.toString).collect()
    // a changed fingerprint must re-key to a FRESH dir, and the build
    // must GC the superseded one — exactly one dir, with a new name
    val Seq(secondDir) = indexDirsForCopy
    assert(secondDir.getFileName != firstDir.getFileName,
      "a changed corpus fingerprint must build a NEW index dir, not reuse the stale one")
  }

  test("C3 indexed two-level kNN join: byte-identical to the per-query-fit path") {
    // same quantizer seed, same signatures, same knobs — reading them
    // from the persistent index instead of recomputing must not change
    // a single row
    val fromIndex = Similarity.queries("c3_knn_join_ivf2x")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val fromFit = Similarity.queries("c3_knn_join_ivf2")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(fromIndex == fromFit,
      s"indexed join diverges from fit join (first diff: ${
        fromIndex.zip(fromFit).find { case (a, b) => a != b }})")
  }

  test("C3 index append: argmin-L2 assignment, signature parity, planted neighbor found") {
    import scala.jdk.CollectionConverters._
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_append_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    // build on a 95% slice, hold out ids ≡ 7 (mod 20), plus plant an
    // exact copy of vec 0's embedding under a fresh id in the appendix
    Similarity.buildIvfIndexFrom(spark, e.filter(col("vec_id") % 20 =!= 7), indexDir)
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0)
    import spark.implicits._
    val planted = Seq((999999L, q0)).toDF("vec_id", "embedding")
    val appendix = e.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id"), col("embedding")).union(planted)
    Similarity.appendToIvfIndex(spark, indexDir, appendix)
    // 1. every appended vector was filed in its TRUE nearest cell —
    //    argmin squared-L2 recomputed independently, driver-side
    val cents = centroidsOf(indexDir)
    val appended = Similarity.storedVectors(spark, indexDir)
      .filter(col("vec_id") % 20 === 7 || col("vec_id") === 999999L)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    assert(appended.length === e.filter(col("vec_id") % 20 === 7).count() + 1)
    appended.foreach { case (id, emb, cell) =>
      val best = cents.minBy { case (c, ctr) =>
        (ctr.zip(emb).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, c)
      }._1
      assert(cell === best, s"vec $id filed in cell $cell, true nearest is $best")
    }
    // 2. appended signatures match a fresh graft_srp_sign of the same bytes
    graft.functions.GraftFunctions.register(spark)
    val sigMismatch = Similarity.storedVectors(spark, indexDir)
      .filter(col("vec_id") % 20 === 7)
      .withColumn("fresh", expr("graft_srp_sign(embedding, 42L, 4)"))
      .filter(col("sigs") =!= col("fresh")).count()
    assert(sigMismatch === 0, s"$sigMismatch appended rows carry stale signatures")
    // 3. the probe finds the planted copy of the query vector at the top:
    //    append landed it in exactly the cell the query probes first
    val probe = Similarity.annIvfIndexed(spark, dir, indexDir)
    val top = probe.collect()
    assert(top.head.getLong(0) === 999999L && top.head.getDouble(1) === 1.0,
      s"planted appended neighbor not retrieved first: ${top.take(3).toSeq}")
    // the two-segment probe scans each segment, and each segment's
    // probe scan keeps the single-segment plan's `cell` partition filter
    // (the adaptive plan prints each scan more than once)
    val pruned = "FileScan parquet[^\n]*".r.findAllIn(probe.queryExecution.executedPlan.toString)
      .filter("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(_).isDefined).toSeq.distinct
    assert(Similarity.liveVectorsPaths(spark, indexDir).size === 2 && pruned.size === 2,
      s"expected one cell-pruned scan per segment:\n${pruned.mkString("\n")}")
    // registry wrapper smoke: fresh build+append per call, rows come back
    assert(Similarity.queries("c3_ann_index_append")(spark, dir).collect().length === 10)
  }

  test("C3 index compact: one file per cell, contents and probe byte-identical") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val indexDir = Files.createTempDirectory("graft_ivf_compact_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark, e.filter(col("vec_id") % 20 =!= 7), indexDir)
    // two separate append batches pile extra files into the touched cells
    Similarity.appendToIvfIndex(spark, indexDir,
      e.filter(col("vec_id") % 40 === 7).select(col("vec_id"), col("embedding")))
    Similarity.appendToIvfIndex(spark, indexDir,
      e.filter(col("vec_id") % 40 === 27).select(col("vec_id"), col("embedding")))
    def filesByCell = vectorFilesByCell(indexDir)
    assert(filesByCell.values.exists(_.size >= 2),
      "appends should have left at least one cell with multiple files")
    def snapshot = Similarity.storedVectors(spark, indexDir)
      .select(col("vec_id"), col("embedding"), col("sigs"), col("cell").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getSeq[Long](2), r.getInt(3)))
      .sortBy(_._1)
    def probe = Similarity.annIvfIndexed(spark, dir, indexDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (tableBefore, probeBefore) = (snapshot, probe)
    Similarity.compactIvfIndex(spark, indexDir)
    // contents untouched: every row (ids, vectors, signatures, cell) survives
    assert(snapshot.toSeq === tableBefore.toSeq)
    assert(probe === probeBefore)
    // layout rewritten: exactly one file per cell at the default 128 MB target
    val after = filesByCell
    assert(after.nonEmpty && after.values.forall(_.size === 1),
      s"cells with >1 file after compact: ${after.filter(_._2.size > 1).keys}")
    // commit hygiene: exactly the live segment remains — superseded
    // segments are GC'd after the new one commits
    val segs = Files.list(Paths.get(indexDir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("seg_")).toSeq
    assert(segs.size == 1 && segs.head.matches("seg_ivf\\.g\\d{5}"),
      s"expected one live segment dir, found: $segs")
    // the registry wrapper equals the append wrapper byte-for-byte: same
    // slice, same seed — compaction may only change the file layout
    val viaCompact = Similarity.queries("c3_ann_index_compact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaAppend = Similarity.queries("c3_ann_index_append")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaCompact === viaAppend)
  }

  test("C3 index compact: hot cells split to the file-size target, contents intact") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val indexDir = Files.createTempDirectory("graft_ivf_split_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark, e, indexDir)
    val rowsBefore = Similarity.storedVectors(spark, indexDir).count()
    def probe = Similarity.annIvfIndexed(spark, dir, indexDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe
    // a 4 KB target forces ceil(cellBytes/target) > 1 on every real
    // cell — the salted multi-file path the 128 MB default never takes
    Similarity.compactIvfIndex(spark, indexDir, targetFileBytes = 4096L)
    val byCell = vectorFilesByCell(indexDir)
    assert(byCell.values.exists(_.size > 1),
      s"no cell split at a 4KB target: ${byCell.view.mapValues(_.size).toMap}")
    assert(Similarity.storedVectors(spark, indexDir).count() === rowsBefore)
    assert(probe === before)
    // and a re-compact at the default target coalesces back to one each
    Similarity.compactIvfIndex(spark, indexDir)
    val coalesced = vectorFilesByCell(indexDir)
    assert(coalesced.values.forall(_.size === 1))
    assert(probe === before)
  }

  test("C3 index delete: tombstone-first visibility, physical at compaction") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val indexDir = Files.createTempDirectory("graft_ivf_delete_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark, e, indexDir)
    def probe = Similarity.annIvfIndexed(spark, dir, indexDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe
    val victim = before.head._1
    import spark.implicits._
    Similarity.deleteFromIvfIndex(spark, indexDir, Seq(victim).toDF("vec_id"))
    // 1. tombstone-only: the probe excludes the id IMMEDIATELY and the
    //    rest of the ranking shifts up intact...
    val after = probe
    assert(!after.exists(_._1 === victim))
    assert(after.take(9) === before.drop(1))
    // plan shape: the tombstone exclusion is a BROADCAST anti-join —
    // deletes must never cost the probe a shuffle
    val p = Similarity.annIvfIndexed(spark, dir, indexDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone exclusion not a broadcast anti-join:\n$p")
    // ...but the row is still physically in the layout
    assert(Similarity.storedVectors(spark, indexDir)
      .filter(col("vec_id") === victim).count() === 1)
    // 2. deletes are idempotent: re-deleting changes nothing and
    //    commits no generation
    val gen = IndexMeta.liveGen(spark, indexDir, "ivf").get
    Similarity.deleteFromIvfIndex(spark, indexDir, Seq(victim).toDF("vec_id"))
    assert(probe === after)
    assert(IndexMeta.liveGen(spark, indexDir, "ivf").get === gen, "a re-delete committed a generation")
    // 3. compaction makes it physical and its header names no tombstone
    //    delta (the old one is swept); the probe is unchanged by the rewrite
    Similarity.compactIvfIndex(spark, indexDir)
    assert(Similarity.storedVectors(spark, indexDir)
      .filter(col("vec_id") === victim).count() === 0)
    assert(Similarity.ivfHeader(spark, indexDir, "the spec").tombstones.isEmpty &&
      !IndexMeta.list(spark, indexDir).exists(_.getPath.getName.startsWith("tomb")))
    assert(probe === after)
    // 4. re-inserting a tombstoned id throws LOUDLY (old row still
    //    physical → serving both or losing the new one are the silent
    //    alternatives); after compaction the same append is legal
    Similarity.deleteFromIvfIndex(spark, indexDir, Seq(after.head._1).toDF("vec_id"))
    val reinsert = e.filter(col("vec_id") === after.head._1)
      .select(col("vec_id"), col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, indexDir, reinsert)
    }
    assert(ex.getMessage.contains("compactIvfIndex first"))
    Similarity.compactIvfIndex(spark, indexDir)
    Similarity.appendToIvfIndex(spark, indexDir, reinsert, batchId = Some("reins-1"))
    assert(probe.head._1 === after.head._1, "re-inserted vector serves again")
    // 5. batchId idempotence: replaying the committed batch is a no-op
    val rowsNow = Similarity.storedVectors(spark, indexDir).count()
    Similarity.appendToIvfIndex(spark, indexDir, reinsert, batchId = Some("reins-1"))
    assert(Similarity.storedVectors(spark, indexDir).count() === rowsNow,
      "replayed batch duplicated rows")
    // 6. a deleted QUERY vector fails with a clear contract error, not
    //    an empty-iterator crash
    Similarity.deleteFromIvfIndex(spark, indexDir, Seq(0L).toDF("vec_id"))
    val qex = intercept[IllegalArgumentException] {
      Similarity.annIvfIndexed(spark, dir, indexDir).collect()
    }
    assert(qex.getMessage.contains("vec_id=0"))
    // registry wrapper (fresh dirs, unaffected by the deletes above):
    // same build inputs + seed as the append wrapper,
    // so what it deleted is exactly the append wrapper's top-3 — the
    // served list must exclude those and open with append's ranks 4–10
    val viaAppend = Similarity.queries("c3_ann_index_append")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = Similarity.queries("c3_ann_index_delete")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.size === 10)
    assert(served.take(7) === viaAppend.drop(3))
    assert(viaAppend.take(3).forall { case (id, _) => !served.exists(_._1 == id) })
  }

  test("C3 index: a rebuild that crashed before the old deletes were cleared serves every rebuilt row") {
    val vecs = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = Similarity.freshScratch(spark, "graft_ivf_rebuild_crash_")
    Similarity.buildIvfIndexFrom(spark, vecs, idx)
    val victims = vecs.filter(col("vec_id") % 25 === 3)
    Similarity.deleteFromIvfIndex(spark, idx, victims.select(col("vec_id")))
    // the rebuild's header commits; the deletes of the replaced corpus
    // are still on disk
    withDeletesLeftBehind(idx)(Similarity.buildIvfIndexFrom(spark, vecs, idx))
    // every victim's own vector, probed under another id, finds it
    val shift = 10000000L
    val hits = Similarity.annIvfBatch(spark, idx,
        victims.select((col("vec_id") + shift).as("vec_id"), col("embedding")))
      .collect().map(r => (r.getLong(0) - shift, r.getLong(1))).toSet
    val ids = victims.select(col("vec_id")).collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(id => hits((id, id))),
      s"the rebuilt index hides rows deleted before the rebuild: ${ids.filterNot(id => hits((id, id))).take(5).mkString(", ")}")
  }

  test("C3 index: a compaction that crashed before its deletes were cleared accepts a valid re-insert") {
    val vecs = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = Similarity.freshScratch(spark, "graft_ivf_compact_crash_")
    Similarity.buildIvfIndexFrom(spark, vecs, idx)
    val victims = vecs.filter(col("vec_id") % 25 === 3)
    Similarity.deleteFromIvfIndex(spark, idx, victims.select(col("vec_id")))
    // the compaction's header commits; the deletes it made physical are
    // still on disk
    withDeletesLeftBehind(idx)(Similarity.compactIvfIndex(spark, idx))
    // the ids are compacted away, so putting them back is valid
    Similarity.appendToIvfIndex(spark, idx, victims, Some("reinsert"))
    def ids(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(Similarity.liveIndexVectors(spark, idx)) === ids(vecs),
      "the re-inserted ids are not served exactly once")
  }

  test("C3 index: compacting a fully-tombstoned index leaves a valid empty layout") {
    // round-6 advice: the old path wrote an empty partitionBy layout
    // (only _SUCCESS), and the next read died on schema inference
    import spark.implicits._
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_empty_spec").toString
    val e = Relational.table(spark, dir, "embeddings").limit(50)
    Similarity.buildIvfIndexFrom(spark, e.select(col("vec_id"), col("embedding")), indexDir)
    Similarity.deleteFromIvfIndex(spark, indexDir, e.select(col("vec_id")))
    Similarity.compactIvfIndex(spark, indexDir)
    val back = Similarity.storedVectors(spark, indexDir)
    assert(back.count() === 0)
    assert(back.columns.toSeq === Seq("vec_id", "embedding", "sigs", "cell"))
    // and the empty index accepts a fresh append (tombstones cleared)
    Similarity.appendToIvfIndex(spark, indexDir,
      e.limit(5).select(col("vec_id"), col("embedding")))
    assert(Similarity.storedVectors(spark, indexDir).count() === 5)
  }

  test("C3 index: readers ignore an uncommitted generation (crash-safe commit)") {
    import java.nio.file.{Files, Paths}
    val indexDir = Files.createTempDirectory("graft_ivf_crash_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark, e.select(col("vec_id"), col("embedding")), indexDir)
    val live = Similarity.liveVectorsPaths(spark, indexDir)
    assert(live.map(_.stripPrefix(s"$indexDir/")) === Seq("seg_ivf.g00000/vectors"))
    // simulate a compaction that died before commit: a NEWER generation
    // and its segment exist, but the generation has no _SUCCESS —
    // resolution must stay on g00000
    Files.createDirectories(Paths.get(indexDir, "ivf.g00001"))
    Files.createDirectories(Paths.get(indexDir, "seg_ivf.g00001", "vectors"))
    assert(Similarity.liveVectorsPaths(spark, indexDir) === live,
      "an uncommitted generation must not become live")
    // the next compaction writes PAST the orphan (never into it — a
    // concurrent writer could still be filling it) and sweeps it
    Similarity.compactIvfIndex(spark, indexDir)
    assert(Similarity.liveVectorsPaths(spark, indexDir).map(_.stripPrefix(s"$indexDir/")) ===
      Seq("seg_ivf.g00002/vectors"))
    assert(!Files.exists(Paths.get(indexDir, "ivf.g00001")) &&
      !Files.exists(Paths.get(indexDir, "seg_ivf.g00001")))
  }

  test("C3 index append: ids already live in the layout are rejected loudly") {
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_dup_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark,
      e.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding")), indexDir)
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, indexDir,
        e.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")))
    }
    assert(ex.getMessage.contains("already live"))
  }

  test("C3 index: the ids sidecar mirrors the layout and bounds the guard's file opens") {
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_ids_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark,
      e.filter(col("vec_id") < 300).select(col("vec_id"), col("embedding")), indexDir)
    def idsPaths() = Similarity.ivfHeader(spark, indexDir, "the spec").segments
      .map(sg => s"$indexDir/$sg/ids")
    def sidecarIds() = spark.read.parquet(idsPaths(): _*).collect().map(_.getLong(0)).toSet
    def layoutIds() = Similarity.storedVectors(spark, indexDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 1. sidecar == layout after build, and each append adds exactly
    //    ONE sidecar file, in its own segment (the O(#appends)
    //    guard-cost claim)
    assert(sidecarIds() === layoutIds())
    val filesAfterBuild = filesUnder(idsPaths())
    (0 until 3).foreach { i =>
      Similarity.appendToIvfIndex(spark, indexDir,
        e.filter(col("vec_id") >= 300 + i * 10 && col("vec_id") < 310 + i * 10)
          .select(col("vec_id"), col("embedding")))
    }
    assert(sidecarIds() === layoutIds())
    assert(idsPaths().size === 4 && filesUnder(idsPaths()) === filesAfterBuild + 3,
      "each append must add exactly one sidecar file")
    // 2. delete + compact: the sidecar rewrites to the LIVE set in one
    //    fresh segment with few files
    import spark.implicits._
    Similarity.deleteFromIvfIndex(spark, indexDir, Seq(305L, 315L).toDF("vec_id"))
    Similarity.compactIvfIndex(spark, indexDir)
    assert(idsPaths().size === 1)
    assert(sidecarIds() === layoutIds())
    assert(!sidecarIds().contains(305L) && !sidecarIds().contains(315L))
  }

  test("C3b append: an empty centroids table fails loudly before the ids sidecar is touched") {
    // a codebook with no centroids cannot place a vector: the append
    // must refuse before its first write instead of growing the
    // sidecar and then failing
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_nocents_spec").toString
    val e = Relational.table(spark, dir, "embeddings")
    Similarity.buildIvfIndexFrom(spark,
      e.filter(col("vec_id") < 300).select(col("vec_id"), col("embedding")), indexDir)
    val codebook = s"$indexDir/${Similarity.ivfHeader(spark, indexDir, "the spec").codebook}"
    IndexMeta.delete(spark, codebook)
    IndexMeta.writeSmallFile(spark, codebook, Array.emptyByteArray)
    def sidecar() = {
      val g = Similarity.ivfHeader(spark, indexDir, "the spec").segments.map(sg => s"$indexDir/$sg/ids")
      (filesUnder(g), spark.read.parquet(g: _*).collect().map(_.getLong(0)).toSet)
    }
    val before = sidecar()
    val batch = e.filter(col("vec_id") >= 300 && col("vec_id") < 310)
      .select(col("vec_id"), col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, indexDir, batch)
    }
    assert(ex.getMessage.contains("centroids"), ex.getMessage)
    assert(sidecar() == before, "the ids sidecar changed")
  }

  test("C3 IVF kNN join: high recall@3 vs the brute-force join") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnJoin(spark, dir))
    val approx = pairs(Similarity.knnJoinIvf(spark, dir))
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF kNN-join recall@3 $recall below 0.5")
    // every vector must still get a full top-3 from its probed cells
    val counts = Similarity.knnJoinIvf(spark, dir).groupBy("va").count()
      .select("count").collect().map(_.getLong(0))
    assert(counts.forall(_ == 3L), "a vector lost neighbors to cell pruning")
  }

  test("C3 two-level IVF kNN join (SRP shortlist + re-rank): recall@3 at the flat bar") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnJoin(spark, dir))
    val two = Similarity.knnJoinIvf2(spark, dir)
    val approx = pairs(two)
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"two-level kNN-join recall@3 $recall below the 0.5 flat-IVF bar")
    // the Hamming screen must not starve any vector of a full top-3
    val counts = two.groupBy("va").count().select("count").collect().map(_.getLong(0))
    assert(counts.forall(_ == 3L), "a vector lost neighbors to the shortlist")
    // exact re-rank means every returned sim is the TRUE cosine: the
    // approximate result must be a subset of the exact pair→sim map
    val exactSims = Similarity.knnJoin(spark, dir).select("va", "vb", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    two.select("va", "vb", "sim").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactSims.get(key).foreach(s =>
        assert(s == r.getDouble(2), s"re-ranked sim for $key is not the exact cosine"))
    }
  }

  test("C4b language-ID heuristic on crafted samples") {
    import spark.implicits._
    val samples = Seq(
      ("the cat and the dog of it", "en"),
      ("le chat et la porte des champs", "fr"),
      ("el perro y el gato de la casa que", "es"),
      ("der hund und die katze mit das haus", "de"),
      ("这是 一个 中文 文本", "zh"),
      ("zzz qqq xxx", "unknown")).toDF("text", "expected")
    val profiles = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
      "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du"),
      "es" -> Seq("el", "de", "y", "que", "en", "los", "se", "una"),
      "de" -> Seq("der", "die", "und", "das", "ein", "zu", "mit", "von"))
    val out = Pipeline.langIdOn(samples, profiles)
      .select("expected", "predicted_lang").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)}, predicted ${r.getString(1)}"))
  }

  test("C6 multimodal: decode is deterministic, batched, and distributed") {
    import spark.implicits._
    val media = Multimodal.attachMedia(Relational.table(spark, dir, "documents"))
      .as[Multimodal.MediaDoc]
    val feats1 = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    val feats2 = Multimodal.decodeFeatures(media.repartition(7)).collect().sortBy(_.doc_id)
    assert(feats1.length == 500)
    assert(feats1.map(_.doc_id).toSeq == feats2.map(_.doc_id).toSeq)
    assert(feats1.zip(feats2).forall { case (a, b) => a.features.toSeq == b.features.toSeq },
      "decode must be deterministic regardless of partitioning")
    assert(feats1.forall(_.features.length == 8))
    assert(feats1.forall(f => f.n_bytes == (f.kind match {
      case "audio" => Multimodal.wavBytes
      case "video" => Multimodal.aviBytes
      case _ => if (f.doc_id % 6 == 0) Multimodal.bmpBytes else 32
    })), "synthesized WAV/AVI/BMP payloads; sha256 on odd image ids")
    // even image ids carry a real BMP and decode to its true dims;
    // odd image ids stay opaque and take the byte-fold fallback
    assert(feats1.filter(f => f.kind == "image" && f.doc_id % 6 == 0).forall(f =>
      f.decoded_w == Multimodal.bmpW && f.decoded_h == Multimodal.bmpH),
      "even image rows must decode the synthesized BMP via javax.imageio")
    assert(feats1.filter(f => f.kind == "image" && f.doc_id % 6 != 0).forall(_.decoded_w == -1),
      "odd image rows must fall back to the byte fold")
    // every audio row's WAV really decoded: frame count + sample rate
    assert(feats1.filter(_.kind == "audio").forall(f =>
      f.decoded_w == Multimodal.wavFrames && f.decoded_h == Multimodal.wavRate),
      "audio rows must decode via javax.sound.sampled, not the fold")
    // every video row's AVI really decoded: true pixel dimensions
    assert(feats1.filter(_.kind == "video").forall(f =>
      f.decoded_w == Multimodal.vidW && f.decoded_h == Multimodal.vidH),
      "video rows must decode via the RIFF/AVI parser, not the fold")
    // batch shape: stub sees ≤ batchSize rows per call
    val batchSizes = media.repartition(2).mapPartitions(
      _.grouped(Multimodal.batchSize).map(_.size)).collect()
    assert(batchSizes.forall(_ <= Multimodal.batchSize))
  }

  test("C6c pixel resize: hand-checked nearest-neighbor resample, registry rows") {
    // synthBmp roundtrips through ImageIO with the exact gradient
    val id = 42L
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.synthBmp(id)))
    assert(im.getWidth == Multimodal.bmpW && im.getHeight == Multimodal.bmpH)
    for (y <- 0 until Multimodal.bmpH; x <- 0 until Multimodal.bmpW)
      assert((im.getRGB(x, y) & 0xffffff) == Multimodal.vidRgb(id, 0, x, y),
        s"BMP pixel ($x,$y) diverges from the gradient")
    // nearest-neighbor resample: 24x16 → fit 8 → 8x5; each output pixel
    // is EXACTLY the source pixel at the floor-scaled index
    val r = Multimodal.resizePixels(im, 8)
    assert(r.getWidth == 8 && r.getHeight == 5, s"${r.getWidth}x${r.getHeight}")
    for (y <- 0 until 5; x <- 0 until 8)
      assert((r.getRGB(x, y) & 0xffffff) ==
        Multimodal.vidRgb(id, 0, x * Multimodal.bmpW / 8, y * Multimodal.bmpH / 5),
        s"resized pixel ($x,$y) is not the floor-scaled source pixel")
    // within-bounds images pass through untouched
    assert(Multimodal.resizePixels(im, 100) eq im)
    // registry: one row per REAL image (even image ids), resized dims
    val rows = Multimodal.queries("c6c_multimodal_resize")(spark, dir).collect()
    val expected = Relational.table(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.expr("doc_id % 6 = 0"))
      .count()
    assert(rows.length == expected, s"${rows.length} rows for $expected real images")
    assert(rows.forall(r => r.getInt(3) == 8 && r.getInt(4) == 5),
      "every synthesized BMP resizes 24x16 → 8x5")
    // determinism across partitioning: rerun equals
    val again = Multimodal.queries("c6c_multimodal_resize")(spark, dir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("C6d frame sampling: stride arithmetic + hand-computed lumas, skipped frames untouched") {
    val id = 13L
    val d = Multimodal.MediaDoc(id, "video", Multimodal.synthAvi(id),
      Multimodal.vidW, Multimodal.vidH, 0)
    // stride 2, budget 4 over 8 frames → frames 0, 2, 4, 6
    val frames = Multimodal.sampleFrames(d, 2, 4).get
    assert(frames.map(_.frame_idx) == Seq(0, 2, 4, 6))
    // each sampled frame's mean luma hand-computed from the gradient
    frames.foreach { f =>
      var sum = 0L
      for (y <- 0 until Multimodal.vidH; x <- 0 until Multimodal.vidW) {
        val rgb = Multimodal.vidRgb(id, f.frame_idx, x, y)
        sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
      }
      val expected = math.rint(sum.toDouble / (Multimodal.vidW * Multimodal.vidH) * 10000) / 10000
      assert(f.mean_luma == expected, s"frame ${f.frame_idx}: ${f.mean_luma} != $expected")
    }
    // budget bites: stride 1, budget 3 → frames 0, 1, 2 only
    assert(Multimodal.sampleFrames(d, 1, 3).get.map(_.frame_idx) == Seq(0, 1, 2))
    // undecodable bytes → None
    assert(Multimodal.sampleFrames(
      Multimodal.MediaDoc(id, "video", Array[Byte](1, 2, 3), 0, 0, 0), 2, 4).isEmpty)
    // registry: 4 sampled frames per video doc at the default stride 2 / budget 4
    val rows = Multimodal.queries("c6d_multimodal_frames")(spark, dir).collect()
    val nVideo = Relational.table(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.expr("doc_id % 3 = 2")).count()
    assert(rows.length == nVideo * 4, s"${rows.length} rows for $nVideo videos")
    assert(rows.map(_.getInt(1)).distinct.sorted.toSeq == Seq(0, 2, 4, 6))
  }

  test("C6 real image decode: true dims + pixel features from genuine PNG/BMP bytes") {
    import spark.implicits._
    // generate real images in-test: a 5x3 PNG (two-tone) and a 4x4 BMP
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    val png = imageBytes(5, 3, "png")
    val bmp = imageBytes(4, 4, "bmp")
    val docs = Seq(
      Multimodal.MediaDoc(1L, "image", png, 5, 3, 0),
      Multimodal.MediaDoc(2L, "image", bmp, 4, 4, 0),
      Multimodal.MediaDoc(3L, "audio", Array[Byte](1, 2, 3, 4), 0, 0, 16000),
      Multimodal.MediaDoc(4L, "image", Array[Byte](9, 9, 9), 0, 0, 0)) // not an image
    // direct batch call and the distributed Dataset path must agree
    val direct = Multimodal.decodeBatch(docs).map(f => f.doc_id -> f).toMap
    val dist = Multimodal.decodeFeatures(docs.toDS().repartition(3))
      .collect().map(f => f.doc_id -> f).toMap
    assert(direct(1L).decoded_w == 5 && direct(1L).decoded_h == 3, "PNG dims not decoded")
    assert(direct(2L).decoded_w == 4 && direct(2L).decoded_h == 4, "BMP dims not decoded")
    assert(direct(3L).decoded_w == -1 && direct(4L).decoded_w == -1,
      "audio/undecodable rows must fall through to the stub")
    // checkerboard: white pixels sit at even (x+y), whose luminance lands
    // in bins 0/2/4/6 ((x+y)%8 with x+y <= 6); black adds 0 to the odd
    // bins and bin 7 is never touched — proof the REAL pixels were read
    val f1 = direct(1L).features
    assert(f1.zipWithIndex.forall { case (v, i) => (v > 0) == (i % 2 == 0 && i != 7) },
      s"luminance bins don't match the checkerboard: ${f1.toSeq}")
    assert(dist.keySet == direct.keySet &&
      dist.forall { case (id, f) => f.decoded_w == direct(id).decoded_w &&
        f.features.toSeq == direct(id).features.toSeq },
      "distributed decode diverges from the direct batch call")
  }

  test("C6 real audio decode: generated WAV parses via javax.sound.sampled") {
    val docId = 42L
    val wav = Multimodal.synthWav(docId)
    // the synthesized bytes are a real WAV any reader parses — prove it
    // with the JDK reader directly, independent of our decode path
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ais.getFormat.getSampleRate.toInt == Multimodal.wavRate)
    assert(ais.getFrameLength == Multimodal.wavFrames)
    ais.close()
    val Seq(f) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(docId, "audio", wav, 0, 0, Multimodal.wavRate)))
    assert(f.decoded_w == Multimodal.wavFrames && f.decoded_h == Multimodal.wavRate,
      s"WAV dims not decoded: ${f.decoded_w} x ${f.decoded_h}")
    // per-bin RMS of the known sine, recomputed here from the same
    // formula — proves the REAL samples were read, not the byte fold
    val freq = 200.0 + (docId % 100) * 10.0
    val amp = 8000.0 + (docId % 7) * 1000.0
    val expected = new Array[Double](8)
    for (i <- 0 until Multimodal.wavFrames) {
      val s = math.round(amp * math.sin(2 * math.Pi * freq * i / Multimodal.wavRate)).toShort / 32768.0
      expected(i % 8) += s * s
    }
    val exp = expected.map(e => math.sqrt(e / (Multimodal.wavFrames / 8)))
    f.features.zip(exp).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-4, s"RMS bin mismatch: $got vs $want")
    }
    // an amplitude-scaled doc yields different energy — features are
    // sample-derived, not header-derived
    val Seq(g) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(43L, "audio", Multimodal.synthWav(43L), 0, 0, Multimodal.wavRate)))
    assert(g.features.toSeq != f.features.toSeq)
  }

  test("C6 real video decode: synthesized AVI parses frame-by-frame") {
    val docId = 7L
    val avi = Multimodal.synthAvi(docId)
    assert(avi.length == Multimodal.aviBytes, "container length must be the declared constant")
    val Seq(f) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(docId, "video", avi, 0, 0, 0)))
    assert(f.decoded_w == Multimodal.vidW && f.decoded_h == Multimodal.vidH,
      s"AVI dims not decoded: ${f.decoded_w} x ${f.decoded_h}")
    // recompute the per-bin luminance fold here from the known pixel
    // formula — proves every frame's REAL pixels were read in frame
    // order, not the byte fold and not a single frame
    val expected = new Array[Double](8)
    for (fr <- 0 until Multimodal.vidFrames;
         y <- 0 until Multimodal.vidH;
         x <- 0 until Multimodal.vidW) {
      val rgb = Multimodal.vidRgb(docId, fr, x, y)
      val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
      expected((x + y + fr) % 8) += lum / 255.0
    }
    f.features.zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-2, s"luminance bin mismatch: $got vs $want")
    }
    // content sensitivity: a different doc decodes to different features
    val Seq(g) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(8L, "video", Multimodal.synthAvi(8L), 0, 0, 0)))
    assert(g.features.toSeq != f.features.toSeq)
    // structural honesty: a frame-count lie in avih (header says one
    // more frame than movi holds) must reject → byte-fold fallback
    val lying = avi.clone()
    val avihFramesOff = 12 + 12 + 8 + 16 // RIFF hdr, LIST hdr, avih hdr, dwTotalFrames
    lying(avihFramesOff) = (Multimodal.vidFrames + 1).toByte
    val Seq(h) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(docId, "video", lying, 0, 0, 0)))
    assert(h.decoded_w == -1, "frame-count mismatch must fall back to the fold")
    // arbitrary bytes (the sha256 payload shape) also fall back
    val Seq(j) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(docId, "video", Array.fill[Byte](32)(9), 0, 0, 0)))
    assert(j.decoded_w == -1)
  }

  test("C6 video decode handles codec'd (00dc / MJPEG-style) frames via ImageIO") {
    // hand-build a minimal AVI whose single frame is a REAL JPEG — the
    // chunk layout MJPEG files use; dims in avih, JPEG carries pixels
    val w = 6; val h = 4
    val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, if (x < w / 2) 0xffffff else 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    val jpeg = bos.toByteArray
    val jlen = jpeg.length + (jpeg.length & 1) // word-align the chunk
    val avihChunk = 8 + 56
    val moviList = 12 + 8 + jlen
    val total = 12 + (12 + avihChunk) + moviList
    val bb = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
    cc("RIFF"); bb.putInt(total - 8); cc("AVI ")
    cc("LIST"); bb.putInt(4 + avihChunk); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(100000); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1) // one frame
    bb.putInt(0); bb.putInt(1); bb.putInt(0)
    bb.putInt(w); bb.putInt(h)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    cc("LIST"); bb.putInt(4 + 8 + jlen); cc("movi")
    cc("00dc"); bb.putInt(jpeg.length); bb.put(jpeg)
    if ((jpeg.length & 1) == 1) bb.put(0.toByte)
    val Seq(f) = Multimodal.decodeBatch(Seq(
      Multimodal.MediaDoc(1L, "video", bb.array(), 0, 0, 0)))
    assert(f.decoded_w == w && f.decoded_h == h, s"00dc frame dims: ${f.decoded_w} x ${f.decoded_h}")
    // left half white, right half black: JPEG is lossy but the gross
    // luminance mass must sit where the white pixels are
    assert(f.features.sum > w * h / 2 * 0.8 && f.features.sum < w * h * 0.7,
      s"00dc luminance mass implausible for a half-white frame: ${f.features.toSeq}")
  }

  test("CensusCadence: lists only on crossings, never misses one, bound is conservative") {
    var listings = 0
    var trueCensus = 100L
    val cad = new StreamHarness.CensusCadence(() => { listings += 1; trueCensus })
    // first check always pays one listing (no prior state)
    assert(cad.check(10L, 1000L) === ((100L, true)) && listings === 1)
    // under-bound checks are free: bound drifts up by rows, no listing
    assert(cad.check(200L, 1000L) === ((300L, false)) && listings === 1)
    assert(cad.check(200L, 1000L) === ((500L, false)) && listings === 1)
    // a potential crossing (bound 500+600=1100 > 1000) forces a real
    // listing — which here reveals the true census is still under (the
    // conservative bound can cry wolf, never the reverse)
    trueCensus = 400L
    assert(cad.check(600L, 1000L) === ((400L, true)) && listings === 2)
    // back under the bound: free again
    assert(cad.check(500L, 1000L) === ((900L, false)) && listings === 2)
    // a REAL crossing is caught the moment the bound admits it could
    // have happened — the listing then confirms it
    trueCensus = 1500L
    val (n2, exact2) = cad.check(200L, 1000L)
    assert(exact2 && n2 === 1500L && listings === 3, "crossing must force a listing")
    // reset after compaction re-seeds the exact census without a listing
    cad.reset(42L)
    assert(cad.check(5L, 1000L) === ((47L, false)) && listings === 3)
  }

  test("C38 graft_nfc: composes combining sequences, already-NFC text passes through") {
    graft.functions.GraftFunctions.register(spark)
    // Spark's chr() is mod-256 ASCII, so the combining acute must ride
    // as a literal (see normalizeCorpus)
    val rows = spark.sql(
      "SELECT graft_nfc('e\u0301') AS composed, graft_nfc('plain ascii') AS ascii, " +
        "length(graft_nfc('e\u0301')) AS n, graft_nfc(cast(null as string)) AS nul").head()
    assert(rows.getString(0) == "\u00e9", "e + combining acute must compose to precomposed U+00E9")
    assert(rows.getString(1) == "plain ascii")
    assert(rows.getInt(2) == 1, "composed form is one codepoint")
    assert(rows.isNullAt(3), "null propagates")
  }

  test("C38 normalize: dirty → NFC + control strip + space collapse + trim, verified by hand") {
    val out = Pipeline.queries("c38_normalize")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong)).toSeq
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.nonEmpty && out.size == docs.size)
    out.foreach { case (id, norm, nComposed) =>
      val text = docs(id)
      // the dirtying is deterministic, so the expected normal form is
      // the original text with every 'e' composed to 'é' — controls,
      // leading/trailing and doubled spaces all washed out
      val expected = text.replace("e", "\u00e9")
      assert(norm == expected, s"doc $id: '$norm' != '$expected'")
      assert(nComposed == text.count(_ == 'e').toLong,
        s"doc $id: composed-count $nComposed != e-count ${text.count(_ == 'e')}")
    }
  }

  test("C42 RAG e2e: every query's rank-1 hit is an exact copy; ranks dense; ids decode") {
    val out = graft.SparkEntry.queries("c42_rag_e2e")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val docs = Relational.table(spark, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 20 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty, "no retrieval output")
    val byQuery = out.groupBy(_._1)
    assert(byQuery.keySet == evalDocs, "every eval doc queries exactly once")
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.size), s"query $q: rank gap")
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sortBy(-_).toSeq,
        s"query $q: sims not non-increasing")
      // the query IS an indexed chunk (eval docs are chunked too), its
      // cell is probed by construction — an exact copy must win rank 1
      assert(sorted.head._5 == 1.0, s"query $q: rank-1 sim ${sorted.head._5} != 1.0")
    }
    // the rank-1 hit carries the query's own chunk-0 TEXT: md5-join the
    // retrieved (src_doc, chunk_ix) against the c36 chunk table
    val md5Of = Training.chunkOverlapOn(docs).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getString(4))).toMap
    val selfText = byQuery.toSeq.count { case (q, rows) =>
      val top = rows.minBy(_._2)
      md5Of((top._3, top._4)) == md5Of((q, 0))
    }
    assert(selfText == byQuery.size,
      s"rank-1 text mismatch for ${byQuery.size - selfText} of ${byQuery.size} queries")
  }

  test("C42b incremental RAG ingest: arrivals unreachable before, planted twin after; replay no-op") {
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c42b_spec_")
    Similarity.buildIvfIndexFrom(spark,
      Similarity.ragChunkVecs(docs.filter(col("doc_id") % 20 =!= 3)), idx)
    val arrivals = docs.filter(col("doc_id") % 20 === 3)
    // BEFORE the ingest: no arrival chunk is in the index, so no
    // retrieved src_doc can be an arrival doc
    val before = Similarity.ragQueriesOn(spark, idx, arrivals).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(before.nonEmpty)
    assert(before.forall { case (_, src, _) => src % 20 != 3 },
      s"arrival chunk retrieved before ingest: ${before.find(_._2 % 20 == 3)}")
    Similarity.ragIngest(spark, idx, arrivals, Some("spec_batch"))
    val after = Similarity.ragQueriesOn(spark, idx, arrivals).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val qids = arrivals.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after.map(_._1).toSet == qids, "every arrival doc queries once")
    // AFTER: every query's planted twin (its own chunk-0, appended via
    // the ingest path) is found at sim 1.0 — and because an exact-copy
    // build doc can tie, pin the rank-1 TEXT, not the id
    val md5Of = Training.chunkOverlapOn(docs).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getString(4))).toMap
    after.groupBy(_._1).foreach { case (q, rows) =>
      val top = rows.minBy(_._2)
      assert(top._5 == 1.0, s"query $q: rank-1 sim ${top._5} != 1.0")
      assert(md5Of((top._3, top._4)) == md5Of((q, 0)),
        s"query $q: rank-1 text is not the planted chunk")
    }
    // and the ingest-path chunks themselves serve probes: some query
    // retrieves its OWN appended chunk
    assert(after.exists { case (q, _, src, _, _) => src == q },
      "no query retrieved its own appended chunk")
    // exactly-once: replaying the SAME batchId is a no-op (marker), so
    // the retrieval output is unchanged
    Similarity.ragIngest(spark, idx, arrivals, Some("spec_batch"))
    val replay = Similarity.ragQueriesOn(spark, idx, arrivals).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(replay.toSeq == after.toSeq, "batchId replay changed the index")
    // and a DIFFERENT batchId re-inserting the same ids fails LOUDLY on
    // the live-id guard instead of silently double-serving
    val e = intercept[IllegalArgumentException] {
      Similarity.ragIngest(spark, idx, arrivals, Some("spec_batch_2"))
    }
    assert(e.getMessage.contains("already live"), e.getMessage)
  }

  test("C42c streaming RAG ingest ≡ the one-shot incremental ingest") {
    // same split, same arrivals, same frozen quantizer (seeded KMeans
    // on the same build slice) — micro-batched ingest must land the
    // identical index content, so the retrieval output is row-identical
    def rows(k: String) = graft.SparkEntry.queries(k)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toSeq
    val stream = rows("c42c_rag_stream")
    val oneShot = rows("c42b_rag_ingest")
    assert(stream == oneShot,
      s"first diff: ${stream.zip(oneShot).find(p => p._1 != p._2)}")
  }

  test("C40 tf-idf: exact integer recomputation at sf0.001 (micro-nat ln doctrine)") {
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val n = docs.size
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (tok, g) => ((id, tok), g.length.toLong) }
    }.toMap
    val dfq = tf.keys.groupBy(_._2).view.mapValues(_.size).toMap
    val idf = dfq.map { case (tok, d) =>
      tok -> (math.round(math.log((n + 1).toDouble / (d + 1).toDouble) * 1e6) + 1000000L)
    }
    val expected = docs.flatMap { case (id, _) =>
      tf.collect { case ((d, tok), f) if d == id => (tok, f * idf(tok)) }
        .toSeq.sortBy { case (tok, s) => (-s, tok) }.take(3).zipWithIndex
        .map { case ((tok, s), i) => (id, i + 1, tok, s) }
    }.sortBy(r => (r._1, r._2))
    val got = Pipeline.queries("c40_tfidf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("C41b BM25 persisted: the deployment form reproduces the in-plan form exactly") {
    val live = Pipeline.queries("c41_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val persisted = Pipeline.queries("c41b_bm25_persisted")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted == live, s"persisted $persisted != live $live")
    // and the stats table is the FULL vocab (a real term table), not
    // just the one query's terms
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val statsDir = graft.ops.Similarity.freshScratch(spark, s"graft_bm25_spec_${key}_")
    Pipeline.fitBm25Stats(Relational.table(spark, dir, "documents"), statsDir)
    val vocab = spark.read.parquet(
      Pipeline.bm25StatsPaths(spark, statsDir)._1).count()
    val distinctToks = Relational.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(vocab == distinctToks, s"stats vocab $vocab != corpus vocab $distinctToks")
  }

  test("C41 BM25: exact integer-rational recomputation at sf0.001") {
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq)).toSeq
    val n = docs.size.toLong
    val sTotal = docs.map(_._2.size.toLong).sum
    val q = Pipeline.bm25Query.toSet
    val tf = docs.map { case (id, toks) =>
      (id, toks.size.toLong, toks.filter(q).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    }
    val dfq = q.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    val idf = dfq.collect { case (t, d) if d > 0 =>
      t -> math.round(math.log(((n - d).toDouble + 0.5) / (d.toDouble + 0.5) + 1.0) * 1e6)
    }
    val expected = tf.flatMap { case (id, dl, m) =>
      if (m.isEmpty) None else Some((id, m.map { case (t, f) =>
        val num = 22L * sTotal * f
        val den = 10L * sTotal * f + 3L * sTotal + 9L * dl * n
        math.round(idf(t).toDouble * (num.toDouble / den.toDouble))
      }.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Pipeline.queries("c41_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("C41c incremental stats: fit(90%) + append(10%) scores ≡ whole-corpus c41") {
    val inc = Pipeline.queries("c41c_bm25_incremental")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Pipeline.queries("c41_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(inc == full, s"incremental $inc != whole-corpus $full")
  }

  test("C41c append commits a fresh generation whose stats equal a from-scratch refit") {
    val docs = Relational.table(spark, dir, "documents")
    val statsDir = Similarity.freshScratch(spark, "graft_bm25_incspec_")
    Pipeline.fitBm25Stats(docs.filter(col("doc_id") % 10 =!= 7), statsDir)
    val g0 = Pipeline.bm25StatsPaths(spark, statsDir)._1
    Pipeline.appendBm25Stats(spark, statsDir, docs.filter(col("doc_id") % 10 === 7))
    val g1 = Pipeline.bm25StatsPaths(spark, statsDir)._1
    assert(g0 != g1, "append must commit a NEW stats generation")
    assert(!onDisk(g0),
      "the superseded stats generation must be deleted after commit")
    // merged (dfq, idf_micro) per term == a whole-corpus refit, term for
    // term — not just the one query's scores
    val fullDir = Similarity.freshScratch(spark, "graft_bm25_fullspec_")
    Pipeline.fitBm25Stats(docs, fullDir)
    def termsOf(d: String) = spark.read.parquet(d)
      .select("tok", "dfq", "idf_micro").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val merged = termsOf(g1)
    val refit = termsOf(Pipeline.bm25StatsPaths(spark, fullDir)._1)
    assert(merged == refit,
      s"first diff: ${(merged.toSet diff refit.toSet).take(3)} / ${(refit.toSet diff merged.toSet).take(3)}")
    def scalarsOf(d: String) = {
      val r = spark.read.parquet(Pipeline.bm25StatsPaths(spark, d)._2).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(scalarsOf(statsDir) == scalarsOf(fullDir))
  }

  test("C41b stats commit is one atomic generation; legacy layouts are refused") {
    val docs = Relational.table(spark, dir, "documents")
    val statsDir = Similarity.freshScratch(spark, "graft_bm25_atomspec_")
    Pipeline.fitBm25Stats(docs, statsDir)
    // exactly one committed stats.gN holding BOTH tables under ONE
    // root marker — never split terms.gN/scalars.gN generations whose
    // independent commits could be read torn (round-12 advice)
    val gens = IndexMeta.list(spark, statsDir).map(_.getPath.getName)
    assert(gens.count(_.startsWith("stats.g")) == 1, s"layout: $gens")
    assert(!gens.exists(n => n.startsWith("terms.g") || n.startsWith("scalars.g")))
    val g = IndexMeta.liveGen(spark, statsDir, "stats").get.toString
    assert(onDisk(s"$g/terms") && onDisk(s"$g/scalars"))
    // an UNCOMMITTED generation (both tables written, marker missing —
    // the crash window) is invisible to readers: the old snapshot stays live
    val (g1, _) = IndexMeta.nextGen(spark, statsDir, "stats")
    spark.range(1).select(lit("x").as("tok"), lit(1L).as("dfq"), lit(0L).as("idf_micro"))
      .write.parquet(s"$g1/terms")
    spark.range(1).select(lit(0L).as("s_total"), lit(0L).as("n_docs"))
      .write.parquet(s"$g1/scalars")
    assert(Pipeline.bm25StatsPaths(spark, statsDir)._1 == s"$g/terms",
      "a generation without the root marker must not resolve")
    IndexMeta.delete(spark, g1)
    // the layouts before the one generation — flat `terms`/`scalars`
    // dirs, and split `terms.gN`/`scalars.gN` generations — are refused
    // with the refit message, by the scorer and by an append alike
    val (tp, sp) = Pipeline.bm25StatsPaths(spark, statsDir)
    val flat = Similarity.freshScratch(spark, "graft_bm25_legacyspec_")
    spark.read.parquet(tp).write.parquet(s"$flat/terms")
    spark.read.parquet(sp).write.parquet(s"$flat/scalars")
    val split = Similarity.freshScratch(spark, "graft_bm25_splitspec_")
    spark.read.parquet(tp).write.parquet(s"$split/${IndexMeta.genName("terms", 0)}")
    spark.read.parquet(sp).write.parquet(s"$split/${IndexMeta.genName("scalars", 0)}")
    Seq(flat, split).foreach { d =>
      Seq(() => Pipeline.bm25ScoreWith(spark, docs, d, Pipeline.bm25Query).collect(),
          () => Pipeline.appendBm25Stats(spark, d, docs.limit(3))).foreach { op =>
        val e = intercept[RuntimeException](op())
        assert(e.getMessage.contains("no committed stats generation") &&
          e.getMessage.contains("fitBm25Stats"), e.getMessage)
      }
    }
  }

  test("C43 hybrid RRF: exact fusion of independently recomputed legs") {
    // sparse leg: the c41 integer-rational recomputation, depth 20,
    // doc 0 (the query document) excluded
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq)).toSeq
    val n = docs.size.toLong
    val sTotal = docs.map(_._2.size.toLong).sum
    val q = Pipeline.bm25Query.toSet
    val tf = docs.map { case (id, toks) =>
      (id, toks.size.toLong, toks.filter(q).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    }
    val dfq = q.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    val idf = dfq.collect { case (t, d) if d > 0 =>
      t -> math.round(math.log(((n - d).toDouble + 0.5) / (d.toDouble + 0.5) + 1.0) * 1e6)
    }
    val sparse = tf.flatMap { case (id, dl, m) =>
      if (m.isEmpty || id == 0L) None else Some((id, m.map { case (t, f) =>
        val num = 22L * sTotal * f
        val den = 10L * sTotal * f + 3L * sTotal + 9L * dl * n
        math.round(idf(t).toDouble * (num.toDouble / den.toDouble))
      }.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // dense leg: the graft_cosine sequential fold, round-half-up to 4,
    // ranked (sim desc, id)
    val embs = Relational.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val qv = embs.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dense = embs.filter(_._1 != 0L)
      .map { case (id, v) => (id, java.math.BigDecimal.valueOf(cos(v, qv))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    def w(r: Option[Int]): Long =
      r.map(rk => math.floor(1000000.0 / (60 + rk)).toLong).getOrElse(0L)
    val expected = (sparse.keySet ++ dense.keySet).toSeq
      .map(id => (id, w(sparse.get(id)) + w(dense.get(id))))
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .map { case (id, s) => (id, s, sparse.get(id), dense.get(id)) }
    val got = Pipeline.queries("c43_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    // both legs must actually contribute to the fused top-10 (the
    // fusion isn't degenerate at this sf)
    assert(got.exists(_._3.isDefined) && got.exists(_._4.isDefined))
  }

  test("C43b batch hybrid: sparse leg exact rank-for-rank; fusion overlaps exact hybrid") {
    val out = Pipeline.queries("c43b_hybrid_rrf_batch")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)))).toSeq
    assert(out.forall { case (q, d, _, _) => q != d }, "self-match leaked")
    // ---- exact recompute driver-side (600 docs, ~35 queries)
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq)).toSeq
    val n = docs.size.toLong
    val sTotal = docs.map(_._2.size.toLong).sum
    val embIds = Relational.table(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val qids = docs.map(_._1).filter(id => id % 17 == 0 && embIds(id))
    assert(out.map(_._1).distinct.sorted == qids.sorted,
      "every embedding-backed query must appear in the output")
    val df = scala.collection.mutable.Map.empty[String, Long]
    def dfOf(t: String): Long =
      df.getOrElseUpdate(t, docs.count(_._2.contains(t)).toLong)
    def idfOf(t: String): Long =
      math.round(math.log(((n - dfOf(t)).toDouble + 0.5) / (dfOf(t).toDouble + 0.5) + 1.0) * 1e6)
    def sparseRanks(q: Long): Map[Long, Int] = {
      // mirror the rare-term selection: 5 distinct tokens by (df asc, tok)
      val terms = docs.find(_._1 == q).get._2.distinct
        .sortBy(t => (dfOf(t), t)).take(Pipeline.hybridQueryTerms)
      docs.filter(_._1 != q).flatMap { case (d, toks) =>
        val dl = toks.size.toLong
        val s = terms.flatMap { t =>
          val f = toks.count(_ == t).toLong
          if (f == 0) None else {
            val num = 22L * sTotal * f
            val den = 10L * sTotal * f + 3L * sTotal + 9L * dl * n
            Some(math.round(idfOf(t).toDouble * (num.toDouble / den.toDouble)))
          }
        }.sum
        if (s == 0L) None else Some((d, s))
      }.sortBy { case (d, s) => (-s, d) }.take(20)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    }
    // the sparse leg is EXACT: every non-null rank_sparse must equal
    // the brute-force rank, and no exact top-20 member may be missing
    // from the output's sparse annotations when the doc IS in the output
    qids.foreach { q =>
      val exact = sparseRanks(q)
      out.filter(_._1 == q).foreach { case (_, d, rs, _) =>
        rs.foreach(r => assert(exact.get(d).contains(r),
          s"query $q doc $d: sparse rank $r != exact ${exact.get(d)}"))
      }
    }
    // fusion quality: mean overlap@10 vs the EXACT hybrid (brute-force
    // dense + exact sparse, same RRF) — the IVF leg is the only
    // approximation, so overlap should be high
    val embs = Relational.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def wgt(r: Option[Int]): Long =
      r.map(rk => math.floor(1000000.0 / (60 + rk)).toLong).getOrElse(0L)
    val overlaps = qids.map { q =>
      val qv = embs(q)
      val denseExact = embs.toSeq.filter(_._1 != q)
        .map { case (d, v) => (d, java.math.BigDecimal.valueOf(cos(v, qv))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue) }
        .sortBy { case (d, s) => (-s, d) }.take(20)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val sp = sparseRanks(q)
      val fusedExact = (sp.keySet ++ denseExact.keySet).toSeq
        .map(d => (d, wgt(sp.get(d)) + wgt(denseExact.get(d))))
        .sortBy { case (d, s) => (-s, d) }.take(10).map(_._1).toSet
      val got10 = out.filter(_._1 == q).map(_._2).toSet
      fusedExact.intersect(got10).size.toDouble / math.max(1, fusedExact.size)
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.6, s"mean fused overlap@10 $mean < 0.6 across ${qids.size} queries")
  }

  test("C43c indexed hybrid ≡ the in-plan batch hybrid, row for row") {
    // same corpus, same cap, same query set — the persisted index path
    // must reproduce c43b exactly: the stored df/idf/scalars/postings
    // are the statistics c43b recomputes inline, and both forms share
    // the fusion code. Both outputs are totally ordered, so plain
    // sequence equality is the strongest check.
    def rows(k: String) = Pipeline.queries(k)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)))).toSeq
    val inPlan = rows("c43b_hybrid_rrf_batch")
    val indexed = rows("c43c_hybrid_batch_indexed")
    assert(indexed == inPlan,
      s"first diff: ${indexed.zip(inPlan).find(p => p._1 != p._2)}")
  }

  test("C43c cap↔recall: fused overlap@10 vs the exact hybrid is monotone in the cap") {
    // the posting cap trades tail recall for bounded work; this pins
    // the trade MEASURED and MONOTONE on the dense-posting fixture
    // (~26-token global vocab — every posting list is a large corpus
    // fraction, so small caps genuinely bite). Overlap is vs the
    // exact hybrid (uncapped sparse + exact brute-force dense, same
    // RRF), recomputed driver-side.
    val docs = Relational.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq)).toSeq
    val n = docs.size.toLong
    val sTotal = docs.map(_._2.size.toLong).sum
    val embs = Relational.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val qids = docs.map(_._1).filter(id => id % 17 == 0 && embs.contains(id))
    val df = scala.collection.mutable.Map.empty[String, Long]
    def dfOf(t: String): Long =
      df.getOrElseUpdate(t, docs.count(_._2.contains(t)).toLong)
    def idfOf(t: String): Long =
      math.round(math.log(((n - dfOf(t)).toDouble + 0.5) / (dfOf(t).toDouble + 0.5) + 1.0) * 1e6)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def wgt(r: Option[Int]): Long =
      r.map(rk => math.floor(1000000.0 / (60 + rk)).toLong).getOrElse(0L)
    val exactTop10: Map[Long, Set[Long]] = qids.map { q =>
      val terms = docs.find(_._1 == q).get._2.distinct
        .sortBy(t => (dfOf(t), t)).take(Pipeline.hybridQueryTerms)
      val sp = docs.filter(_._1 != q).flatMap { case (d, toks) =>
        val dl = toks.size.toLong
        val s = terms.flatMap { t =>
          val f = toks.count(_ == t).toLong
          if (f == 0) None else {
            val num = 22L * sTotal * f
            val den = 10L * sTotal * f + 3L * sTotal + 9L * dl * n
            Some(math.round(idfOf(t).toDouble * (num.toDouble / den.toDouble)))
          }
        }.sum
        if (s == 0L) None else Some((d, s))
      }.sortBy { case (d, s) => (-s, d) }.take(20)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val qv = embs(q)
      val dn = embs.toSeq.filter(_._1 != q)
        .map { case (d, v) => (d, java.math.BigDecimal.valueOf(cos(v, qv))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue) }
        .sortBy { case (d, s) => (-s, d) }.take(20)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      q -> (sp.keySet ++ dn.keySet).toSeq
        .map(d => (d, wgt(sp.get(d)) + wgt(dn.get(d))))
        .sortBy { case (d, s) => (-s, d) }.take(10).map(_._1).toSet
    }.toMap
    def meanOverlapAtCap(cap: Int): Double = {
      spark.conf.set("graft.retrieval.postingCap", cap.toString)
      try {
        val lexDir = Similarity.freshScratch(spark, s"graft_lex_cap${cap}_")
        Pipeline.fitLexIndex(Relational.table(spark, dir, "documents"), lexDir)
        val qIdDf = Relational.table(spark, dir, "embeddings")
          .select(col("vec_id").as("doc_id")).filter(col("doc_id") % 17 === 0)
        val out = Pipeline.hybridScoreIndexed(spark, lexDir,
            Similarity.ensureIndex(spark, dir),
            Relational.table(spark, dir, "documents")
              .join(qIdDf, Seq("doc_id"), "left_semi").select(col("doc_id"), col("text")),
            Relational.table(spark, dir, "embeddings")
              .join(qIdDf.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
              .select(col("vec_id"), col("embedding")))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val ov = qids.map { q =>
          val got = out.filter(_._1 == q).map(_._2).toSet
          val ex = exactTop10(q)
          ex.intersect(got).size.toDouble / math.max(1, ex.size)
        }
        ov.sum / ov.size
      } finally spark.conf.unset("graft.retrieval.postingCap")
    }
    val caps = Seq(25, 100, 400, 1600)
    val overlaps = caps.map(meanOverlapAtCap)
    info(s"cap→overlap@10: ${caps.zip(overlaps).map { case (c, o) => s"$c=${"%.3f".format(o)}" }.mkString(", ")}")
    overlaps.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"overlap not monotone in cap: $caps → $overlaps")
    }
    assert(overlaps.last >= 0.6,
      s"full-cap overlap ${overlaps.last} < 0.6 — cap no longer converges to the exact hybrid")
  }

  // -------------------- C43d/C43e: lexical index maintenance legs

  /** The live lex index as sorted sequences (terms, the header's
    * scalars, postings, doclens) — the parity currency of the
    * append/compact specs (term-for-term, posting-for-posting,
    * bit-identical longs). */
  private def lexTables(lexDir: String) = {
    val (t, h, p, dls) = Pipeline.lexLiveTables(spark, lexDir)
    val terms = t.collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("dfq")))
      .sortBy(_._1).toSeq
    val scalars = (h.sTotal, h.nDocs, h.postingCap)
    val postings = p.collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"), r.getAs[Int]("dl").toLong))
      .sortBy(t => (t._1, t._2)).toSeq
    val doclens = dls.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("dl").toLong))
      .sortBy(_._1).toSeq
    (terms, scalars, postings, doclens)
  }

  test("C43d: append ≡ full refit — bit-identical terms/scalars/postings/doclens (below-cap)") {
    // below-cap regime: no posting list truncates, so the exactness
    // contract holds term for term (the c41c additive-merge doctrine
    // extended to postings: same tf/dl/dfq/S/N through the same
    // idf/score expressions ⇒ the same BIGINTs)
    spark.conf.set("graft.retrieval.postingCap", "1000000")
    try {
      val docs = Relational.table(spark, dir, "documents")
      val a = Similarity.freshScratch(spark, "graft_c43d_par_a_")
      val b = Similarity.freshScratch(spark, "graft_c43d_par_b_")
      Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), a)
      Pipeline.appendLexIndex(spark, a, docs.filter(col("doc_id") % 10 === 7),
        Some("c43d_parity"))
      Pipeline.fitLexIndex(docs, b)
      val (ta, sa, pa, la) = lexTables(a)
      val (tb, sb, pb, lb) = lexTables(b)
      assert(sa == sb, s"scalars diverge: $sa vs $sb")
      assert(ta == tb, s"terms diverge; first diff: ${ta.zip(tb).find(p => p._1 != p._2)}")
      assert(la == lb, s"doclens diverge; first diff: ${la.zip(lb).find(p => p._1 != p._2)}")
      assert(pa == pb, s"postings diverge; first diff: ${pa.zip(pb).find(p => p._1 != p._2)}")
    } finally spark.conf.unset("graft.retrieval.postingCap")
  }

  test("C43d: batchId replay is a no-op; re-inserting a live id throws loudly") {
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c43d_replay_")
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    Pipeline.appendLexIndex(spark, idx, batch, Some("b1"))
    val gen = IndexMeta.liveGen(spark, idx, "lex").get.toString
    // the replay record rides the generation ITSELF (atomic with the
    // commit — no marker-file crash window): the live generation's
    // header carries the batch id
    assert(Pipeline.lexHeader(spark, gen, "the spec").applied == Seq("b1"),
      "applied-batch record missing from the committed generation")
    assert(!IndexMeta.list(spark, idx)
        .exists(_.getPath.getName.startsWith("_appended_")),
      "append still writes a marker file outside the generation")
    Pipeline.appendLexIndex(spark, idx, batch, Some("b1")) // replay
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString == gen,
      "batchId replay committed a new generation")
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendLexIndex(spark, idx, batch, Some("b2"))
    }
    assert(e.getMessage.contains("re-inserts"), e.getMessage)
  }

  test("C43c header: a generation without the commit marker is invisible") {
    // crash window of a commit: the next generation's header landed,
    // its `_SUCCESS` did not — readers keep serving the previous one
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c43_hdr_crash_")
    Pipeline.fitLexIndex(docs, idx)
    val gen = IndexMeta.liveGen(spark, idx, "lex").get.toString
    val h = Pipeline.lexHeader(spark, gen, "the spec")
    val queryDocs = docs.filter(col("doc_id") % 17 === 0).select(col("doc_id"), col("text"))
    def scores() = Pipeline.sparseScoreIndexed(spark, idx, queryDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val before = scores()
    val (next, _) = IndexMeta.nextGen(spark, idx, "lex")
    IndexMeta.writeSmallFile(spark, s"$next/header.json",
      h.copy(nDocs = h.nDocs * 2, segments = Seq("seg_missing")).toJson.toString.getBytes("UTF-8"))
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString == gen,
      "an uncommitted header resolved as the live generation")
    assert(Pipeline.lexHeader(spark, IndexMeta.liveGen(spark, idx, "lex").get.toString, "the spec") == h)
    assert(scores() == before, "an uncommitted header changed the served scores")
    // every other family resolves its header by the same rule: an
    // uncommitted next generation whose header names nothing valid
    // changes neither the live header nor what the family serves
    families.filter(_.name != "lex").foreach { f =>
      val live = IndexMeta.liveGen(spark, f.root, f.gen).get
      val header = IndexMeta.header(spark, f.root, f.gen, "the spec").toString
      val served = f.contents(f.root)
      val (orphan, _) = IndexMeta.nextGen(spark, f.root, f.gen)
      IndexMeta.writeSmallFile(spark, s"$orphan/header.json", "{}".getBytes("UTF-8"))
      try {
        assert(IndexMeta.liveGen(spark, f.root, f.gen).get == live,
          s"${f.name}: an uncommitted header resolved as the live generation")
        assert(IndexMeta.header(spark, f.root, f.gen, "the spec").toString == header)
        assert(f.contents(f.root) == served, s"${f.name}: an uncommitted header changed what it serves")
      } finally IndexMeta.delete(spark, orphan)
    }
  }

  // -------------------- the one commit protocol, over every family

  test("Index header: every family's metadata read runs zero Spark jobs") {
    families.foreach { f =>
      f.read(f.root) // warm: first-touch class loading is not a job either way
      val (_, jobs) = graft.tools.JobCounter.jobsDuring(spark)(f.read(f.root))
      assert(jobs === 0, s"${f.name}: the metadata read ran $jobs Spark jobs")
    }
  }

  test("Index header: no marker file or metadata table exists after build, append and compaction") {
    import scala.jdk.CollectionConverters._
    val retired = ("_appended_.*|_slice_.*|_built|centroids.*|quantstats\\.g.*|" +
      "pqmeta\\.g.*|meta\\.g.*|shardman\\.g.*").r
    families.map(_.root).distinct.foreach { root =>
      val stale = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).filter(retired.matches).toSeq
      assert(stale.isEmpty, s"$root holds entries of a retired layout: ${stale.distinct}")
    }
  }

  test("Index header: replaying an applied batch id is a no-op for every family with appends") {
    families.flatMap(f => f.replay.map(f -> _)).foreach { case (f, replay) =>
      val gen = IndexMeta.liveGen(spark, f.root, f.gen).get
      val before = f.contents(f.root)
      replay(f.root)
      assert(IndexMeta.liveGen(spark, f.root, f.gen).get === gen,
        s"${f.name}: the replay committed a new generation")
      assert(f.contents(f.root) === before, s"${f.name}: the replay changed the served contents")
    }
  }

  test("Index commit: a crash at every commit point of every family converges on a same-key replay") {
    // each case copies the family's fixture, runs its mutation with
    // the fault hook throwing at the first pass of one commit point,
    // then replays the mutation (same ids, same batch id) with no
    // fault: what the family serves must equal the one-shot run's
    final class Crash(point: String) extends RuntimeException(s"injected crash at $point")
    families.foreach { f =>
      def fresh() = {
        val d = copyTree(f.root, s"graft_fault_${f.name}_")
        f.prepare(d)
        d
      }
      val oneShot = { val d = fresh(); f.mutate(d); try f.contents(d) finally IndexMeta.delete(spark, d) }
      IndexMeta.faultPoints.foreach { point =>
        val d = fresh()
        var fired = false
        IndexMeta.faultHook = p => if (p == point && !fired) { fired = true; throw new Crash(point) }
        try intercept[Crash](f.mutate(d))
        finally IndexMeta.faultHook = _ => ()
        f.mutate(d)
        try assert(f.contents(d) == oneShot, s"${f.name}: the replay after a crash at `$point` diverged")
        finally IndexMeta.delete(spark, d)
      }
    }
  }

  test("Index header: a root of a layout before the header is refused with a rebuild message") {
    // each family's old layout, reduced to what its readers resolved:
    // committed table generations and no header
    val oldLayouts = Seq(
      ("ivf", "vectors", (d: String) => Similarity.ivfCodebook(spark, d), "buildIvfIndexFrom"),
      ("store", "shingles", (d: String) => Similarity.nearDupTablePaths(spark, d, "pairs"),
        "buildNearDupIndex"),
      ("state", "meta", (d: String) => Training.liveSlices(spark, d), "buildPretrainState"))
    oldLayouts.foreach { case (name, table, read, rebuild) =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_old_$name").toString
      IndexMeta.createMarker(spark, s"$d/${IndexMeta.genName(table, 0)}/_SUCCESS")
      val e = intercept[RuntimeException](read(d))
      assert(e.getMessage.contains(s"no committed $name generation") &&
        e.getMessage.contains(rebuild), s"$name: ${e.getMessage}")
    }
  }

  test("Index header: a cached index whose header its reader refuses is rebuilt, not served") {
    // a cache dir of the same corpus fingerprint can hold a header of
    // another layout (an older or newer build of the library): the
    // cache must rebuild it rather than hand it to a reader that fails
    val root = java.nio.file.Files.createTempDirectory("graft_cache_root").toString
    val src = java.nio.file.Files.createTempDirectory("graft_cache_src")
    java.nio.file.Files.write(src.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    var builds = 0
    def ensure() = IndexMeta.ensureDerived(spark, src.toString, "graft_spec_cache_", Seq("current"))(
      p => require(IndexMeta.field(IndexMeta.header(spark, p, "t", "the spec"), "current").asBoolean))(
      p => {
        builds += 1
        IndexMeta.commitGen(spark, p, "t")(_ => IndexMeta.newHeader().put("current", builds > 1))
      })
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    spark.conf.set("graft.index.root", root)
    try {
      val first = name(ensure()) // commits a header its reader refuses
      // before the rebuild, plant the dirs its GC must sort: of a stale
      // fingerprint (one ready, one not — a crash or a refused layout),
      // of the same files under another layout's fingerprint (a build
      // of another version of the library), an unready one of this
      // fingerprint (maybe a concurrent build), and one of another
      // corpus whose key starts with this prefix
      val fp = first.stripPrefix("graft_spec_cache_").takeWhile(_ != '_')
      assert(fp === IndexMeta.fingerprint(spark, src.toString, Seq("current")))
      val staleReady = s"$root/graft_spec_cache_0_local-1"
      IndexMeta.commitGen(spark, staleReady, "t")(_ => IndexMeta.newHeader().put("current", true))
      val otherLayout =
        s"$root/graft_spec_cache_${IndexMeta.fingerprint(spark, src.toString, Seq("older"))}_local-5"
      IndexMeta.commitGen(spark, otherLayout, "t")(_ => IndexMeta.newHeader().put("current", false))
      val planted = Seq("0_local-2", s"${fp}_local-3", s"2_${fp}_local-4")
        .map(n => s"$root/graft_spec_cache_$n")
      planted.foreach(d => IndexMeta.writeSmallFile(spark, s"$d/part-0", Array[Byte](1)))
      assert(name(ensure()) === first && builds === 2, "an unreadable cached header was served")
      assert(name(ensure()) === first && builds === 2, "a readable cached index was rebuilt")
      val left = IndexMeta.list(spark, root).map(_.getPath.getName).toSet
      assert(left === Set(first, s"graft_spec_cache_${fp}_local-3", s"graft_spec_cache_2_${fp}_local-4"),
        "the rebuild's GC must delete every stale-fingerprint dir, ready or not, and nothing else")
    } finally spark.conf.unset("graft.index.root")
  }

  test("Index header: an IVF rebuild succeeds over codebook files a crashed build left") {
    // a build that failed after writing its codebooks and before its
    // header leaves `codebook_<lineage>.f32` with no generation dir; the
    // re-run opens the same lineage and must not trip over them
    val vecs = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = Similarity.freshScratch(spark, "graft_ivf_orphan_cb_")
    val lineage = IndexMeta.genName("ivf", 0)
    Seq("codebook", "coarse").foreach(b =>
      IndexMeta.writeSmallFile(spark, s"$idx/${b}_$lineage.f32", Array.fill[Byte](8)(7)))
    Similarity.buildIvfIndexFrom(spark, vecs.filter(col("vec_id") % 20 =!= 7), idx)
    val h = Similarity.ivfHeader(spark, idx, "the spec")
    assert(h.codebook === s"codebook_$lineage.f32" && h.coarse.isEmpty)
    val ivf = families.find(_.name == "ivf").get.root // built from the same vectors
    assert(Similarity.ivfCodebook(spark, idx).flat.sameElements(Similarity.ivfCodebook(spark, ivf).flat),
      "the rebuilt codebook differs from a clean build's")
    assert(!onDisk(s"$idx/coarse_$lineage.f32"), "the orphan coarse codebook survived")
  }

  test("Index header: a header of the layout before segments is refused with the rebuild message") {
    // the unsegmented headers: IVF and the store named table generations
    // that appends wrote into, the pretrain state had no seen-hash or
    // eval-gram dirs
    val unsegmented = Seq(
      ("ivf", """{"vectors":"vectors.g00000","ids":"ids.g00000","codebook":"codebook_ivf.g00000.f32",""" +
        """"dim":4,"mean_sq_dist":1.0,"n_build":1,"lineage":"ivf.g00000","applied":[]}""",
        (d: String) => Similarity.ivfCodebook(spark, d), "buildIvfIndexFrom"),
      ("store", """{"shingles":"shingles.g00000","bands":"bands.g00000","pairs":"pairs.g00000","applied":[]}""",
        (d: String) => Similarity.nearDupTablePaths(spark, d, "pairs"), "buildNearDupIndex"),
      ("state", """{"max_doc_id":5,"slices":[],"applied":[]}""",
        (d: String) => Training.liveSlices(spark, d), "buildPretrainState"),
      // and the headers from before the tombstone deltas
      ("lex", """{"s_total":1,"n_docs":1,"posting_cap":5,"segments":[],"applied":[]}""",
        (d: String) => Pipeline.lexSegmentCount(spark, d), "fitLexIndex"),
      ("ivf", """{"segments":["seg_ivf.g00000"],"codebook":"codebook_ivf.g00000.f32",""" +
        """"dim":4,"mean_sq_dist":1.0,"n_build":1,"applied":[]}""",
        (d: String) => Similarity.ivfCodebook(spark, d), "buildIvfIndexFrom"),
      ("state", """{"max_doc_id":5,"slices":[],"seen_th":[],"evalgrams":[],"applied":[]}""",
        (d: String) => Training.liveSlices(spark, d), "buildPretrainState"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    unsegmented.foreach { case (name, header, read, rebuild) =>
      val d = Similarity.freshScratch(spark, s"graft_unsegmented_${name}_")
      IndexMeta.commitGen(spark, d, name)(_ =>
        mapper.readTree(header).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      val e = intercept[RuntimeException](read(d))
      assert(e.getMessage.contains("older layout") && e.getMessage.contains(rebuild),
        s"$name: ${e.getMessage}")
    }
  }

  test("Index header: an uncommitted append segment is invisible, swept by the next append, and its batch re-runs") {
    // the last crash point of an append: its segment and the header
    // naming it are written, the commit marker is not
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    def plantCrash(root: String, family: String)(writeSegment: String => Unit): (String, String) = {
      val (g, _) = IndexMeta.nextGen(spark, root, family)
      val seg = s"$root/seg_${name(g)}"
      writeSegment(seg)
      val h = IndexMeta.header(spark, root, family, "the spec")
      IndexMeta.putStrings(h, "segments", IndexMeta.strings(h, "segments") :+ name(seg))
      IndexMeta.putStrings(h, "applied", IndexMeta.strings(h, "applied") :+ "b1")
      IndexMeta.writeSmallFile(spark, s"$g/header.json", h.toString.getBytes("UTF-8"))
      (g, seg)
    }
    def fixture(f: String) = families.find(_.name == f).get.root // built from the same split

    // IVF: the crashed segment holds the whole batch again
    val vecs = Relational.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val ivf = Similarity.freshScratch(spark, "graft_ivf_crashed_append_")
    Similarity.buildIvfIndexFrom(spark, vecs.filter(col("vec_id") % 20 =!= 7), ivf)
    val batch = vecs.filter(col("vec_id") % 20 === 7)
    def ivfIds(d: String) = Similarity.storedVectors(spark, d).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    val idsBefore = ivfIds(ivf)
    val (ivfGen, ivfSeg) = plantCrash(ivf, "ivf") { seg =>
      batch.select(col("vec_id")).write.parquet(s"$seg/ids")
      batch.withColumn("sigs", array(lit(0L))).withColumn("cell", lit(0))
        .write.partitionBy("cell").parquet(s"$seg/vectors")
    }
    assert(ivfIds(ivf) === idsBefore, "the uncommitted IVF segment is visible")
    Similarity.appendToIvfIndex(spark, ivf, batch, Some("b1"))
    assert(ivfIds(ivf) === ivfIds(fixture("ivf")), "the re-run IVF batch is missing or duplicated")
    assert(!onDisk(ivfSeg) && !onDisk(ivfGen),
      "the next IVF append left the crashed one on disk")

    // near-dup store: the crashed segment holds the batch's shingles
    // and a second copy of every pair
    val docs = Relational.table(spark, dir, "documents")
    val store = Similarity.freshScratch(spark, "graft_store_crashed_append_")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), store)
    val arrivals = docs.filter(col("doc_id") % 20 === 7)
    def pairs(d: String) = Similarity.nearDupIndexPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def shingleIds() = spark.read.parquet(Similarity.nearDupTablePaths(spark, store, "shingles"): _*)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    val (pairsBefore, shBefore) = (pairs(store), shingleIds())
    val (storeGen, storeSeg) = plantCrash(store, "store") { seg =>
      Similarity.hashedShingles(spark, arrivals).write.parquet(s"$seg/shingles")
      spark.read.parquet(Similarity.nearDupTablePaths(spark, store, "bands"): _*)
        .write.parquet(s"$seg/bands")
      Similarity.nearDupIndexPairs(spark, store).write.parquet(s"$seg/pairs")
    }
    assert(pairs(store) === pairsBefore && shingleIds() === shBefore,
      "the uncommitted store segment is visible")
    Similarity.appendToNearDupIndex(spark, store, arrivals, Some("b1"))
    val after = pairs(store)
    assert(after.distinct === after && after === pairs(fixture("store")),
      "the re-run store batch is missing or duplicated pairs")
    assert(!onDisk(storeSeg) && !onDisk(storeGen),
      "the next store append left the crashed one on disk")
  }

  test("C43c header: a parquet-trio generation is refused with the refit message") {
    // the layout before the header: one-row scalars, a segment manifest
    // and an applied table as parquet, committed by `_SUCCESS`
    import spark.implicits._
    val docs = Relational.table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val idx = Similarity.freshScratch(spark, "graft_c43_hdr_trio_")
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val h = Pipeline.lexHeader(spark, IndexMeta.liveGen(spark, idx, "lex").get.toString, "the spec")
    val (old, _) = IndexMeta.nextGen(spark, idx, "lex")
    Seq((h.sTotal, h.nDocs, h.postingCap.toLong, IndexMeta.genName("lex", 0)))
      .toDF("s_total", "n_docs", "posting_cap", "lineage").write.parquet(s"$old/scalars")
    h.segments.toDF("seg").write.parquet(s"$old/manifest")
    Seq("b0").toDF("batch").write.parquet(s"$old/applied")
    IndexMeta.createMarker(spark, s"$old/_SUCCESS")
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString.endsWith(
      new org.apache.hadoop.fs.Path(old).getName), "the trio generation is not the live one")
    val refusals = Seq(
      "search" -> (() => Pipeline.sparseScoreIndexed(spark, idx, docs.limit(4)).collect()),
      "append" -> (() => Pipeline.appendLexIndex(spark, idx,
        docs.filter(col("doc_id") % 10 === 7), Some("b1"))),
      "delete" -> (() => Pipeline.deleteLexDocs(spark, idx, docs.limit(1).select(col("doc_id")))),
      "compaction" -> (() => Pipeline.compactLexIndex(spark, idx)))
    refusals.foreach { case (what, op) =>
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("refit with fitLexIndex"), s"$what: ${e.getMessage}")
    }
  }

  test("C43e: a deleted doc is invisible to the next sparse batch; re-delete idempotent") {
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c43e_vis_")
    Pipeline.fitLexIndex(docs, idx)
    val qIds = Relational.table(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id")).filter(col("doc_id") % 17 === 0)
    val queryDocs = docs.join(qIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val before = Pipeline.sparseScoreIndexed(spark, idx, queryDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before.exists(_._2 % 10 == 7),
      "fixture regression: no doc_id % 10 == 7 retrieved before the delete — " +
        "the takedown check would be vacuous")
    Pipeline.deleteLexDocs(spark, idx, docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id")))
    val after = Pipeline.sparseScoreIndexed(spark, idx, queryDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after.nonEmpty && after.forall(_._2 % 10 != 7),
      s"deleted docs still retrieved: ${after.filter(_._2 % 10 == 7).take(5)}")
    // re-delete (incl. ids never indexed): a no-op, not an error
    Pipeline.deleteLexDocs(spark, idx, docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id")))
    val again = Pipeline.sparseScoreIndexed(spark, idx, queryDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == after, "re-delete changed the result")
  }

  test("C43e: compaction ≡ refit on survivors; tombstoned re-insert throws until compacted") {
    spark.conf.set("graft.retrieval.postingCap", "1000000")
    try {
      val docs = Relational.table(spark, dir, "documents")
      val a = Similarity.freshScratch(spark, "graft_c43e_cmp_a_")
      Pipeline.fitLexIndex(docs, a)
      Pipeline.deleteLexDocs(spark, a, docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id")))
      // a tombstoned id cannot re-enter before compaction (it would
      // resurrect rows the compaction then double-drops)
      val e = intercept[IllegalArgumentException] {
        Pipeline.appendLexIndex(spark, a, docs.filter(col("doc_id") % 10 === 7),
          Some("premature"))
      }
      assert(e.getMessage.contains("re-inserts"), e.getMessage)
      Pipeline.compactLexIndex(spark, a)
      assert(!IndexMeta.list(spark, a)
          .exists(_.getPath.getName.startsWith("tomb_")),
        "compaction left a tombstone delta behind")
      val b = Similarity.freshScratch(spark, "graft_c43e_cmp_b_")
      Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), b)
      assert(lexTables(a) == lexTables(b),
        "compacted index diverges from a refit on the survivors")
      // after compaction the ids are re-insertable, and the append
      // restores exactly the full-corpus fit
      Pipeline.appendLexIndex(spark, a, docs.filter(col("doc_id") % 10 === 7),
        Some("reinsert"))
      val c = Similarity.freshScratch(spark, "graft_c43e_cmp_c_")
      Pipeline.fitLexIndex(docs, c)
      assert(lexTables(a) == lexTables(c),
        "delete → compact → re-insert does not round-trip to the full fit")
    } finally spark.conf.unset("graft.retrieval.postingCap")
  }

  test("C43f: streamed lexical ingest ≡ the one-shot append, table for table (below-cap)") {
    // micro-batch replay through foreachBatch must land the identical
    // index: each append recomputes idf/scores from merged GLOBAL
    // stats, so below the cap the composition is associative —
    // stream ≡ one-shot ≡ refit, transitively
    spark.conf.set("graft.retrieval.postingCap", "1000000")
    try {
      val docs = Relational.table(spark, dir, "documents")
      val a = Similarity.freshScratch(spark, "graft_c43f_one_")
      Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), a)
      Pipeline.appendLexIndex(spark, a, docs.filter(col("doc_id") % 10 === 7),
        Some("oneshot"))
      val b = Similarity.freshScratch(spark, "graft_c43f_str_")
      Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), b)
      Pipeline.lexIngestStreamOn(spark, b, docs.filter(col("doc_id") % 10 === 7),
        "graft_c43f_spec")
      assert(lexTables(a) == lexTables(b),
        "streamed ingest diverges from the one-shot append")
    } finally spark.conf.unset("graft.retrieval.postingCap")
  }

  test("C43 segment cadence: census bound holds across appends, disabled mode piles up, tables ≡ refit") {
    // the c27/IVF file-census doctrine at segment granularity:
    // per-term query candidates are bounded by cap × segments, so the
    // store must fold itself once the census crosses the bound — and
    // the fold must not change what any reader sees (below the cap,
    // compaction's global re-truncation is vacuous on raw facts)
    spark.conf.set("graft.retrieval.postingCap", "1000000")
    val docs = Relational.table(spark, dir, "documents")
    val slice = (k: Int) => docs.filter(col("doc_id") % 5 === k)
    try {
      // disabled (≤ 0): the caller owns the cadence — segments pile up
      spark.conf.set("graft.lex.maxSegments", "0")
      val off = Similarity.freshScratch(spark, "graft_c43_cad_off_")
      Pipeline.fitLexIndex(slice(0), off)
      (1 to 4).foreach(k => Pipeline.appendLexIndex(spark, off, slice(k), Some(s"off_$k")))
      assert(Pipeline.lexSegmentCount(spark, off) == 5,
        "disabled cadence must leave one segment per fit/append")
      // bound 2: every append that lands a third segment triggers the fold
      spark.conf.set("graft.lex.maxSegments", "2")
      val idx = Similarity.freshScratch(spark, "graft_c43_cad_")
      Pipeline.fitLexIndex(slice(0), idx)
      (1 to 4).foreach { k =>
        Pipeline.appendLexIndex(spark, idx, slice(k), Some(s"cad_$k"))
        val n = Pipeline.lexSegmentCount(spark, idx)
        assert(n <= 2, s"census bound violated after append $k: $n segments live")
      }
      // 1,2,3→fold(1),2,3→fold(1): the run ends folded to ONE segment
      assert(Pipeline.lexSegmentCount(spark, idx) == 1,
        "final append crossed the bound but the store did not fold")
      // the folds changed nothing a reader sees: ≡ one-shot refit
      val full = Similarity.freshScratch(spark, "graft_c43_cad_full_")
      Pipeline.fitLexIndex(docs, full)
      assert(lexTables(idx) == lexTables(full),
        "cadence-maintained store diverges from the one-shot refit")
    } finally {
      spark.conf.unset("graft.retrieval.postingCap")
      spark.conf.unset("graft.lex.maxSegments")
    }
  }

  test("C43d: an empty batch appends as a pure no-op, not an NPE") {
    // streaming replay can deliver empty micro-batches (stageSlices
    // pads the id range); the append must return without committing a
    // generation or crashing on the null sum aggregate — no replay
    // record needed, re-appending nothing is naturally idempotent
    val docs = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val idx = Similarity.freshScratch(spark, "graft_c43_empty_")
    Pipeline.fitLexIndex(docs, idx)
    val gen0 = IndexMeta.liveGen(spark, idx, "lex").get.toString
    Pipeline.appendLexIndex(spark, idx, docs.limit(0), Some("empty1"))
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString == gen0,
      "an empty batch committed a new generation")
    assert(Pipeline.lexSegmentCount(spark, idx) == 1,
      "an empty batch wrote a segment")
    Pipeline.appendLexIndex(spark, idx, docs.limit(0), Some("empty1")) // replay no-op
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString == gen0)
  }

  test("C43 crash orphan: an uncommitted segment is invisible to readers and swept by compaction") {
    // the snapshot-atomicity claim, pinned: a crash between the
    // segment write and the manifest commit leaves a seg_* dir no
    // manifest references — readers must not see it (they resolve the
    // manifest, never list the disk) and compaction must sweep it
    // even on its no-op path (nothing else ever lists orphans)
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c43_orph_")
    Pipeline.fitLexIndex(docs, idx)
    val gen0 = IndexMeta.liveGen(spark, idx, "lex").get.toString
    val before = lexTables(idx)
    // simulate the crashed append's leftovers
    spark.range(1).selectExpr("'zzorphan' as tok", "99L as dfq")
      .write.parquet(s"$idx/seg_crashed/terms")
    spark.range(1).selectExpr(
        "'zzorphan' as tok", "900001L as doc_id", "1L as tf", "1 as dl")
      .write.parquet(s"$idx/seg_crashed/postings")
    spark.range(1).selectExpr("900001L as doc_id", "1 as dl")
      .write.parquet(s"$idx/seg_crashed/doclens")
    assert(lexTables(idx) == before,
      "an unreferenced segment leaked into the reader's view")
    Pipeline.compactLexIndex(spark, idx) // no tombstones, one live segment
    assert(IndexMeta.liveGen(spark, idx, "lex").get.toString == gen0,
      "orphan sweep committed a new generation")
    assert(!onDisk(s"$idx/seg_crashed"),
      "compaction's no-op path left the crash orphan on disk")
    assert(lexTables(idx) == before, "the sweep changed the live tables")
  }

  test("C43 lineage: a refit retires old tombstones and batch markers ATOMICALLY with its commit") {
    // the crash-window test: a refit that died right after its commit,
    // before its GC ran — the old index life's tombstone delta is still
    // ON DISK, yet every reader and maintenance op must ignore it,
    // because the fit's header names no delta and no applied batch id
    import spark.implicits._
    val docs = Relational.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val idx = Similarity.freshScratch(spark, "graft_c43_lin_")
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    // victim with UNIQUE text, so a same-text probe must retrieve the
    // victim itself — not a duplicate that would mask a hidden vid
    val vrow = docs.groupBy(col("text"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("doc_id"))
      .filter(col("c") === 1 && col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("text")).head()
    val (vid, vtext) = (vrow.getLong(0), vrow.getString(1))
    Pipeline.deleteLexDocs(spark, idx,
      spark.range(1).select(lit(vid).as("doc_id"))) // pending tombstone
    Pipeline.appendLexIndex(spark, idx, docs.filter(col("doc_id") % 10 === 7),
      Some("b1")) // consumed batch marker
    withDeletesLeftBehind(idx)(Pipeline.fitLexIndex(docs, idx)) // the "crashed refit"
    def staleTomb() = IndexMeta.list(spark, idx)
      .exists(_.getPath.getName.startsWith("tomb_"))
    assert(staleTomb(),
      "precondition: the old index life's tombstone delta must still be on disk")
    // 1. the stale tombstone does not hide the re-indexed doc: a
    // probe with the victim's own (unique) text must retrieve vid
    val hits = Pipeline.sparseScoreIndexed(spark, idx,
        Seq((-1L, vtext)).toDF("doc_id", "text"))
      .collect().map(_.getLong(1))
    assert(hits.contains(vid),
      s"stale tombstone hid re-indexed doc $vid (got ${hits.take(5).mkString(",")})")
    // 2. compaction of the new life must NOT physically apply the old
    // life's tombstone (the data-loss half of the crash window). A
    // REAL append creates the second segment so the fold actually
    // runs — with the stale tombstone still on disk when it does
    val alien2 = (0 until 20).map(i => (950000L + i, s"zzlin$i zzlin${i % 5}"))
      .toDF("doc_id", "text")
    withDeletesLeftBehind(idx)(Pipeline.appendLexIndex(spark, idx, alien2, Some("lin2")))
    assert(Pipeline.lexSegmentCount(spark, idx) == 2 && staleTomb(),
      "precondition: fold must run on >1 segments with the stale tombstone present")
    Pipeline.compactLexIndex(spark, idx)
    val (_, _, _, dls) = Pipeline.lexLiveTables(spark, idx)
    assert(dls.filter(col("doc_id") === vid).count() == 1,
      "compaction applied a retired index life's tombstone — data loss")
    // 3. replaying the old batchId against the new life APPENDS (the
    // refit reset ingest history) — the loud live-id clash proves the
    // marker did not silently no-op it
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendLexIndex(spark, idx, docs.filter(col("doc_id") % 10 === 7),
        Some("b1"))
    }
    assert(e.getMessage.contains("re-inserts"), e.getMessage)
  }

  test("C43c OOV telemetry: all-known batch reads 0.0; an unseen-vocab batch reads 1.0") {
    val docs = Relational.table(spark, dir, "documents")
    val idx = Similarity.freshScratch(spark, "graft_c43_oov_")
    Pipeline.fitLexIndex(docs, idx)
    val segs = Pipeline.lexHeader(spark, IndexMeta.liveGen(spark, idx, "lex").get.toString,
      "the spec").segments
    // the OOV fraction the score path logs, from the score path's own fold
    def oov(batch: org.apache.spark.sql.DataFrame) = Pipeline.lexQueryTerms(spark, idx, segs, batch)._3
    val known = docs.select(col("doc_id"), col("text")).limit(4)
    assert(oov(known) == 0.0, "corpus-drawn query batch must have zero OOV terms")
    import spark.implicits._
    val alien = Seq((990001L, "zzqxv1 zzqxv2 zzqxv3")).toDF("doc_id", "text")
    assert(oov(alien) == 1.0, "fully-unseen query batch must read OOV fraction 1.0")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(oov(empty) == 0.0, "an empty batch has no terms to be OOV")
  }

  test("C42 dense-leg recall: overlap@5 vs brute force is monotone in nprobe (non-twin queries)") {
    // index on the train split, queries from eval — no exact twin to
    // hide behind (the round-13 verdict's gap: c42's spec proved
    // rank-1 on planted copies only)
    val docs = Relational.table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val idx = Similarity.freshScratch(spark, "graft_rag_recall_")
    val nprobes = Seq(1, 2, 4, 8, 16)
    val table = Similarity.ragDenseRecall(spark, docs, idx, nprobes)
    info(s"nprobe→overlap@5: ${table.map { case (n, o) => s"$n=${"%.3f".format(o)}" }.mkString(", ")}")
    table.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"overlap not monotone in nprobe: $table")
    }
    assert(table.last._2 >= 0.8,
      s"overlap@5 at nprobe=${table.last._1} is ${table.last._2} < 0.8 — " +
        "the probe no longer converges to brute force")
  }

  test("C3b5: quantizer drift on an empty arrival batch throws a named contract error") {
    val idx = Similarity.ensureIndex(spark, dir)
    val empty = Relational.table(spark, dir, "embeddings").filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.quantizerDrift(spark, idx, empty)
    }
    assert(e.getMessage.contains("empty arrival batch"), e.getMessage)
  }

  test("C43c fit: reliable-checkpoint mode writes an identical lex generation") {
    // graft.checkpoint.dir flips the fit's intermediate pins from
    // executor-local blocks to durable storage (round-13 verdict item
    // 6) — a deployment knob that must not change a single stored byte
    val docs = Relational.table(spark, dir, "documents")
    val a = Similarity.freshScratch(spark, "graft_c43c_ck_a_")
    Pipeline.fitLexIndex(docs, a)
    val ck = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set("graft.checkpoint.dir", ck)
    try {
      val b = Similarity.freshScratch(spark, "graft_c43c_ck_b_")
      Pipeline.fitLexIndex(docs, b)
      assert(lexTables(a) == lexTables(b),
        "checkpoint mode changed the fitted index")
    } finally spark.conf.unset("graft.checkpoint.dir")
  }

  test("C43d/C43e registry keys: ingest ≡ indexed-on-full at the default cap is NOT claimed; results are well-formed") {
    // the registry wrappers run at the default cap (truncation active
    // on this dense-posting fixture), so the driver gate checks rows
    // only; here pin the structural contract: per-query ≤10 fused rows
    // (c43d) / ≤20 sparse ranks (c43e), no deleted doc in c43e, and
    // every query id from the shared batch present
    val ing = Pipeline.queries("c43d_hybrid_ingest")(spark, dir).collect()
    assert(ing.nonEmpty)
    ing.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= 10, s"query $q returned ${rows.length} fused rows")
    }
    val tak = Pipeline.queries("c43e_lex_takedown")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(tak.nonEmpty)
    assert(tak.forall(_._2 % 10 != 7), "c43e returned a tombstoned doc")
    tak.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq,
        s"query $q rank gap: ${rows.map(_._3).sorted.mkString(",")}")
    }
  }
}
