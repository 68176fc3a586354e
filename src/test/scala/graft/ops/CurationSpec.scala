package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantics checks for the curation ops that the sf-scale oracle can't
  * isolate: 13-gram boundary behavior, gram-hash collision freedom,
  * clustering transitivity + loud non-convergence, sampling determinism
  * and overflow-safety, and packing boundary arithmetic per (lang,
  * shard) stratum. */
class CurationSpec extends AnyFunSuite with SparkTestSession {

  private val sf = "/root/testdata/sf0.01"

  test("dedupClusterKeepBest: the HIGH-quality duplicate survives even at the higher id") {
    import spark.implicits._
    // Discriminator against every lowest-id keep rule in the family: doc
    // 10 (the LOWER id) is the boilerplate-padded copy — two stopwords
    // appended drop its c4 quality below doc 20's clean text (0.7408 vs
    // 0.75) while keeping 3-gram Jaccard at 48/50 = 0.96 ≥ 0.8, so the
    // two docs cluster. The keep rule must hand the cluster to doc 20;
    // c14's own convention (and a naive min-id rule) would keep doc 10.
    // docs 30/40 are cluster-free noise and must not appear at all.
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, s"$base the the"),
      (20L, base),
      (30L, (1 to 30).map(i => s"aaa$i").mkString(" ")),
      (40L, (1 to 30).map(i => s"bbb$i").mkString(" "))
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_keepbest").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Curation.dedupClusterKeepBest(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(out.keySet === Set(10L, 20L), s"cluster membership wrong: ${out.keySet}")
    val (c10, q10, kb10, kq10, k10) = out(10L)
    val (c20, q20, kb20, _, k20) = out(20L)
    assert(c10 === 10L && c20 === 10L, "cluster id should still be the component min")
    assert(q20 > q10, s"fixture broken: clean copy not higher quality ($q20 vs $q10)")
    assert(kb10 === 20L && kb20 === 20L, s"argmax witness wrong: kept_by=$kb10")
    assert(kq10 === q20, "kept_q witness must carry the winner's score")
    assert(!k10 && k20, s"keep verdicts wrong: doc10=$k10 doc20=$k20")
  }

  test("decontaminate: shared 13-gram flags a doc; short docs never flagged") {
    import spark.implicits._
    // doc 0 is "eval" (id % 20 == 0); doc 1 repeats 13 of its tokens
    // verbatim; doc 2 shares only 12; doc 3 is a 12-token doc (no grams)
    val words = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      (0L, words.mkString(" ")),
      (1L, (Seq("x") ++ words.take(13) ++ Seq("y")).mkString(" ")),
      (2L, (words.take(12) ++ Seq("zzz")).mkString(" ")),
      (3L, words.take(12).mkString(" "))
    ).toDF("doc_id", "text")
    // run the same expression pipeline on the crafted frame via the op's
    // internals: materialize hashed grams the way decontaminate does
    val grams = docs.select(col("doc_id"), explode(expr(
      """transform(array(split(text, ' ')), toks ->
        |  CASE WHEN size(toks) >= 13 THEN
        |    array_distinct(transform(sequence(0, size(toks) - 13),
        |      i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 13)))))
        |  ELSE array() END)[0]""".stripMargin)).as("gram_h"))
    val ev = grams.filter(col("doc_id") % 20 === 0).select("gram_h").distinct()
    val flagged = grams.filter(col("doc_id") % 20 =!= 0).join(ev, Seq("gram_h"))
      .select("doc_id").distinct().as[Long].collect().sorted
    assert(flagged.toSeq === Seq(1L))
  }

  test("decontaminateBloom: superset of the exact join, bounded overcount, deterministic") {
    // the 100 TB decontam shape: the map-only BloomFilterMightContain
    // pass must NEVER miss a contaminated doc (FPR is one-sided), and
    // its false positives must sit within the configured 0.1% budget
    val exact = Curation.queries("c12_decontaminate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bloom = Curation.queries("c12c_decontaminate_bloom")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // superset: every exactly-contaminated doc flagged, never undercounted
    exact.foreach { case (id, n) =>
      assert(bloom.getOrElse(id, 0L) >= n,
        s"doc $id undercounted: bloom ${bloom.getOrElse(id, 0L)} < exact $n")
    }
    // bounded overcount: total false-positive gram flags ≤ 10× the
    // 0.1% FPR budget over the corpus gram population (loose bound —
    // pins the mechanism, not the RNG)
    val corpusGrams = Relational.table(spark, sf, "documents")
      .filter(col("doc_id") % 20 =!= 0)
      .select(explode(expr(
        """transform(array(split(text, ' ')), toks ->
          |  CASE WHEN size(toks) >= 13 THEN
          |    array_distinct(transform(sequence(0, size(toks) - 13),
          |      i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 13)))))
          |  ELSE array() END)[0]""".stripMargin)).as("h"))
      .count()
    val extra = bloom.map { case (id, n) => n - exact.getOrElse(id, 0L) }.sum
    assert(extra <= math.max(2L, corpusGrams / 100),
      s"bloom overcount $extra exceeds 1% of $corpusGrams corpus grams (fpp is 0.1%)")
    // refit determinism: a second run is bit-identical (stat.bloomFilter
    // seeds from the column, not an RNG)
    val again = Curation.queries("c12c_decontaminate_bloom")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again === bloom, "bloom decontamination not deterministic across runs")
  }

  test("decontaminateBloom plan: map-only corpus side — no join anywhere") {
    val p = Curation.queries("c12c_decontaminate_bloom")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"BloomFilterMightContain missing from plan:\n$p")
    assert(!p.contains("Join"), s"bloom decontamination pays a join:\n$p")
  }

  test("decontaminate: xxhash64 gram keys are collision-free on the whole corpus") {
    // the oracle joins on gram STRINGS, the operator on 64-bit hashes;
    // they agree iff no two distinct grams share a hash — proven exactly
    // here at test scale (beyond it: ~n²/2⁶⁴, negligible)
    val grams = Relational.table(spark, sf, "documents")
      .select(explode(expr(
        """transform(array(split(text, ' ')), toks ->
          |  CASE WHEN size(toks) >= 13 THEN
          |    array_distinct(transform(sequence(0, size(toks) - 13),
          |      i -> concat_ws(' ', slice(toks, i + 1, 13))))
          |  ELSE array() END)[0]""".stripMargin)).as("gram"))
    val counts = grams
      .agg(count_distinct(col("gram")).as("strings"),
        count_distinct(xxhash64(col("gram"))).as("hashes"))
      .head()
    assert(counts.getLong(0) === counts.getLong(1),
      s"xxhash64 collision among ${counts.getLong(0)} distinct grams")
    assert(counts.getLong(0) > 1000, "corpus should carry a real gram population")
  }

  test("dedupCluster: labels equal the transitive closure of the pair graph") {
    // independent closure: union-find over the exact pair list
    val pairs = Similarity.dedupNgramScaled(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = Curation.dedupCluster(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // cluster representative is the component minimum
    got.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl)
    }
  }

  test("dedupClusterIncremental: store-fed clustering equals the per-run-edges result") {
    // same closure, edges read from the persistent store instead of
    // regenerated — the dedup pipeline's end-to-end composition
    val viaStore = Curation.dedupClusterIncremental(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaEdges = Curation.dedupCluster(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStore.nonEmpty && viaStore === viaEdges)
  }

  test("clusterPairs: exiting the round cap unconverged throws, not silently mislabels") {
    import spark.implicits._
    // a path graph 0-1-...-300 has diameter 300; even with pointer-
    // jumping (O(log d) rounds) a cap of 2 cannot converge
    val path = (0L until 300L).map(i => (i, i + 1)).toDF("da", "db")
    val e = intercept[IllegalStateException] {
      Curation.clusterPairs(spark, path, maxRoundsDefault = 2).collect()
    }
    assert(e.getMessage.contains("did not reach a fixpoint"))
  }

  test("clusterPairs: pointer-jumping converges a 100-hop chain in O(log d) rounds") {
    import spark.implicits._
    // plain min-label propagation moves label 0 ONE hop per round — a
    // diameter-100 path would need ~100 rounds and throw under a cap of
    // 10. The label-of-label shortcut doubles reach per round, so ~8
    // rounds suffice; converging under the tight cap proves the
    // shortcut is active (the adversarial-chain scale concern)
    val path = (0L until 100L).map(i => (i, i + 1)).toDF("da", "db")
    val labels = Curation.clusterPairs(spark, path, maxRoundsDefault = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 101 && labels.values.forall(_ == 0L))
  }

  test("clusterPairs: reliable checkpoint knob pins iterations to the checkpoint dir") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("graft.checkpoint.dir", ckpt)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
      val labels = Curation.clusterPairs(spark, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // reliable checkpoints materialized on the configured FS path
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $ckpt")
    } finally spark.conf.unset("graft.checkpoint.dir")
  }

  test("sampleStratified: deterministic across runs, bucket arithmetic holds") {
    val a = Curation.sampleStratified(spark, sf).collect()
    val b = Curation.sampleStratified(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    a.foreach { r =>
      val (id, lang, bucket) = (r.getLong(0), r.getString(1), r.getLong(2))
      assert(bucket === ((id % 1000000007L) * 2654435761L / 65536L) % 100L)
      assert(bucket < (if (lang == "en") 10 else 40))
    }
  }

  test("sampleStratified: bucket formula is overflow-free at doc_id near 2^62") {
    import spark.implicits._
    // ids past the old formula's ~3.5e9 overflow bound: the mod-prime
    // reduction keeps the Knuth multiply < 2.66e18 (< 2⁶³−1) for EVERY
    // long id, so Spark and DuckDB (same integer semantics, no overflow)
    // agree across the whole id space — no id-range contract needed
    val huge = Seq((1L << 62) + 12345L, Long.MaxValue - 7L, 3500000000L, 0L)
    val got = huge.toDF("doc_id")
      .select(Curation.bucketExpr("doc_id").as("bucket"))
      .collect().map(_.getLong(0))
    val want = huge.map(id => ((id % 1000000007L) * 2654435761L / 65536L) % 100L)
    assert(got.toSeq === want)
    assert(got.forall(b => b >= 0 && b < 100))
  }

  test("packSequences: running offsets and straddle flags per (lang, shard) stratum") {
    val rows = Curation.packSequences(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getBoolean(5)))
    // recompute the packing per (lang, shard) in plain Scala
    val byStratum = rows.groupBy(r => (r._2, r._3))
    assert(byStratum.size > rows.map(_._2).distinct.length,
      "sharding must split at least one language across shards")
    byStratum.foreach { case ((_, shard), docs) =>
      var off = 0L
      docs.sortBy(_._1).foreach { case (id, _, _, n, seqId, straddles) =>
        assert(id / 128L === shard, s"doc $id in wrong shard $shard")
        assert(seqId === off / 512, s"seq_id at offset $off")
        assert(straddles === ((off + n - 1) / 512 != off / 512), s"straddle at offset $off")
        off += n
      }
    }
    // sanity: the pack actually spans multiple sequences
    assert(rows.map(_._5).distinct.length > 1)
  }

  test("packSequences: a non-default graft.pack.shardSpan threads into query AND oracle") {
    val span = 64L
    spark.conf.set("graft.pack.shardSpan", span.toString)
    try {
      val rows = Curation.packSequences(spark, sf)
        .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty)
      rows.foreach { case (id, shard) =>
        assert(shard === id / span, s"doc $id packed with the wrong span (shard $shard)")
      }
      // the oracle dumped in the SAME session must pack with the SAME
      // span — this was the r5 desync: query read the conf, oracle
      // hard-pinned the default
      val oracle = Curation.oracleSql("c15_pack_sequences")
      assert(oracle.contains(s"doc_id // $span"),
        s"oracle not packed with the swept span $span:\n$oracle")
      assert(!oracle.contains("doc_id // 128"))
    } finally spark.conf.unset("graft.pack.shardSpan")
    // conf cleared → both sides fall back to the default again
    assert(Curation.oracleSql("c15_pack_sequences").contains("doc_id // 128"))
  }

  test("piiStats: crafted PII is counted and scrubbed exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c_1@mail-host.co.uk and 10.0.0.1 then 555-123-4567 done"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io z@w.org one ip 192.168.001.007")
    ).toDF("doc_id", "text")
    val got = Curation.piiStats(docs, "text")
      .select("doc_id", "n_email", "n_ip", "n_phone", "red")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(_._1)
    assert(got(0) === ((1L, 1, 1, 1, "mail <EMAIL> and <IP> then <PHONE> done")))
    assert(got(1) === ((2L, 0, 0, 0, "no pii here at all")))
    assert(got(2) === ((3L, 2, 1, 0, "two mails <EMAIL> <EMAIL> one ip <IP>")))
  }

  test("piiStats: scrubbing is idempotent — a redacted corpus contains no PII") {
    // re-running the scrub over its own output must find nothing: the
    // replacement tokens cannot themselves match any pattern
    val once = Curation.piiStats(
      Relational.table(spark, sf, "documents")
        .withColumn("t2", expr(Curation.injectSql)), "t2")
      .select(col("doc_id"), col("red").as("text1"))
    val twice = Curation.piiStats(once, "text1")
    val dirty = twice.filter(col("n_email") > 0 || col("n_ip") > 0 || col("n_phone") > 0).count()
    assert(dirty === 0)
  }

  test("piiRedact: every injected corpus row carries exactly one of each PII kind") {
    // the synthetic corpus has no native PII and the injection adds one
    // email, one IP, one phone per doc — any other count means a pattern
    // over- or under-matches against real document text
    val bad = Curation.piiRedact(spark, sf)
      .filter(col("n_email") =!= 1 || col("n_ip") =!= 1 || col("n_phone") =!= 1)
      .count()
    assert(bad === 0)
  }

  test("repetitionStats: hand-computed ratios and boundary verdicts") {
    import spark.implicits._
    val docs = Seq(
      // n=5, uniq=2, top_tok=4; bigrams "a a"×3 + "a b" → top_bg 3/4
      (1L, "a a a a b"),
      // 21 fully distinct tokens → 20 distinct bigrams
      (2L, (1 to 21).map(i => s"w$i").mkString(" ")),
      // single token: zero bigram slots — must not divide by (n-1)=0
      // (ANSI mode throws), fraction defined as 0
      (3L, "solo")
    ).toDF("doc_id", "text")
    val got = Curation.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .sortBy(_._1)
    // dup_tok_ratio lands EXACTLY on the 0.6 threshold (kept — <=) but the
    // 0.75 bigram fraction fails the verdict
    assert(got(0) === ((1L, 0.6, 0.8, 0.75, false)))
    assert(got(1) === ((2L, 0.0, 0.0476, 0.05, true)))
    assert(got(2) === ((3L, 0.0, 1.0, 0.0, true)))
  }

  test("qualityRepetition: thresholds split the corpus — both verdicts occur") {
    val verdicts = Curation.qualityRepetition(spark, sf)
      .groupBy("keep").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(verdicts.getOrElse(true, 0L) > 0 && verdicts.getOrElse(false, 0L) > 0,
      s"degenerate threshold split: $verdicts")
  }

  test("capPerSourceOn: keeps the cap-smallest hash keys per source, dense ranks, rerun-stable") {
    import spark.implicits._
    // one hot source (30 docs) + one small source (3 docs, under the cap)
    val docs = ((1L to 30L).map(i => (i, "hot")) ++ Seq((101L, "cold"), (102L, "cold"), (103L, "cold")))
      .toDF("doc_id", "source")
    val out = Curation.capPerSourceOn(docs, cap = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val hot = out.filter(_._2 == "hot")
    val cold = out.filter(_._2 == "cold")
    assert(hot.length === 10 && cold.length === 3, "cap binds only above the cap")
    assert(hot.map(_._3).toSeq === (1 to 10) && cold.map(_._3).toSeq === (1 to 3))
    // selection = the 10 smallest md5('cap:'+id) keys, recomputed independently
    def key(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cap:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (1L to 30L).sortBy(id => (key(id), id)).take(10)
    assert(hot.map(_._1).toSeq === want, "kept set must be the hash-order prefix")
    // rerun-stable: same rows, same ranks
    assert(Curation.capPerSourceOn(docs, cap = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq === out.toSeq)
  }

  test("mixWeightsOn: √-temperature shares and epochs on crafted strata") {
    import spark.implicits._
    val docs = Seq(
      ("en", "srcA", (1 to 100).map(_ => "t").mkString(" ")),
      ("en", "srcB", (1 to 400).map(_ => "t").mkString(" "))
    ).toDF("lang", "source", "text")
    val bySrc = Curation.mixWeightsOn(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).toMap
    // √ scores 10 : 20 → shares 1/3 : 2/3; the budget dwarfs both strata
    // so sample_rate caps at 1 and epochs is the uncapped oversampling
    assert(bySrc("srcA") === ((1L, 100L, 0.3333, 1.0, 333.3333)))
    assert(bySrc("srcB") === ((1L, 400L, 0.6667, 1.0, 166.6667)))
  }

  test("mixResampleOn: rate-1.0 stratum keeps ALL; partial stratum thins near its rate") {
    import spark.implicits._
    // srcTiny: 10 docs × 5 tokens = 50 tokens — its √-share of the
    // 100k-token budget (~1.5k tokens) dwarfs it → rate 1.0, every doc
    // must survive. srcBig: 2000 docs × 100 tokens = 200k tokens →
    // rate ≈ 0.49, the Lehmer gate thins it to roughly half.
    val tiny = (1 to 10).map(i => (i * 1000L, "en", "srcTiny", (1 to 5).map(_ => "t").mkString(" ")))
    val big = (1 to 2000).map(i => (i.toLong, "en", "srcBig", (1 to 100).map(_ => "t").mkString(" ")))
    val docs = (tiny ++ big).toDF("doc_id", "lang", "source", "text")
    val out = Curation.mixResampleOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    val byShard = out.groupBy(_._2)
    assert(byShard("srcTiny").length === 10, "rate-1.0 stratum must keep every doc")
    assert(byShard("srcTiny").forall(_._3 === 1.0))
    val nBig = byShard("srcBig").length
    assert(nBig > 600 && nBig < 1400, s"partial stratum kept $nBig of 2000 at rate ~0.49")
    // every row carries its stratum's rate, and the gate is exactly the
    // published predicate — selected iff hash under the rate threshold
    val rate = byShard("srcBig").head._3
    val thresh = math.floor(rate * 1000003).toLong
    val selected = byShard("srcBig").map(_._1).toSet
    (1 to 2000).foreach { i =>
      val in = (i.toLong % 1000003L) * 48271L % 1000003L < thresh
      assert(selected.contains(i.toLong) === in, s"doc $i gate mismatch")
    }
    // deterministic: a rerun selects the identical documents
    assert(Curation.mixResampleOn(docs).collect().map(_.getLong(0)).toSeq
      === out.map(_._1).toSeq)
  }

  test("mixResampleOn: monotone in the rate — a smaller budget share selects a SUBSET") {
    import spark.implicits._
    // the same srcBig stratum under two corpora that differ only in the
    // OTHER stratum's mass: a heavier srcTiny grows z, shrinking
    // srcBig's √-share and thus its rate — the selected set must only
    // SHRINK (the property that makes incremental re-mixes churn-free)
    val big = (1 to 2000).map(i => (i.toLong, "en", "srcBig", (1 to 100).map(_ => "t").mkString(" ")))
    def run(tinyTok: Int): (Double, Set[Long]) = {
      val tiny = (1 to 10).map(i =>
        (i * 1000L, "en", "srcTiny", (1 to tinyTok).map(_ => "t").mkString(" ")))
      val rows = Curation.mixResampleOn((tiny ++ big).toDF("doc_id", "lang", "source", "text"))
        .collect().filter(_.getString(2) == "srcBig")
      (rows.head.getDouble(3), rows.map(_.getLong(0)).toSet)
    }
    val (rHigh, sHigh) = run(5)
    val (rLow, sLow) = run(5000)
    assert(rLow < rHigh, s"heavier sibling stratum must lower the rate ($rLow vs $rHigh)")
    assert(sLow.nonEmpty && sLow.subsetOf(sHigh),
      s"lowering the rate must only REMOVE documents (${(sLow -- sHigh).size} churned)")
  }

  test("lehmerHash: overflow-safe for 64-bit hash keys — naive form wraps, reduced form never") {
    import spark.implicits._
    // real-world doc_ids are 64-bit hashes; the naive (key*48271)%m
    // wraps negative above ~1.9e14 (always-selected bias) while DuckDB
    // raises on the overflow. These keys all wrap under the naive form.
    val keys = Seq(Long.MaxValue, Long.MaxValue - 1, 2_000_000_000_000_000L,
      191_000_000_000_000L, -1L, Long.MinValue, Long.MinValue + 1, 0L, 1L)
    // reduced Scala model with the same pmod semantics
    def pm(a: Long, m: Long): Long = { val r = a % m; if (r < 0) r + m else r }
    // the naive residue is WRONG (wrapped) for the huge keys — the bias
    // the fix removes; DuckDB would instead raise on the overflow
    assert(keys.exists(k => (k * 48271L) % 1000003L != pm(pm(k, 1000003L) * 48271L, 1000003L)),
      "fixture too weak: no key where the naive form wraps to a different residue")
    assert(keys.exists(k => (k * 48271L) % 1000003L < 0L),
      "fixture too weak: no key where the naive form goes negative (always-selected bias)")
    val got = keys.toDF("k").select(Curation.lehmerHash(col("k")).as("h"))
      .collect().map(_.getLong(0))
    val want = keys.map(k => pm(pm(k, 1000003L) * 48271L, 1000003L))
    assert(got.toSeq === want, "Spark gate must match the reduced int64 model")
    assert(got.forall(h => h >= 0 && h < 1000003L), "hash must land in [0, m)")
    // and for small positive ids the residue equals the published
    // (key·48271) mod m predicate — previously-selected docs unchanged
    (1L to 5000L).foreach { k =>
      assert(pm(pm(k, 1000003L) * 48271L, 1000003L) === (k * 48271L) % 1000003L)
    }
  }

  test("splitLeakFree: clusters never straddle the boundary; gate exact; singletons self-keyed") {
    val out = Curation.queries("c37_split_leakfree")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length.toLong === docs, "every document must be assigned a side")
    // gate exactness: the split is exactly the published Lehmer predicate
    out.foreach { case (id, key, split) =>
      val expected = if ((key % 1000003L) * 48271L % 1000003L < Curation.evalThresh) "eval" else "train"
      assert(split === expected, s"doc $id gate mismatch")
    }
    // LEAK-FREE: every c14 near-dup cluster lands on exactly one side —
    // the property the op exists for (a per-doc random split violates
    // it on this corpus's planted dup cliques)
    val splitByDoc = out.map(t => t._1 -> t._3).toMap
    val clusters = Curation.queries("c14_dedup_cluster")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty, "fixture must contain dup clusters")
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      val sides = members.map(m => splitByDoc(m._1)).distinct
      assert(sides.length === 1, s"cluster $cid straddles the split: $sides")
    }
    // a per-doc gate WOULD have straddled at least one cluster here —
    // the discriminator that proves cluster-keying is load-bearing
    val straddled = clusters.groupBy(_._2).exists { case (_, members) =>
      members.map { m =>
        (m._1 % 1000003L) * 48271L % 1000003L < Curation.evalThresh }.distinct.length > 1
    }
    assert(straddled, "fixture too weak: no cluster whose members' own-id gates disagree")
    // singletons key on their own id
    val clustered = clusters.map(_._1).toSet
    out.filterNot(t => clustered(t._1)).foreach { case (id, key, _) =>
      assert(key === id, s"singleton $id keyed on $key")
    }
    // the eval fraction sits near the 10% design point
    val evalFrac = out.count(_._3 == "eval").toDouble / out.length
    assert(evalFrac > 0.05 && evalFrac < 0.16, s"eval fraction $evalFrac off the 10% design point")
  }

  test("c15b BPE packing: window math re-verified in plain Scala; counts are real BPE") {
    val rows = Curation.queries("c15b_pack_bpe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // re-verify the packing arithmetic independently: per (lang, shard)
    // in doc_id order, seq_id = floor(startOffset / 512) and straddles
    // iff the doc crosses a 512 boundary — plain Scala running sums,
    // no Spark window involved
    rows.groupBy(t => (t._2, t._3)).foreach { case (_, g) =>
      var off = 0L
      g.sortBy(_._1).foreach { case (id, _, _, n, seqId, straddles) =>
        assert(seqId == off / 512, s"doc $id: seq $seqId != ${off / 512}")
        assert(straddles == ((off + n - 1) / 512 != off / 512), s"doc $id straddle flag")
        off += n
      }
    }
    // the counts are REAL BPE counts: refit the identical model
    // (deterministic — same split, same params) and recompute a sample
    // through the codec directly
    val modelDir = java.nio.file.Files.createTempDirectory("graft_c15b_spec").toString
    Training.fitBpe(spark,
      Relational.table(spark, sf, "documents")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 20 =!= 7),
      modelDir, 200, 65536)
    val merges = spark.read.parquet(s"${IndexMeta.liveGen(spark, modelDir, "bpe").get}/merges")
      .orderBy("rank").collect().flatMap(r => Seq(r.getString(1), r.getString(2)))
    val codec = new graft.functions.BpeCodec(merges)
    val texts = Relational.table(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = rows.map(t => t._1 -> t._4).toMap
    texts.take(50).foreach { case (id, text) =>
      val expected = text.split(" ", -1).map(codec.encodeWord(_).length).sum
      assert(byId(id) == expected, s"doc $id: op count ${byId(id)} != codec $expected")
    }
    // ... and the count column RESPONDS to the model: at 5 merges the
    // vocabulary stays subword, so counts strictly exceed word counts
    spark.conf.set("graft.bpe.merges", "5")
    try {
      val few = Curation.queries("c15b_pack_bpe")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(3)))
      val ws = texts.view.mapValues(_.split(" ", -1).length).toMap
      // subword property, pinned corpus-level: a doc whose words are all
      // single chars (or fully merged by the 5 merges) legitimately has
      // n == word count, so per-doc strict > would be data-dependent
      assert(few.forall { case (id, n) => n >= ws(id) },
        "BPE token count below whitespace word count")
      assert(few.map(_._2.toLong).sum > few.map(t => ws(t._1).toLong).sum,
        "5-merge BPE corpus token total must exceed whitespace total")
    } finally spark.conf.unset("graft.bpe.merges")
  }

  test("mixDriftOn: a skewed source drifts, a typical one doesn't; KL ≥ 0") {
    import spark.implicits._
    // srcA/srcB share the corpus-typical mixed vocabulary; srcC is a
    // degenerate single-token source — the boilerplate/spam signature
    val typical = "the quick brown fox jumps over the lazy dog"
    // typical sources dominate the pool, so THEIR distribution ≈ the
    // corpus distribution (small KL); the degenerate source's token is
    // rare pool-wide but 100% of its own mass (large KL)
    val docs = ((1 to 10).map(i => ("en", "srcA", typical)) ++
      (1 to 10).map(i => ("en", "srcB", typical + " extra words here")) ++
      Seq(("en", "srcC", (1 to 20).map(_ => "spam").mkString(" "))))
      .toDF("lang", "source", "text")
    val kl = Curation.mixDriftOn(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // Gibbs: KL ≥ 0 (up to the 4-decimal micro-nat rounding)
    kl.values.foreach(v => assert(v >= -1e-4, s"negative KL: $kl"))
    // the degenerate source diverges far more than the typical ones
    assert(kl("srcC") > kl("srcA") + 0.5, s"skewed source not flagged: $kl")
    assert(kl("srcC") > kl("srcB") + 0.5, s"skewed source not flagged: $kl")
  }

  test("mixWeights: shares sum to 1 and epochs fall as strata grow") {
    val rows = Curation.mixWeights(spark, sf).collect()
      .map(r => (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val shareSum = rows.map(_._2).sum
    assert(math.abs(shareSum - 1.0) < 0.01, s"shares sum to $shareSum")
    rows.foreach { case (_, _, rate, epochs) =>
      assert(rate === math.min(1.0, epochs), "sample_rate must be the capped epochs")
    }
    // √-temperature property: a strictly larger stratum never gets MORE
    // epochs — tolerance covers the 4-decimal output rounding (two
    // near-equal strata can legitimately differ by one rounding step)
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((na, _, _, ea), (nb, _, _, eb)) if na < nb =>
        assert(eb <= ea + 1.1e-4, s"epochs must fall with stratum size: $na→$ea vs $nb→$eb")
      case _ =>
    }
  }

  test("C44 corpus diff: exactly the planted delta classes, nothing else") {
    val got = Curation.queries("c44_corpus_diff")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ids = Relational.table(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = (
      ids.filter(_ % 17 == 3).map(id => (id, "removed")) ++
      ids.filter(_ % 17 == 5).map(id => (id, "changed")) ++
      ids.filter(_ % 17 == 7).map(id => (id + 1000000000000L, "added"))
    ).toSeq.sortBy(_._1)
    assert(got == expected,
      s"diff mismatch: extra=${(got.toSet -- expected).take(3)} missing=${(expected.toSet -- got).take(3)}")
    // the unchanged bulk must NOT be emitted — the delta is the output
    assert(got.size < ids.size, "diff emitted the unchanged bulk")
  }
}
