package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantics checks for the shard-prep ops the sf-scale oracle can't
  * isolate: passage-dedup removal policy + chunk-hash collision
  * freedom, hand-computed unigram surprisal, and the shard shuffle's
  * permutation/balance/determinism invariants. */
class TrainingSpec extends AnyFunSuite with SparkTestSession {

  private val sf = "/root/testdata/sf0.01"

  test("dedupPassage: cross-doc chunk drops from ALL carriers; unique prose survives") {
    import spark.implicits._
    // 8-token chunks: docs 1 and 2 share chunk A verbatim (same 8
    // tokens at chunk-aligned offsets), each carries a unique chunk;
    // doc 3 is fully unique
    val a = (1 to 8).map(i => s"boiler$i").mkString(" ")
    val u1 = (1 to 8).map(i => s"one$i").mkString(" ")
    val u2 = (1 to 8).map(i => s"two$i").mkString(" ")
    val u3 = "tiny doc"
    val docs = Seq((1L, s"$a $u1"), (2L, s"$a $u2"), (3L, u3)).toDF("doc_id", "text")
    val out = Training.passageOn(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._1 === 2 && out(1L)._2 === 1)
    assert(out(2L)._1 === 2 && out(2L)._2 === 1)
    assert(out(3L)._1 === 1 && out(3L)._2 === 1)
    // retained text is exactly the unique chunk, byte-for-byte
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._3 === md5s(u1))
    assert(out(2L)._3 === md5s(u2))
    assert(out(3L)._3 === md5s(u3))
  }

  test("dedupPassage: a doc losing every chunk reports n_kept=0, md5 of empty") {
    import spark.implicits._
    val a = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val rows = Training.passageOn(docs).collect()
    assert(rows.forall(r => r.getLong(2) === 0L))
    assert(rows.forall(_.getString(3) === "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("dedupPassage: xxhash64 chunk keys are collision-free on the whole corpus") {
    // the oracle dedups on chunk STRINGS, the operator on 64-bit
    // hashes; they agree iff no two distinct chunks share a hash
    val chunks = Relational.table(spark, sf, "documents")
      .select(explode(expr(
        """transform(array(split(text, ' ')), t ->
          |  transform(sequence(0, (size(t) - 1) div 8),
          |    i -> concat_ws(' ', slice(t, i * 8 + 1, 8))))[0]""".stripMargin)).as("chunk"))
    val counts = chunks
      .agg(count_distinct(col("chunk")).as("strings"),
        count_distinct(xxhash64(col("chunk"))).as("hashes"))
      .head()
    assert(counts.getLong(0) === counts.getLong(1),
      s"xxhash64 collision among ${counts.getLong(0)} distinct chunks")
    assert(counts.getLong(0) > 1000, "corpus should carry a real chunk population")
  }

  test("dedupSpan: catches a repeated span at NON-chunk alignment that dedupPassage misses") {
    import spark.implicits._
    // A 12-token span repeated in two docs at offsets 3 and 5 — every
    // aligned 8-chunk of the two carriers differs (offsets differ
    // mod 8), so c23 keeps everything; c23b must remove exactly the 12
    // span tokens from BOTH docs. This is the discriminator for the
    // variable-length (suffix-array-semantics) operator.
    val span = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val p1 = (1 to 3).map(i => s"pre$i").mkString(" ")
    val s1 = (1 to 9).map(i => s"suf$i").mkString(" ")
    val p2 = (1 to 5).map(i => s"head$i").mkString(" ")
    val s2 = (1 to 7).map(i => s"tail$i").mkString(" ")
    val docs = Seq((1L, s"$p1 $span $s1"), (2L, s"$p2 $span $s2")).toDF("doc_id", "text")

    // c23 (aligned chunks) provably misses the misaligned span
    val c23 = Training.passageOn(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(c23(1L) === 3 && c23(2L) === 3,
      s"aligned chunking unexpectedly caught the misaligned span: $c23")

    // c23b removes exactly the span from both carriers
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Training.spanOn(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((24L, 12L, md5s(s"$p1 $s1"))),
      s"doc 1 span not excised: ${out(1L)}")
    assert(out(2L) === ((24L, 12L, md5s(s"$p2 $s2"))),
      s"doc 2 span not excised: ${out(2L)}")
  }

  test("dedupSpan: graft.span.tokens raises the minimum span — the oracle text follows") {
    import spark.implicits._
    // the planted 12-token span is removed at the default w=8 but must
    // SURVIVE at w=16 (12 < 16: no 16-window fits inside it); the
    // session conf drives both the operator and the dumped oracle SQL
    // (the c25 shard-count contract)
    val span = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val docs = Seq((1L, s"pre1 pre2 pre3 $span suf1 suf2 suf3 suf4"),
      (2L, s"head1 head2 head3 head4 head5 $span tail1 tail2")).toDF("doc_id", "text")
    spark.conf.set("graft.span.tokens", "16")
    try {
      val out = Training.spanOn(docs).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(out(1L) === 19L && out(2L) === 19L,
        s"w=16 wrongly removed a 12-token span: $out")
      assert(Training.oracleSql("c23b_dedup_span").contains("16"),
        "dumped oracle does not reflect the effective span length")
    } finally spark.conf.unset("graft.span.tokens")
    val dflt = Training.spanOn(docs).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dflt(1L) === 7L && dflt(2L) === 7L, s"default w=8 missed the span: $dflt")
  }

  test("dedupSpan: 50k-token doc at ~50% coverage reconstructs in linear time, byte-exactly") {
    import spark.implicits._
    // The long-boilerplate-book shape: doc 1 alternates 1000 unique
    // 25-token filler blocks with 1000 shared 25-token blocks (50k
    // tokens, half covered, 1000 SEPARATE maximal repeated spans); doc 2
    // carries the shared blocks. The old per-position reconstruction
    // (filter + array_contains over a 25k-element cover set) pays
    // ~50k×25k comparisons on doc 1 alone — CPU-minutes; the interval
    // form is |spans|=1000 intervals + O(L) gap slices. Asserts byte
    // exactness AND a wall-clock bound the quadratic form cannot meet.
    val filler = (0 until 1000).map(b => (0 until 25).map(i => s"u${b}x$i").mkString(" "))
    val shared = (0 until 1000).map(b => (0 until 25).map(i => s"s${b}y$i").mkString(" "))
    val doc1 = filler.zip(shared).map { case (f, s) => s"$f $s" }.mkString(" ")
    val doc2 = shared.mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text").repartition(4)
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val t0 = System.nanoTime()
    val out = Training.spanOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    // doc 1 keeps exactly the filler blocks, in order; doc 2 is fully
    // covered (every token sits inside a cross-doc-repeated block)
    assert(out(1L) === ((50000L, 25000L, md5s(filler.mkString(" ")))),
      s"doc 1 reconstruction wrong: ${out(1L)}")
    assert(out(2L) === ((25000L, 0L, md5s(""))), s"doc 2 not fully excised: ${out(2L)}")
    assert(sec < 120, f"long-doc reconstruction took $sec%.1f s — quadratic regression?")
  }

  test("pretrainE2E: shard files carry exactly the curated pool, with BPE pack columns the loader can trust") {
    // The oracle hash-checks the curated permutation and part cuts;
    // this spec covers the NON-SQL-expressible payload: the files'
    // bpe_tokens/seq_id/straddles must equal a plain-Scala recomputation
    // of the c15b window arithmetic from the files' own token counts
    // (the c15b re-verification doctrine, applied to the composition).
    val dir = "/root/testdata/sf0.001"
    val out = Training.writePretrainShards(spark, dir)
    val rows = spark.read.parquet(out)
      .join(Relational.table(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("bpe_tokens"),
        col("seq_id"), col("straddles"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
    // 1. file doc set == the c31 survivors GATED by the c37 train side
    //    (the round-13 composition: the leak-free eval holdout leaves
    //    the pool entirely; excision changes text, never membership)
    val pool = Pipeline.curateE2E(spark, dir).select("doc_id")
      .join(Curation.splitLeakFree(spark, dir)
        .filter(col("split") === "train").select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    assert(rows.map(_._1).sorted.toSeq === pool.toSeq,
      "shard files do not carry exactly the split-gated curated pool")
    // 2. recompute the packing in plain Scala: per (lang, doc_id div
    //    span) stratum in doc_id order, running token sums cut at the
    //    512 budget; seq_id = chunk of the doc's first token
    val span = 128L
    val budget = 512L
    val expected = rows.groupBy(r => (r._2, r._1 / span)).iterator.flatMap { case (_, docs) =>
      var off = 0L
      docs.sortBy(_._1).iterator.map { case (id, _, n, _, _) =>
        val seq = off / budget
        val strad = (off + n - 1) / budget != seq
        off += n
        id -> ((seq, strad))
      }
    }.toMap
    rows.foreach { case (id, _, n, seq, strad) =>
      assert(n > 0, s"doc $id wrote a non-positive BPE count")
      val (eSeq, eStrad) = expected(id)
      assert(seq === eSeq && strad === eStrad,
        s"doc $id pack columns ($seq, $strad) != recomputed ($eSeq, $eStrad)")
    }
  }

  test("dedupSpan: sub-window repeats survive; full-doc duplicate reports empty") {
    import spark.implicits._
    // a 7-token repeat (< spanTokens=8) must survive — the operator's
    // minimum-span contract; a full duplicate doc empties entirely
    val short7 = (1 to 7).map(i => s"rep$i").mkString(" ")
    val dup = (1 to 20).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"$short7 onlyone1"), (2L, s"$short7 onlytwo1 onlytwo2"),
      (3L, dup), (4L, dup)).toDF("doc_id", "text")
    val out = Training.spanOn(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((8L, 8L)), s"7-token repeat wrongly removed: ${out(1L)}")
    assert(out(2L) === ((9L, 9L)), s"7-token repeat wrongly removed: ${out(2L)}")
    assert(out(3L) === ((20L, 0L)) && out(4L) === ((20L, 0L)),
      s"full duplicates not emptied: ${out(3L)} ${out(4L)}")
  }

  test("docLogprob: hand-computed surprisal on a two-doc corpus") {
    // corpus = "a a b" + "a c": N=5, cnt(a)=3, cnt(b)=1, cnt(c)=1
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_trainspec_lp"
    import spark.implicits._
    Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Training.docLogprob(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def nll(cnt: Long) = math.round(-math.log(cnt / 5.0) * 1e6)
    val d1 = BigDecimal((2 * nll(3) + nll(1)) / 1e6 / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal((nll(3) + nll(1)) / 1e6 / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === ((3L, d1)))
    assert(out(2L) === ((2L, d2)))
  }

  test("scoreWithLm: persisted-LM scoring, hand-computed incl. the OOV hapax floor") {
    // train corpus = "a a b" + "a c": N=5, cnt(a)=3, cnt(b)=cnt(c)=1;
    // scored batch carries a known token and an OOV one
    val lmDir = s"${System.getProperty("java.io.tmpdir")}/graft_trainspec_lm"
    import spark.implicits._
    val train = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    Training.fitUnigramLm(train, lmDir)
    val batch = Seq((3L, "a zebra")).toDF("doc_id", "text")
    val out = Training.scoreWithLm(spark, batch, lmDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def nll(cnt: Long) = math.round(-math.log(cnt / 5.0) * 1e6)
    val oov = math.round(math.log(5.0) * 1e6) // hapax floor = -ln(1/N)
    assert(oov === nll(1), "OOV floor must equal a count-1 token's surprisal")
    val want = BigDecimal((nll(3) + oov) / 1e6 / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(3L) === ((2L, want)))
    // a second batch scores against the SAME persisted model — no refit:
    // token 'b' keeps the surprisal fitted above
    val out2 = Training.scoreWithLm(spark, Seq((9L, "b")).toDF("doc_id", "text"), lmDir)
      .head()
    assert(out2.getDouble(2) ===
      BigDecimal(nll(1) / 1e6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("fitUnigramLm minCount: pruned tokens fall to the OOV floor; kept ones keep their fit") {
    val lmDir = s"${System.getProperty("java.io.tmpdir")}/graft_trainspec_lm_pruned"
    import spark.implicits._
    // N=5, cnt(a)=3, cnt(b)=2; minCount=3 drops b from the vocab
    val train = Seq((1L, "a a a b b")).toDF("doc_id", "text")
    Training.fitUnigramLm(train, lmDir, minCount = 3L)
    assert(spark.read.parquet(s"$lmDir/vocab").collect().map(_.getString(0)).toSeq === Seq("a"))
    def score(t: String) = Training.scoreWithLm(
      spark, Seq((1L, t)).toDF("doc_id", "text"), lmDir).head().getDouble(2)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // kept token: fitted surprisal against the UNpruned total N=5
    assert(score("a") === r4(math.round(-math.log(3 / 5.0) * 1e6) / 1e6))
    // pruned token: the hapax floor, NOT its true cnt=2 surprisal
    assert(score("b") === r4(math.round(math.log(5.0) * 1e6) / 1e6))
  }

  test("docLogprob: rarer tokens score strictly higher than stopword soup") {
    val scored = Training.docLogprob(spark, sf)
    val byDoc = scored.agg(min(col("avg_nll")).as("lo"), max(col("avg_nll")).as("hi")).head()
    assert(byDoc.getDouble(0) < byDoc.getDouble(1), "corpus should spread surprisal")
  }

  test("shardShuffle: partition of the corpus — every doc once, shards in range, positions dense") {
    val out = Training.shardShuffle(spark, sf).cache()
    val n = Relational.table(spark, sf, "documents").count()
    assert(out.count() === n)
    assert(out.select(count_distinct(col("doc_id"))).head().getLong(0) === n)
    assert(out.filter(col("shard") < 0 || col("shard") >= 8).count() === 0)
    // positions are 1..count(shard) dense: max(pos) == count per shard
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("c"), max(col("pos")).as("m"))
      .filter(col("c") =!= col("m")).count()
    assert(bad === 0)
    // cum_chars per shard ends at the shard's total chars
    val tot = out.groupBy("shard").agg(max(col("cum_chars")).as("m")).agg(sum(col("m"))).head().getLong(0)
    val expected = Relational.table(spark, sf, "documents").agg(sum(col("n_chars"))).head().getLong(0)
    assert(tot === expected)
    out.unpersist()
  }

  test("shardShuffle: deterministic across reruns and honors graft.shard.count") {
    val a = Training.shardShuffle(spark, sf).collect().toSeq
    val b = Training.shardShuffle(spark, sf).collect().toSeq
    assert(a === b)
    spark.conf.set("graft.shard.count", "3")
    try {
      val c = Training.shardShuffle(spark, sf)
      assert(c.select(max(col("shard"))).head().getLong(0) <= 2)
      assert(c.count() === a.size)
    } finally spark.conf.unset("graft.shard.count")
  }

  test("shardShuffle: the permutation actually shuffles (shards interleave id ranges)") {
    // if shard assignment correlated with doc_id ranges the 'shuffle'
    // would be a no-op; require every shard to span most of the id space
    val spans = Training.shardShuffle(spark, sf)
      .groupBy("shard").agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()
    assert(spans.length === 8)
    spans.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) > 300, s"shard ${r.getLong(0)} spans too little")
    }
  }

  test("writeShards: one file per (shard, part), docs physically in pos order, plan parity") {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_shards_spec").toString
    Training.writeShards(spark, sf, out)
    // one data file per (shard, part) directory — a training loader
    // streams each file start-to-end
    val partDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("part="))
      .toSeq
    assert(partDirs.nonEmpty)
    partDirs.foreach { d =>
      val files = java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size === 1, s"$d holds ${files.size} files")
      // PHYSICAL order inside the file: pos strictly increasing as read
      val pos = spark.read.parquet(files.head.toString)
        .select("pos").collect().map(_.getLong(0))
      assert(pos.sameElements(pos.sorted), s"$d not written in pos order")
      assert(pos.length > 0)
    }
    // the written rows ARE the plan: same (doc_id, shard, pos), with
    // part = start-offset div budget, every doc exactly once
    val plan = Training.shardShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val written = spark.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("long"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(written === plan)
    // parts cut at the budget: no doc STARTS past its part's boundary,
    // and every non-final part of a shard is filled to >= the budget
    // minus its last doc (i.e. the next doc would overflow)
    val parts = Training.shardWriteQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byShard = parts.groupBy(_._1)
    byShard.foreach { case (_, ps) =>
      val sorted = ps.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(sorted.indices.map(_.toLong)),
        "parts must be dense 0..k")
      // cumulative chars of parts 0..i spans past i*budget for i>0:
      // each part begins only once the budget boundary is crossed
      val cum = sorted.map(_._4).scanLeft(0L)(_ + _).drop(1)
      sorted.drop(1).zip(cum).foreach { case ((_, p, _, _), cumBefore) =>
        assert(cumBefore >= p * 4000,
          s"part $p started before the ${p * 4000}-char boundary (cum $cumBefore)")
      }
    }
  }

  test("decontamSpanOn: planted eval span localized at exact offsets; nearby hits merge; clean doc silent") {
    import spark.implicits._
    // w = 8 (spanTokensDefault). Eval doc 20 carries the 10-token
    // phrase E0..E9; train doc 21 embeds it at token offset 5 with
    // unique flanks; train doc 41 embeds TWO copies 3 tokens apart
    // (their covered regions abut within w → ONE merged interval);
    // train doc 61 shares nothing.
    val evalSpan = (0 until 10).map(i => s"E$i")
    val d21 = (0 until 5).map(i => s"a$i") ++ evalSpan ++ (0 until 5).map(i => s"b$i")
    val d41 = (0 until 4).map(i => s"c$i") ++ evalSpan ++ Seq("z0", "z1", "z2") ++
      evalSpan ++ (0 until 4).map(i => s"d$i")
    val d61 = (0 until 30).map(i => s"q$i")
    val docs = Seq(
      (20L, evalSpan.mkString(" ")),
      (21L, d21.mkString(" ")),
      (41L, d41.mkString(" ")),
      (61L, d61.mkString(" "))).toDF("doc_id", "text")
    val out = Training.decontamSpanOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 21: the 10-token phrase yields window starts 5, 6, 7 (w=8),
    // covering tokens [5, 14] — exactly the planted placement
    assert(out.filter(_._1 == 21L).toSeq === Seq((21L, 5, 14)),
      s"doc 21 localization wrong: ${out.toSeq}")
    // doc 41: copies at offsets 4 and 17; starts {4,5,6} ∪ {17,18,19}
    // — gap 17-6 = 11 > w=8 → TWO intervals [4,13] and [17,26]
    assert(out.filter(_._1 == 41L).toSeq === Seq((41L, 4, 13), (41L, 17, 26)),
      s"doc 41 intervals wrong: ${out.toSeq}")
    // the eval doc itself and the clean doc never appear
    assert(!out.exists(t => t._1 == 20L || t._1 == 61L))
    // abutment merge: back-to-back copies (starts 4..6 and 14..16;
    // 14 = 6 + w, coverage abuts) → ONE interval spanning both
    val d81 = (0 until 4).map(i => s"e$i") ++ evalSpan ++ evalSpan
    val out2 = Training.decontamSpanOn(Seq(
      (20L, evalSpan.mkString(" ")), (81L, d81.mkString(" "))).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out2.toSeq === Seq((81L, 4, 23)), s"abutting copies did not merge: ${out2.toSeq}")
  }

  test("decontamExciseOn: the located span is cut out exactly; clean docs pass whole; eval docs absent") {
    import spark.implicits._
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val evalSpan = (0 until 10).map(i => s"E$i")
    val flanksA = (0 until 5).map(i => s"a$i")
    val flanksB = (0 until 5).map(i => s"b$i")
    val d21 = flanksA ++ evalSpan ++ flanksB
    val d61 = (0 until 30).map(i => s"q$i")
    val out = Training.decontamExciseOn(Seq(
        (20L, evalSpan.mkString(" ")),
        (21L, d21.mkString(" ")),
        (61L, d61.mkString(" "))).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 21: tokens [5, 14] excised — kept = the two flanks, verbatim
    val kept21 = (flanksA ++ flanksB).mkString(" ")
    assert(out.filter(_._1 == 21L).toSeq === Seq((21L, 20L, 10L, md5s(kept21))),
      s"excision wrong: ${out.toSeq}")
    // the clean doc passes through WHOLE (n_kept = n_tokens, same text)
    assert(out.filter(_._1 == 61L).toSeq === Seq((61L, 30L, 30L, md5s(d61.mkString(" ")))))
    // the eval doc itself is not part of the training output
    assert(!out.exists(_._1 == 20L))
  }

  test("chunkOverlapOn: hand-computed 12/8 windows — overlap, tail clamp, total cover") {
    import spark.implicits._
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = (1 to 20).map(i => s"w$i")
    val docs = Seq((1L, toks.mkString(" ")), (2L, "a b c")).toDF("doc_id", "text")
    val out = Training.chunkOverlapOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    // doc 1: starts 0, 8, 16 → windows of 12, 12, and a clamped 4
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(t => (t._2, t._3, t._4)).toSeq === Seq((0, 0, 12), (1, 8, 12), (2, 16, 4)))
    assert(d1(0)._5 === md5s(toks.slice(0, 12).mkString(" ")))
    assert(d1(1)._5 === md5s(toks.slice(8, 20).mkString(" ")))
    assert(d1(2)._5 === md5s(toks.slice(16, 20).mkString(" ")))
    // overlap: tokens 9..12 (0-based 8..11) appear in BOTH chunk 0 and
    // chunk 1 — the straddling-fact guarantee stride < window buys
    assert(toks.slice(8, 12).forall(t => toks.slice(0, 12).contains(t)
      && toks.slice(8, 20).contains(t)))
    // a short doc (≤ window) is exactly one whole-doc chunk
    val d2 = out.filter(_._1 == 2L)
    assert(d2.map(t => (t._2, t._3, t._4)).toSeq === Seq((0, 0, 3)))
    assert(d2.head._5 === md5s("a b c"))
    // total cover on the real corpus: per doc, chunks tile every token
    // index — last chunk reaches n, consecutive starts leave no gap
    // (stride ≤ window), so coverage is total
    val real = Training.chunkOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
    val nTok = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    real.groupBy(_._1).foreach { case (id, ch) =>
      val last = ch.maxBy(_._2)
      assert(last._2 + last._3 === nTok(id), s"doc $id: chunks do not reach the end")
      val starts = ch.map(_._2).sorted
      assert(starts.head === 0 && starts.sliding(2).forall {
        case Array(a, b) => b - a === 8; case _ => true
      }, s"doc $id: stride gap")
    }
  }

  // ------------------------- C33b incremental pretrain composition

  /** The kept-doc id set of a c33b state — union of every LIVE shard
    * slice's doc_ids, resolved through [[Training.liveSlices]] (the
    * SAME rule readers use — the spec must not re-implement it). */
  /** Whether a local path exists. */
  private def onDisk(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p.stripPrefix("file:")))

  private def keptIds(st: String): Set[Long] =
    Training.liveSlices(spark, st).map(n => spark.read.parquet(s"$st/shards/$n"))
      .reduce(_.unionByName(_))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("C33b: build(90%) + two slices ≡ batch twin over 100% modulo the late-eval class, exactly") {
    // the sf0.001 corpus keeps the whole chain fast while still
    // carrying exact-dup cliques, near-dup pairs, eval overlap, and
    // multiple (lang, source) strata
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (t1, t2) = (maxId * 90 / 100, maxId * 95 / 100)
    val stA = Similarity.freshScratch(spark, "graft_c33b_par_a_")
    Training.buildPretrainState(spark, docs.filter(col("doc_id") <= t1), stA)
    Training.ingestPretrainSlice(spark, stA,
      docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), "s1")
    Training.ingestPretrainSlice(spark, stA, docs.filter(col("doc_id") > t2), "s2")
    // batch twin: the SAME chain one-shot over 100%, gated by the
    // build's FROZEN rate table (the shipped mixture plan — rate
    // re-planning is a separate versioned op)
    val ratesA = spark.read.parquet(s"$stA/rates")
    val stB = Similarity.freshScratch(spark, "graft_c33b_par_b_")
    Training.buildPretrainState(spark, docs, stB, Some(ratesA))
    val a = keptIds(stA)
    val b = keptIds(stB)
    assert(a.exists(_ > t1), "no arrival doc was kept — the ingest leg is vacuous")
    assert(a.exists(_ <= t1), "no build doc was kept — the build leg is vacuous")
    // the batch twin can only DROP relative to incremental, and only
    // through the one documented class: build-phase selections whose
    // grams hit eval docs that ARRIVED LATER
    assert(b.subsetOf(a),
      s"batch kept docs incremental missed: ${(b -- a).take(5)} — an undocumented divergence")
    val arrivalEvalGrams = Curation.gramHashes(spark,
        docs.filter(col("doc_id") > t1 && col("doc_id") % 20 === 0))
      .select(col("gram_h")).distinct()
    val predicted = Curation.gramHashes(spark,
        docs.filter(col("doc_id") <= t1 && col("doc_id") % 20 =!= 0))
      .join(broadcast(arrivalEvalGrams), Seq("gram_h"))
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert((a -- b) == predicted.intersect(a),
      s"divergence ≠ the documented late-eval class: extra=${((a -- b) -- predicted).take(5)} " +
        s"missing=${(predicted.intersect(a) -- (a -- b)).take(5)}")
  }

  test("C33b: slice replay is a no-op; an out-of-order slice throws the watermark guard") {
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val t1 = maxId * 90 / 100
    val st = Similarity.freshScratch(spark, "graft_c33b_replay_")
    Training.buildPretrainState(spark, docs.filter(col("doc_id") <= t1), st)
    val slice = docs.filter(col("doc_id") > t1)
    Training.ingestPretrainSlice(spark, st, slice, "s1")
    val before = keptIds(st)
    val stateBefore = IndexMeta.liveGen(spark, st, "state").get
    Training.ingestPretrainSlice(spark, st, slice, "s1") // replay
    assert(keptIds(st) == before, "slice replay changed the shard contents")
    assert(IndexMeta.liveGen(spark, st, "state").get == stateBefore,
      "slice replay advanced the id watermark")
    // a slice at-or-below the watermark is rejected loudly, not
    // silently double-curated
    val e = intercept[IllegalArgumentException] {
      Training.ingestPretrainSlice(spark, st, slice, "s1_again")
    }
    assert(e.getMessage.contains("watermark"), e.getMessage)
  }

  test("C33b: a slice replayed after a crash between its seen-hash write and its commit is kept") {
    // the crashed attempt wrote the slice's text hashes and died before
    // the state commit: its replay must not read them as already seen
    // and drop every doc of the slice
    val dir = s"${new java.io.File(sf).getParent}/sf0.001" // the small sibling of `sf`
    val docs = Relational.table(spark, dir, "documents")
    val t1 = docs.agg(max(col("doc_id"))).head().getLong(0) * 90 / 100
    val slice = docs.filter(col("doc_id") > t1)
    def ingested(crash: String => Unit) = {
      val st = Similarity.freshScratch(spark, "graft_c33b_seen_crash_")
      Training.buildPretrainState(spark, docs.filter(col("doc_id") <= t1), st)
      crash(st)
      Training.ingestPretrainSlice(spark, st, slice, "s1")
      (Training.liveSlices(spark, st), shardCensus(st))
    }
    val clean = ingested(_ => ())
    // the slice's hashes where a crashed attempt leaves them: appended to
    // the seen-hash table in place, and in the slice's own delta dir
    val replayed = ingested { st =>
      val th = slice.select(xxhash64(col("text")).as("th")).distinct()
      th.write.mode("append").parquet(s"$st/seen_th")
      th.write.parquet(s"$st/seen_th/slice_s1")
    }
    assert(clean._1.size == 2, s"the clean ingest kept no doc of the slice: ${clean._1}")
    assert(replayed == clean, s"the replayed slice's shards differ from a clean ingest's: $replayed vs $clean")
  }

  test("C33b: an empty slice before the state exists is a no-op, not refused") {
    // streaming replay can deliver an empty slice before the build has
    // committed the state's id watermark: the empty slice is a no-op
    // that writes nothing, while a non-empty one still fails loudly
    val docs = Relational.table(spark, "/root/testdata/sf0.001", "documents")
    val st = Similarity.freshScratch(spark, "graft_c33b_empty_")
    Training.ingestPretrainSlice(spark, st, docs.filter(lit(false)), "s0")
    assert(IndexMeta.list(spark, st).isEmpty, "the empty slice wrote to the state dir")
    val e = intercept[RuntimeException] {
      Training.ingestPretrainSlice(spark, st, docs.limit(3), "s1")
    }
    assert(e.getMessage.contains("no committed state generation"), e.getMessage)
  }

  test("C33c: streamed pretrain ingest ≡ slice-wise one-shot at the same boundaries") {
    // the c43f stream≡append pin on the capstone chain: foreachBatch
    // replay through the staged id-range slices must land the IDENTICAL
    // state — same kept ids, same shard census — as calling
    // ingestPretrainSlice by hand over the same slice boundaries
    // (slice order and boundaries both matter: near-dup canonical-
    // ization is first-seen-wins and eval grams accumulate per slice,
    // so the comparison holds them fixed and pins only the transport)
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val t1 = maxId * 90 / 100
    val build = docs.filter(col("doc_id") <= t1)
    val arrival = docs.filter(col("doc_id") > t1)
    val stS = Similarity.freshScratch(spark, "graft_c33c_str_")
    Training.buildPretrainState(spark, build, stS)
    Training.pretrainIngestStreamOn(spark, stS, arrival, "graft_c33c_spec")
    // manual twin over the stager's own slice math, frozen rates copied
    // by construction (both builds see the same 90%)
    val b = arrival.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val n = Relational.replaySlices
    val step = Relational.sliceStep(lo, hi, n)
    val stM = Similarity.freshScratch(spark, "graft_c33c_man_")
    Training.buildPretrainState(spark, build, stM)
    (0 until n).foreach { i =>
      val hiBound = if (i == n - 1) hi + 1 else lo + (i + 1) * step
      Training.ingestPretrainSlice(spark, stM,
        arrival.filter(col("doc_id") >= lo + i * step && col("doc_id") < hiBound),
        s"manual_$i")
    }
    assert(keptIds(stS) == keptIds(stM),
      "streamed state's kept ids diverge from the slice-wise one-shot")
    assert(shardCensus(stS) == shardCensus(stM),
      "streamed state's shard census diverges from the slice-wise one-shot")
  }

  // ------------------------- C33d pretrain-state takedown

  private def shardCensus(st: String) =
    Training.readPretrainShards(spark, st)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  /** The takedown deltas of a state: those its live header names, and
    * every `tomb_*` dir on disk. */
  private def tombDeltas(st: String): (Seq[String], Seq[String]) =
    (IndexMeta.strings(IndexMeta.header(spark, st, "state", "the spec"), "tombstones"),
      IndexMeta.list(spark, s"$st/shards").map(_.getPath.getName).filter(_.startsWith("tomb_")))

  test("C33d: tombstone visible immediately; compaction removes the bytes; census invariant") {
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val st = Similarity.freshScratch(spark, "graft_c33d_take_")
    Training.buildPretrainState(spark, docs, st)
    val victims = keptIds(st).filter(_ % 10 == 7)
    assert(victims.nonEmpty,
      "fixture regression: no kept doc_id % 10 == 7 — the takedown check would be vacuous")
    val before = shardCensus(st)
    import spark.implicits._
    Training.tombstonePretrainDocs(spark, st,
      victims.toSeq.toDF("doc_id"))
    assert(shardCensus(st) != before,
      "tombstoning kept docs did not change the census — visibility is broken")
    // 1. visibility BEFORE compaction: the census excludes the victims
    //    while the bytes are still on disk
    val pre = shardCensus(st)
    assert(keptIds(st).intersect(victims) == victims,
      "precondition: victim bytes must still be in the live files pre-compaction")
    Training.compactPretrainShards(spark, st)
    // 2. physical removal: no live file carries a victim row, no
    //    tombstone delta is named or left on disk, and the census is
    //    unchanged
    assert(keptIds(st).intersect(victims).isEmpty,
      "compaction left tombstoned rows in the live shard files")
    assert(tombDeltas(st) == ((Nil, Nil)), "compaction left a tombstone delta behind")
    assert(shardCensus(st) == pre,
      "compaction changed what the census reader sees")
    // 3. re-delete of already-removed ids: the shipped-probe drops
    //    them all, so NO tombstone delta is committed (the census
    //    would otherwise pay a pointless anti-join forever and the
    //    next compaction would leave its cheap gc-only path)
    Training.tombstonePretrainDocs(spark, st, victims.toSeq.toDF("doc_id"))
    assert(tombDeltas(st) == ((Nil, Nil)),
      "re-delete of physically-removed ids committed a tombstone delta")
    assert(shardCensus(st) == pre, "re-delete changed the census")
  }

  test("C33d: whole-slice takedown drops the slice from the manifest; never-shipped ids are no-ops") {
    // the crawl-batch recall case: every doc of one ingested slice is
    // taken down — the rewrite keeps zero rows, and committing a
    // fileless dir would make every later read throw on schema
    // inference, so the slice must leave the manifest entirely
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val t1 = maxId * 90 / 100
    val st = Similarity.freshScratch(spark, "graft_c33d_whole_")
    Training.buildPretrainState(spark, docs.filter(col("doc_id") <= t1), st)
    Training.ingestPretrainSlice(spark, st, docs.filter(col("doc_id") > t1), "s1")
    val sliceDocs = keptIds(st).filter(_ > t1)
    assert(sliceDocs.nonEmpty, "fixture regression: the arrival slice kept nothing")
    import spark.implicits._
    Training.tombstonePretrainDocs(spark, st, sliceDocs.toSeq.toDF("doc_id"))
    Training.compactPretrainShards(spark, st)
    assert(!Training.liveSlices(spark, st).exists(_.startsWith("slice_s1")),
      "a fully-taken-down slice stayed in the state header")
    assert(keptIds(st).intersect(sliceDocs).isEmpty,
      "whole-slice takedown left rows behind")
    assert(shardCensus(st).nonEmpty, "census must stay readable after the drop")
    // ids now physically gone (or never shipped at all): a re-delete
    // commits no delta, and the next compaction is gc-only — the
    // state generation does not move
    Training.tombstonePretrainDocs(spark, st, sliceDocs.toSeq.toDF("doc_id"))
    assert(tombDeltas(st) == ((Nil, Nil)), "takedown of non-live ids committed a tombstone delta")
    val g = IndexMeta.liveGen(spark, st, "state").get
    Training.compactPretrainShards(spark, st)
    assert(IndexMeta.liveGen(spark, st, "state").get == g,
      "a no-op compaction committed a new state generation")
  }

  test("C33d: taken-down content stays banned — an identical re-crawl is dropped by ingest") {
    // the deliberate divergence from the lexical store's
    // re-insertable-after-compaction contract: seen_th keeps the
    // victim's text hash, so the SAME text arriving under a new id
    // after the takedown never re-enters the shipped shards
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val st = Similarity.freshScratch(spark, "graft_c33d_ban_")
    Training.buildPretrainState(spark, docs, st)
    val vid = keptIds(st).filter(_ % 10 == 7).min
    val vtext = docs.filter(col("doc_id") === vid).head().getAs[String]("text")
    import spark.implicits._
    Training.tombstonePretrainDocs(spark, st, Seq(vid).toDF("doc_id"))
    Training.compactPretrainShards(spark, st)
    val recrawl = Seq((maxId + 1, vtext, "en", "web", vtext.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Training.ingestPretrainSlice(spark, st, recrawl, "recrawl")
    val ids = keptIds(st)
    assert(!ids.contains(vid) && !ids.contains(maxId + 1),
      "taken-down text re-entered the shipped shards through a re-crawl")
  }

  test("C33d: an uncommitted slice dir is invisible to readers and swept by compaction") {
    // the lex crash-orphan pin on the shard tree: a crash between the
    // slice write and the state commit leaves a slice_* dir no header
    // references — readers resolve the header, and the no-op
    // compaction path sweeps the orphan
    val dir = "/root/testdata/sf0.001"
    val docs = Relational.table(spark, dir, "documents")
    val st = Similarity.freshScratch(spark, "graft_c33d_orph_")
    Training.buildPretrainState(spark, docs, st)
    val before = shardCensus(st)
    spark.range(1).selectExpr("0 as shard", "0 as part", "1L as pos",
        "990001L as doc_id", "9L as n_chars", "'zzorphan' as text", "1L as bpe_tokens")
      .write.partitionBy("shard", "part").parquet(s"$st/shards/slice_crashed")
    assert(shardCensus(st) == before,
      "an unreferenced slice dir leaked into the census")
    Training.compactPretrainShards(spark, st) // no tombstones: gc-only path
    assert(!onDisk(s"$st/shards/slice_crashed"),
      "compaction's no-op path left the crash orphan on disk")
    assert(shardCensus(st) == before, "the sweep changed the census")
  }
}
