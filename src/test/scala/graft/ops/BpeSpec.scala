package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.BpeCodec

/** C32 learned BPE tokenizer: hand-computed merge sequence on the
  * classic Sennrich-style corpus, hand-computed encodings, the
  * lossless-roundtrip property over real testdata, refit determinism,
  * and interpreted ≡ codegen parity for the encode expression. */
class BpeSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** The worked example: {low×5, lower×2, newest×6, widest×3}.
    * Pair counts round 1: (e,s)=9 (newest+widest), (s,t)=9, (w,e)=8,
    * (l,o)=7, (o,w)=7, … → tie at 9 breaks to the lexicographically
    * smallest pair (e,s). Then (es,t)=9; then the 7-tie (l,o)/(o,w)
    * breaks to (l,o); then (lo,w)=7. */
  private def craftedDocs(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("fit reproduces the hand-computed merge sequence") {
    val modelDir = tempDir("graft_bpe_spec").toString
    Training.fitBpe(spark, craftedDocs(spark), modelDir, numMerges = 4, maxWords = 100)
    val merges = spark.read.parquet(s"${IndexMeta.liveGen(spark, modelDir, "bpe").get}/merges")
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")),
      s"unexpected merges: $merges")
  }

  test("encode applies merges in rank order; unseen chars stay single tokens") {
    val codec = new BpeCodec(Array("e", "s", "es", "t", "l", "o", "lo", "w"))
    assert(codec.encodeWord("lowest").toSeq == Seq("low", "est"))
    assert(codec.encodeWord("newest").toSeq == Seq("n", "e", "w", "est"))
    assert(codec.encodeWord("low").toSeq == Seq("low"))
    assert(codec.encodeWord("xyz").toSeq == Seq("x", "y", "z"))
    assert(codec.encodeWord("").toSeq == Seq.empty)
    // overlap: merging (a,a) over "aaa" is left-to-right → ["aa","a"]
    val aa = new BpeCodec(Array("a", "a"))
    assert(aa.encodeWord("aaa").toSeq == Seq("aa", "a"))
  }

  test("registry op: lossless roundtrip, fit-once reuse, deterministic refit") {
    val df = Training.queries("c32_tokenize_bpe")(spark, dir)
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.nonEmpty)
    // lossless: re-derive tokens with the op's own path and compare the
    // reconstruction against the raw text per doc
    val docs = Relational.table(spark, dir, "documents")
      .filter(col("doc_id") % 20 === 7)
    val modelDir2 = tempDir("graft_bpe_spec2").toString
    Training.fitBpe(spark,
      Relational.table(spark, dir, "documents").filter(col("doc_id") % 20 =!= 7),
      modelDir2, 200, 65536)
    val merges2 = spark.read.parquet(s"${IndexMeta.liveGen(spark, modelDir2, "bpe").get}/merges")
      .orderBy("rank").collect().flatMap(r => Seq(r.getString(1), r.getString(2)))
    val codec = new BpeCodec(merges2)
    docs.select("doc_id", "text").collect().foreach { r =>
      val text = r.getString(1)
      val rebuilt = text.split(" ", -1).map(w => codec.encodeWord(w).mkString).mkString(" ")
      assert(rebuilt == text, s"lossy encode for doc ${r.getLong(0)}")
    }
    // deterministic refit: the registry ran its own independent
    // fit+encode; encoding through THIS fit's model must agree exactly
    val again = Training.tokenizeBpe(spark, docs, modelDir2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(again.toSeq == rows.toSeq, "refit on the same corpus diverged")
    // ... and scoring twice through one persisted model is bit-identical
    val third = Training.tokenizeBpe(spark, docs, modelDir2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(third.toSeq == again.toSeq)
  }

  test("property: encode is lossless and deterministic for arbitrary words and merges") {
    // raw ScalaCheck — the scalatest bridge isn't in the offline cache
    // (the PropertySpec convention)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sym = Gen.oneOf("a", "b", "c", "ab", "bc", "abc")
    val mergeGen = Gen.listOfN(2, sym)
    val wordGen = Gen.listOf(Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)
    val prop = Prop.forAll(Gen.listOf(mergeGen), wordGen) { (ms, w) =>
      val codec = new BpeCodec(ms.flatten.toArray)
      val toks = codec.encodeWord(w)
      // lossless always; fresh-codec determinism; no empty tokens
      toks.mkString == w &&
        new BpeCodec(codec.merges).encodeWord(w).toSeq == toks.toSeq &&
        toks.forall(_.nonEmpty)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"BPE property failed: ${res.status}")
  }

  test("encode expression: interpreted eval matches the codegen'd column") {
    import org.apache.spark.sql.graft.{GraftColumns => EU}
    import spark.implicits._
    val merges = Array("e", "s", "es", "t", "l", "o", "lo", "w")
    val texts = Seq("the lowest of the newest", "low lower lowest", "", "a  b")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val colToks = df.withColumn("toks",
        EU.column(graft.functions.BpeEncode(EU.expression(col("text")), merges)))
      .orderBy("id").collect().map(_.getSeq[String](2).toList)
    val codec = new BpeCodec(merges)
    val expected = texts.map(_.split(" ", -1).toList.flatMap(codec.encodeWord(_).toList))
    assert(colToks.toList == expected, "codegen column diverges from the codec")
  }

  test("c32b vocab export: generation protocol, slot-0 space, alphabet+merges, dedup") {
    val modelDir = tempDir("graft_bpe_vocab").toString
    Training.fitBpe(spark, craftedDocs(spark), modelDir, numMerges = 4, maxWords = 100)
    val live = s"${IndexMeta.liveGen(spark, modelDir, "bpe").get}/vocab"
    assert(live.contains("bpe.g"), s"vocab not under the generation protocol: $live")
    val vocab = spark.read.parquet(live).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(vocab.head == ((0, " ")), "vocab slot 0 must be the reserved space")
    assert(vocab.map(_._1).toSeq == vocab.indices, "vocab ids must be dense 0..n")
    assert(vocab.map(_._2).distinct.length == vocab.length, "vocab tokens must be unique")
    // crafted corpus alphabet {d,e,i,l,n,o,r,s,t,w} sorted, then the
    // hand-computed merge outputs es, est, lo, low in rank order
    val toks = vocab.map(_._2).toSeq
    assert(toks == Seq(" ", "d", "e", "i", "l", "n", "o", "r", "s", "t", "w",
      "es", "est", "lo", "low"), s"unexpected vocab: $toks")
  }

  test("c32b ids roundtrip: decode(encodeIds(text)) == text incl. space runs; OOV is loud") {
    import spark.implicits._
    val modelDir = tempDir("graft_bpe_rt").toString
    Training.fitBpe(spark, craftedDocs(spark), modelDir, numMerges = 4, maxWords = 100)
    // space handling is the decode trap: empty words from split must
    // round-trip runs of spaces, leading and trailing included
    val texts = Seq("the lowest of the newest", "low  lower", " low", "low ", "", "  ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = df.withColumn("ids", Training.bpeIdsCol(spark, modelDir))
      .withColumn("rt", Training.bpeDecodeCol(spark, modelDir, col("ids")))
      .withColumn("n_oov", size(filter(col("ids"),
        _ === lit(graft.functions.BpeVocab.OovId))))
      .orderBy("doc_id").collect()
    texts.zip(out).foreach { case (t, r) =>
      // rows are (doc_id, text, ids, rt, n_oov); 'h','f' etc. are OOV
      // under the crafted alphabet — those texts must FLAG, the rest
      // must round-trip exactly
      val oov = r.getInt(4)
      if (t.exists(c => c != ' ' && !"deilnorstw".contains(c)))
        assert(oov > 0, s"'$t' should flag OOV")
      else {
        assert(oov === 0, s"'$t' flagged $oov OOV")
        assert(r.getString(3) === t, s"roundtrip broke: '${r.getString(3)}' != '$t'")
      }
    }
    // ids are real vocab ids: ' low' encodes as the space separator id
    // (leading empty word) then low's single merged token (vocab id 14)
    val lowIds = out(2).getSeq[Int](2)
    assert(lowIds.toList == List(0, 14), s"' low' ids: $lowIds")
  }

  test("bpe drift telemetry: 0.0 in-vocab, 1.0 fully-alien, exact mixed fraction, 0.0 empty") {
    // the lexQueryTerms OOV twin on the frozen tokenizer — the crafted
    // model's vocab is {" "} ∪ {d,e,i,l,n,o,r,s,t,w} ∪ {es,est,lo,low},
    // so the expected fractions are exact token arithmetic (the
    // encode Column emits word tokens only — spaces are the id
    // layer's concern — so denominators count word tokens)
    val modelDir = tempDir("graft_bpe_drift").toString
    Training.fitBpe(spark, craftedDocs(spark), modelDir, numMerges = 4, maxWords = 100)
    import spark.implicits._
    def frac(texts: String*) = Training.bpeOovFraction(spark, modelDir,
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    // "low west" → [low, " ", w, es, t] — every token known
    assert(frac("low west newest") == 0.0, "in-distribution batch must read 0")
    // "zq" → [z, q] — both outside the alphabet
    assert(frac("zq") == 1.0, "fully-alien batch must read 1")
    // "low zz" → [low, z, z] — 2 unknown of 3
    assert(frac("low zz") == 2.0 / 3.0, "mixed batch must read the exact token fraction")
    // empty batch: no arrivals is the no-drift case, never a throw
    // (streaming replay delivers empty micro-batches routinely)
    assert(frac() == 0.0, "empty batch must read 0, not NaN/throw")
  }
}
