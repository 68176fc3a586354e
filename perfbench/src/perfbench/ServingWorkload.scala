package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Pipeline, Similarity}

/** index_serving — search and ingest against persisted indexes. Set-up
  * builds a lexical index (`Pipeline.fitLexIndex`), an IVF index
  * (`Similarity.buildIvfIndexFrom`) and a near-dup store
  * (`Similarity.buildNearDupIndex`) over the generated documents and
  * embeddings, except a held-out arrival slice. Serving cost is
  * dominated by construction-time Spark jobs, which the other two
  * workloads barely run.
  *
  * One op = one serving round: a search (`Pipeline.hybridScoreIndexed`
  * on a seeded batch of `QueryBatch` queries, collected) followed by an
  * append of one arrival batch of `ArrivalBatch` documents
  * (`Similarity.appendToNearDupIndex`, then `Pipeline.appendLexIndex`,
  * each with a batch id). Searches and appends share the indexes, so a
  * change that speeds one at the other's cost shows in the round.
  *
  * A round runs about 80 Spark jobs and takes 8–10 s on 4 cores, and the
  * index builds take about 25 s; both are bound by job count, not by
  * corpus size. So set-up has no warm-up round, and a run measures the
  * two rounds of the counter window: the first pays the cold start of
  * the search and append paths, the second does not.
  *
  * Checks: every search returns at most `RrfDepth` rows per query, all
  * for queries of the batch and over ids the indexes hold; after the
  * loop, the near-dup pairs equal those of a store built from scratch
  * over the same documents. */
final class ServingWorkload(seed: Long) extends Workload {
  import ServingWorkload._

  val sizes: Map[String, Any] = Map("documents" -> Docs, "embeddings" -> Vecs,
    "held_out_documents" -> HeldOut, "query_batch" -> QueryBatch, "arrival_batch" -> ArrivalBatch)
  val window = 2
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: String = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var lex, ivf, nearDup: String = _
  private val corpus = Corpus(seed)
  private val files = mutable.ArrayBuffer.empty[Long] // index files after each round's append
  private var appended = 0 // arrival batches in the indexes

  def setup(s: SparkSession, d: String, phase: Phases): Unit = {
    spark = s
    tr = phase.tracer
    dir = d
    phase("setup.datagen") { corpus.write(spark, s"$d/data") }
    docs = spark.read.parquet(s"$d/data/documents.parquet")
    vecs = spark.read.parquet(s"$d/data/embeddings.parquet")
    val held = corpus.heldOut.toSeq
    lex = s"$d/idx/lex"; ivf = s"$d/idx/ivf"; nearDup = s"$d/idx/neardup"
    phase("setup.lex_fit") { Pipeline.fitLexIndex(docs.filter(!col("doc_id").isin(held: _*)), lex) }
    phase("setup.ivf_build") {
      Similarity.buildIvfIndexFrom(spark, vecs.filter(!col("vec_id").isin(held: _*)), ivf)
    }
    phase("setup.neardup_build") {
      Similarity.buildNearDupIndex(spark, docs.filter(!col("doc_id").isin(held: _*)), nearDup)
    }
  }

  override def hasNext(i: Int): Boolean = appended < corpus.arrivals.size

  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val ok = search(i)
    val t1 = System.nanoTime()
    append()
    val t2 = System.nanoTime()
    files += indexFiles()
    OpResult((t2 - t0) / 1e9, Map("search" -> (t1 - t0) / 1e9, "append" -> (t2 - t1) / 1e9), ok)
  }

  private def search(i: Int): Boolean = {
    val q = corpus.queries(i)
    val queryDocs = docs.filter(col("doc_id").isin(q: _*)).select("doc_id", "text")
    val queryVecs = vecs.filter(col("vec_id").isin(q: _*)).select("vec_id", "embedding")
    val res = tr.span("pipeline.search") {
      Pipeline.hybridScoreIndexed(spark, lex, ivf, queryDocs, queryVecs)
    }
    val rows = tr.span("pipeline.search_execute") { res.collect() }
    val known = corpus.indexed(appended)
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    perQuery.keySet.subsetOf(q.toSet) && perQuery.values.forall(_.length <= RrfDepth) &&
      rows.forall(r => known(r.getAs[Long]("doc_id"))) && rows.nonEmpty
  }

  private def append(): Unit = {
    val ids = corpus.arrivals(appended)
    val batch = docs.filter(col("doc_id").isin(ids: _*))
    val id = Some(s"arrival-$appended")
    tr.span("similarity.append") { Similarity.appendToNearDupIndex(spark, nearDup, batch, id) }
    tr.span("pipeline.append") { Pipeline.appendLexIndex(spark, lex, batch, id) }
    appended += 1
  }

  private def indexFiles(): Long = {
    def count(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(count).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    Seq(lex, ivf, nearDup).map(p => count(new java.io.File(p))).sum
  }

  /** The store's pairs after every append must equal a fresh build's
    * over the same documents; a mismatch fails every round. */
  override def finalChecks(done: Int): Int = {
    val held = corpus.arrivals.drop(appended).flatten
    val fresh = s"$dir/idx/neardup-check"
    Similarity.buildNearDupIndex(spark, docs.filter(!col("doc_id").isin(held: _*)), fresh)
    def pairs(p: String) = Similarity.nearDupIndexPairs(spark, p).collect().map(_.toSeq).toSet
    val (got, want) = (pairs(nearDup), pairs(fresh))
    pairCount = want.size
    if (got == want && want.nonEmpty) 0 else done
  }
  private var pairCount = 0

  def detail(ops: Seq[OpResult]): Map[String, Double] = {
    def of(k: String) = ops.flatMap(_.parts.get(k))
    Map("search_batch_p50_s" -> Stats.median(of("search")),
      "search_batch_tail_s" -> Stats.tail(of("search"))._2,
      "append_batch_p50_s" -> Stats.median(of("append")),
      "append_batch_tail_s" -> Stats.tail(of("append"))._2,
      "near_dup_pairs" -> pairCount.toDouble)
  }

  def perLayer(t: Tracer, ops: Int): Map[String, Double] = {
    def per(name: String)(f: Span => Double) = Stats.median((0 until ops).map(i => t.of(i, name).map(f).sum))
    def win(name: String)(f: Counters => Long) =
      (0 until window).flatMap(t.of(_, name)).map(s => f(s.counters)).sum.toDouble
    Map(
      "pipeline.search_construct_s" -> per("pipeline.search")(_.seconds),
      "pipeline.search_construct_jobs" -> win("pipeline.search")(_.jobs),
      "pipeline.search_execute_s" -> per("pipeline.search_execute")(_.seconds),
      "pipeline.search_shuffle_bytes" ->
        (win("pipeline.search")(_.shuffleWriteBytes) + win("pipeline.search_execute")(_.shuffleWriteBytes)),
      "similarity.append_s" -> per("similarity.append")(_.seconds),
      "similarity.append_jobs" -> win("similarity.append")(_.jobs),
      "similarity.append_bytes_written" -> win("similarity.append")(_.outputBytes),
      "pipeline.append_s" -> per("pipeline.append")(_.seconds),
      "pipeline.append_jobs" -> win("pipeline.append")(_.jobs),
      "indexmeta.files" -> files.lift(window - 1).getOrElse(0L).toDouble)
  }
}

object ServingWorkload {
  val Docs = 2000
  val Vecs = 1000
  val Dim = 64
  val HeldOut = 300
  val ArrivalBatch = 10
  val QueryBatch = 16
  /** Rows per query the fused ranking may return (the library's RRF depth). */
  val RrfDepth = 20

  /** Generated documents and embeddings. Texts are drawn from a skewed
    * 400-word vocabulary; about one document in eight is a copy of an
    * earlier one with one word changed, so the near-dup store has pairs
    * inside the corpus, inside the arrivals, and between them. Embeddings
    * (for the first `Vecs` documents) lie around one of ten centres. */
  final case class Corpus(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    val texts: Vector[String] = {
      val out = mutable.ArrayBuffer.empty[Vector[String]]
      (0 until Docs).foreach { d =>
        if (d > 10 && rnd.nextInt(8) == 0) {
          val src = out(rnd.nextInt(d))
          out += src.updated(rnd.nextInt(src.size), word())
        } else out += Vector.fill(20 + rnd.nextInt(60))(word())
      }
      out.map(_.mkString(" ")).toVector
    }
    private def word(): String = f"w${(400 * math.pow(rnd.nextDouble(), 2)).toInt}%03d"
    private val centres = Vector.fill(10)(Vector.fill(Dim)(rnd.nextDouble() * 2 - 1))
    val embeddings: Vector[(Int, Array[Float])] = (0 until Vecs).map { v =>
      val c = rnd.nextInt(10)
      c -> centres(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toArray
    }.toVector
    /** Arrival batches: a seeded slice of the documents, held out of the
      * builds. */
    val arrivals: Vector[Seq[Long]] = {
      val ids = mutable.LinkedHashSet.empty[Long]
      while (ids.size < HeldOut) ids += rnd.nextInt(Docs).toLong
      ids.toVector.grouped(ArrivalBatch).map(_.toSeq).toVector
    }
    val heldOut: Set[Long] = arrivals.flatten.toSet
    /** Ids the indexes hold once `n` arrival batches are in. */
    def indexed(n: Int): Set[Long] =
      (0L until Docs).toSet -- arrivals.drop(n).flatten
    /** Query batch of round `i`: documents with embeddings, not held out. */
    def queries(i: Int): Seq[Long] = {
      val r = new SplittableRandom(seed * 31L + i + 1)
      val ids = mutable.LinkedHashSet.empty[Long]
      while (ids.size < QueryBatch) {
        val id = r.nextInt(Vecs).toLong
        if (!heldOut(id)) ids += id
      }
      ids.toSeq
    }

    def write(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      val langs = Vector("en", "de", "fr", "es", "zh")
      texts.zipWithIndex.map { case (t, d) => (d.toLong, t, langs(d % 5), s"src${d % 7}", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(4).write.parquet(s"$dir/documents.parquet")
      embeddings.zipWithIndex.map { case ((label, e), v) => (v.toLong, e, label) }
        .toDF("vec_id", "embedding", "label")
        .repartition(4).write.parquet(s"$dir/embeddings.parquet")
    }
  }
}
