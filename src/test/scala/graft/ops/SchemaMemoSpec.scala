package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The round-14 schema memo (`Relational.cachedSchemaParquet`) changed
  * how every table/index read constructs: the inferred schema is
  * memoized per (conf posture, path, file-listing signature) and later
  * constructions skip the footer-inference job. These tests pin the
  * properties that make that safe: the memoized relation is identical
  * to the inferred one, and a rewrite at the same path is picked up —
  * never served a stale schema. */
class SchemaMemoSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("memoized read is identical to the inferred read (schema and rows)") {
    val inferred = spark.read.parquet(s"$dir/customer.parquet")
    // second construction goes through the memo (first call filled it)
    Relational.table(spark, dir, "customer")
    val memoized = Relational.table(spark, dir, "customer")
    assert(memoized.schema === inferred.schema,
      s"memoized schema drifted:\n${memoized.schema}\nvs inferred:\n${inferred.schema}")
    assert(memoized.exceptAll(inferred).isEmpty && inferred.exceptAll(memoized).isEmpty,
      "memoized relation rows differ from the inferred read")
  }

  test("a rewrite at the same path re-infers — the memo never serves a stale schema") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_spec_").toString
    val path = s"$tmp/t.parquet"
    spark.range(3).select(col("id").as("a")).write.parquet(path)
    val first = Relational.cachedSchemaParquet(spark, path)
    assert(first.schema.fieldNames.toSeq === Seq("a"))
    // rewrite with a DIFFERENT schema at the same path
    spark.range(3).select(col("id").as("a"), lit("x").as("b"))
      .write.mode("overwrite").parquet(path)
    val second = Relational.cachedSchemaParquet(spark, path)
    assert(second.schema.fieldNames.toSeq === Seq("a", "b"),
      s"stale memoized schema served after rewrite: ${second.schema}")
    assert(second.count() === 3L)
  }

  test("a missing path still fails like a plain read, and does not poison the memo") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_spec_miss_").toString
    val path = s"$tmp/never_written.parquet"
    intercept[Exception] { Relational.cachedSchemaParquet(spark, path).count() }
    // now write it — the earlier failure must not have cached anything
    spark.range(2).select(col("id").as("z")).write.parquet(path)
    assert(Relational.cachedSchemaParquet(spark, path).schema.fieldNames.toSeq === Seq("z"))
  }

  private def jobsDuring(body: => Any): Int = graft.tools.JobCounter.jobsDuring(spark)(body)._2

  /** Round-15 (round-14 advice): the memo bound evicts only the
    * LEAST-RECENTLY-USED entry instead of clearing everything. Pin the
    * eviction path: an evicted entry re-infers (one footer job) and
    * still reads correctly; a surviving hot entry stays job-free at
    * construction. */
  test("LRU eviction: evicted paths re-infer correctly, hot paths stay memoized") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_spec_lru_").toString
    val paths = (1 to 3).map { i =>
      val p = s"$tmp/t$i.parquet"
      spark.range(2).select(col("id").as(s"c$i")).write.parquet(p)
      p
    }
    val savedMax = Relational.schemaMemoMax
    try {
      Relational.schemaMemoMax = 2
      // deterministic start: the shared session's memo already holds other
      // suites' entries, and eviction removes one ELDEST entry per put —
      // without a clear, t1 would survive behind them
      Relational.schemaMemoClear()
      // fill: t1, t2 memoized; t2 then t3 touch keeps t2+t3 live, evicts t1
      Relational.cachedSchemaParquet(spark, paths(0))
      Relational.cachedSchemaParquet(spark, paths(1))
      Relational.cachedSchemaParquet(spark, paths(2))
      // t3 is hot: construction must run NO job (memo hit, schema passed explicitly)
      assert(jobsDuring(Relational.cachedSchemaParquet(spark, paths(2))) === 0,
        "hot memo entry re-ran schema inference")
      // t1 was evicted (LRU at bound 2): construction re-infers (>=1 job)
      // and still returns the right schema — eviction costs a job, never
      // correctness
      val evicted = jobsDuring {
        val df = Relational.cachedSchemaParquet(spark, paths(0))
        assert(df.schema.fieldNames.toSeq === Seq("c1"))
      }
      assert(evicted >= 1, "evicted entry did not re-infer (memo unbounded?)")
    } finally Relational.schemaMemoMax = savedMax
  }

  test("a union over memoized members runs no job; rewriting one member re-infers it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_spec_union_").toString
    val paths = (0 until 4).map(i => s"$tmp/seg_$i")
    paths.zipWithIndex.foreach { case (p, i) =>
      Relational.writeParquet(spark.range(i * 10, i * 10 + 3).select(col("id").as("k"),
        array(col("id")).as("ks")), p)
    }
    assert(jobsDuring(Relational.cachedSchemaParquet(spark, paths)) === 0,
      "a union of writer-primed members ran a schema inference job")
    // a member rewritten outside the writer (same schema) must re-infer
    // that member, and then the union is memoized again
    spark.range(5).select(col("id").as("k"), array(col("id")).as("ks"))
      .write.mode("overwrite").parquet(paths(2))
    assert(jobsDuring(Relational.cachedSchemaParquet(spark, paths)) >= 1,
      "a rewritten member was served from a stale entry")
    assert(jobsDuring(Relational.cachedSchemaParquet(spark, paths)) === 0)
    assert(Relational.cachedSchemaParquet(spark, paths).count() === 14L)
  }

  test("every index table written through writeParquet records the schema a read infers") {
    val docs = Relational.table(spark, dir, "documents").select("doc_id", "text")
    val lex = Similarity.freshScratch(spark, "graft_memo_spec_lex_")
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), lex)
    Pipeline.appendLexIndex(spark, lex, docs.filter(col("doc_id") % 10 === 7), Some("b1"))
    val nd = Similarity.freshScratch(spark, "graft_memo_spec_nd_")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 10 =!= 7), nd)
    Similarity.appendToNearDupIndex(spark, nd, docs.filter(col("doc_id") % 10 === 7), Some("b1"))
    val header = Pipeline.lexHeader(spark, IndexMeta.liveGen(spark, lex, "lex").get.toString, "the spec")
    assert(header.segments.size === 2)
    val tables = header.segments.flatMap(s =>
        Seq("terms", "postings", "doclens").map(t => s"$lex/$s/$t")) ++
      Seq("shingles", "bands", "pairs").flatMap(Similarity.nearDupTablePaths(spark, nd, _))
    tables.foreach { p =>
      assert(Relational.memoizedSchema(spark, p) === Some(spark.read.parquet(p).schema),
        s"recorded schema of $p differs from the inferred one")
    }
  }
}
