package graft.io

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.typedef.TypeDef._

/** A1/A2/A7/A10 against the reference's golden fixture and its
  * minimum-slice composition (SURVEY §7.2, §6). */
class OrcIOSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(): String = {
    val d = tempDir("graft-orc").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out.orc"
  }

  test("golden read: decimal.orc stats invariants (core_test:13-18, BASELINE.md)") {
    val df = OrcIO.readOrc(spark, "/root/reference/test-resources/decimal.orc")
    val row = OrcIO.stats(df, "_col0").collect().head
    assert(row.getLong(0) == 6000L)
    assert(row.getDecimal(2).compareTo(new JBigDecimal("-1000.5")) == 0)
    assert(row.getDecimal(3).compareTo(new JBigDecimal("1999.2")) == 0)
    assert(row.getDecimal(1).compareTo(new JBigDecimal("1998301.099")) == 0)
  }

  test("golden read: TestOrcFile.test1.orc all-types file (FIXTURES.md §1)") {
    val df = OrcIO.readOrc(spark, "/root/reference/test-resources/TestOrcFile.test1.orc")
    assert(df.count() == 2)
    val fieldNames = df.schema.fieldNames.toSeq
    assert(fieldNames == Seq("boolean1", "byte1", "short1", "int1", "long1", "float1",
      "double1", "bytes1", "string1", "middle", "list", "map"))
  }

  test("minimum slice: infer → write ORC → read → stats (SURVEY §7.2)") {
    val rows: Seq[Any] = Seq(Map("x" -> 1, "y" -> "a"), Map("x" -> 40000))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val schema = OrcIO.inferSchema(rdd).get
    assert(schema.toDDL == "x INT,y STRING") // tinyint ⊔ int widens to int
    val path = tmpDir()
    OrcIO.writeOrc(OrcIO.rowsToDF(spark, rows, schema), path)
    val back = OrcIO.readOrc(spark, path)
    val st = OrcIO.stats(back, "x").collect().head
    assert(st.getLong(0) == 2L)
    assert(st.getLong(1) == 40001L)
    assert(st.getInt(2) == 1 && st.getInt(3) == 40000)
    // y column: missing field → NULL (core_test:187 doctrine)
    assert(OrcIO.frameMaps(back.orderBy("x")).map(_("y")) == Seq("a", null))
  }

  test("writeRows with Hive schema string + write options (A2, core.clj:622-671)") {
    val path = tmpDir()
    OrcIO.writeRows(spark, path, Seq(Seq(1, "a"), Seq(2, "b")), "struct<x:int,y:string>",
      OrcIO.WriteOptions(overwrite = true, stripeSize = Some(67108864L), rowIndexStride = Some(10000)))
    val back = OrcIO.readOrc(spark, path).orderBy("x")
    assert(OrcIO.frameVecs(back) == Seq(Seq(1, "a"), Seq(2, "b")))
    // overwrite? = false → second write to same path fails (SaveMode.ErrorIfExists)
    assertThrows[Exception](
      OrcIO.writeRows(spark, path, Seq(Seq(3, "c")), "struct<x:int,y:string>"))
    // overwrite? = true → replaces
    OrcIO.writeRows(spark, path, Seq(Seq(3, "c")), "struct<x:int,y:string>",
      OrcIO.WriteOptions(overwrite = true))
    assert(OrcIO.frameVecs(OrcIO.readOrc(spark, path)) == Seq(Seq(3, "c")))
  }

  /** C5/C6 at realistic media payload sizes: ≥1 MB binary cells through
    * the ORC path with non-default stripe/buffer/stride options, so the
    * write exercises multi-stripe files and compression-chunk sizing
    * rather than the 32-byte sha stand-ins the struct roundtrip uses.
    * Fully distributed compare (md5 + length joined on id, no payload
    * ever collected). */
  test("MB-scale binary cells roundtrip with non-default stripe/buffer options") {
    import org.apache.spark.sql.functions._
    val path = tmpDir()
    // 'media_<id>_' repeated 131072× → ~1.1 MB deterministic cell
    val payload = expr("cast(repeat(concat('media_', cast(id as string), '_'), 131072) as binary)")
    val src = spark.range(24).select(col("id"), payload.as("payload"))
    OrcIO.writeOrc(src, path, OrcIO.WriteOptions(
      overwrite = true,
      stripeSize = Some(4L << 20),      // 4 MB stripes → several per file
      rowIndexStride = Some(1000),      // minimum legal stride
      bufferSize = Some(64 << 10),      // 64 KB compress chunks (default 256 KB)
      enforceBufferSize = true))
    val back = OrcIO.readOrc(spark, path)
    val joined = src.select(col("id"), md5(col("payload")).as("h"), length(col("payload")).as("len"))
      .join(back.select(col("id"), md5(col("payload")).as("h2"), length(col("payload")).as("len2")), "id")
    assert(back.count() == 24)
    assert(joined.filter(col("h") =!= col("h2") || col("len") =!= col("len2")).count() == 0,
      "payload bytes must survive the roundtrip unchanged")
    assert(joined.filter(col("len") < (1 << 20)).count() == 0, "cells must be >= 1 MB")
  }

  test("distributed inference handles empty and all-null partitions") {
    val rdd = spark.sparkContext.parallelize(Seq[Any](null, Map("a" -> 1), null), 3)
    assert(OrcIO.inferTypeDef(rdd).map(graft.typedef.Merge.simplify(_).get)
      == Some(TStruct.of("a" -> TTinyInt)))
    assert(OrcIO.inferTypeDef(spark.sparkContext.parallelize(Seq.empty[Any], 2)) == None)
  }
}
