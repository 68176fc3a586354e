package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class JsonInferSpec extends AnyFunSuite with SparkTestSession {

  test("value-dependent narrowing + merge widening over JSON lines") {
    val dir = tempDir("graft-json").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "data.json")
    Files.writeString(f.toPath,
      """{"a": 1, "b": "x"}
        |{"a": 40000, "c": [1, 2]}
        |{"a": 3000000000, "b": "y", "d": {"e": 1.5}}
        |not json at all
        |""".stripMargin)
    val df = JsonInfer.readJson(spark, f.getAbsolutePath)
    // tinyint ⊔ int ⊔ bigint → bigint; nested array/struct inferred;
    // the garbage line contributes nothing (lenient parse → null)
    assert(df.schema.toDDL == "a BIGINT,b STRING,c ARRAY<TINYINT>,d STRUCT<e: DOUBLE>")
    assert(df.count() == 4) // spark keeps the corrupt row as nulls
    assert(df.filter("a = 3000000000").select("d.e").head().getDouble(0) == 1.5)
  }

  test("props column schema discovery narrows by value") {
    val schema = JsonInfer.inferJsonColumn(
      graft.ops.Relational.table(spark, "/root/testdata/sf0.001", "events"), "props").get
    // props values are {"k": 0..~100} → value-dependent narrowing
    assert(schema.fieldNames.toSeq == Seq("k"))
    assert(Set("TINYINT", "SMALLINT").contains(schema.fields(0).dataType.sql))
  }
}
