package graft.io

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import java.sql.{Date => SqlDate, Timestamp => SqlTimestamp}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Port of the reference's `round-trip-test`
 * (`/root/reference/test/orca/core_test.clj:156-193`): write rows with a
 * Hive schema string, read the ORC back, compare frames.
 *
 * Read-side values are Spark-typed (SURVEY §7.4.5 divergences, by
 * design): dates come back as java.sql.Date, timestamps as
 * java.sql.Timestamp, booleans as Boolean (orca reads 0/1), structs as
 * Rows with explicit NULL fields (orca omits them), and map entries
 * with NULL keys are dropped (Spark maps cannot hold null keys).
 */
class RoundTripSpec extends AnyFunSuite with SparkTestSession {

  /** `body` on a fresh temp dir, deleted with all it holds afterwards. */
  private def inTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def roundtrip(rows: Seq[Any], schema: String): Seq[Seq[Any]] =
    inTempDir("graft-rt") { dir =>
      val path = dir + "/rt.orc"
      OrcIO.writeRows(spark, path, rows, schema)
      OrcIO.frameVecs(OrcIO.readOrc(spark, path))
    }

  private def sorted(vecs: Seq[Seq[Any]]): Seq[Seq[Any]] =
    vecs.sortBy(_.map(v => if (v == null) "" else v.toString).mkString("|"))

  test("vectors roundtrip (core_test:166-182)") {
    assert(sorted(roundtrip(Seq(Seq(1), Seq(2), Seq(3)), "struct<x:int>"))
      == Seq(Seq(1), Seq(2), Seq(3)))
    assert(sorted(roundtrip(Seq(Seq(1, "a"), Seq(2, "b")), "struct<x:int,y:string>"))
      == Seq(Seq(1, "a"), Seq(2, "b")))
    assert(sorted(roundtrip(Seq(Seq(LocalDate.of(2017, 4, 7)), Seq(null)), "struct<y:date>"))
      == sorted(Seq(Seq(SqlDate.valueOf(LocalDate.of(2017, 4, 7))), Seq(null))))
    val inst = Instant.parse("2017-04-07T17:13:19.581Z")
    assert(sorted(roundtrip(Seq(Seq(inst), Seq(null)), "struct<y:timestamp>"))
      == sorted(Seq(Seq(SqlTimestamp.from(inst)), Seq(null))))
    assert(sorted(roundtrip(Seq(Seq(Nil), Seq(null)), "struct<y:array<string>>"))
      == sorted(Seq(Seq(Seq()), Seq(null))))
    assert(sorted(roundtrip(Seq(Seq(Nil), Seq(Seq(1, 2, 3))), "struct<y:array<int>>"))
      == sorted(Seq(Seq(Seq()), Seq(Seq(1, 2, 3)))))
    assert(roundtrip(Seq(Seq(Seq(Seq(1, 2, 3)))), "struct<y:array<array<int>>>")
      == Seq(Seq(Seq(Seq(1, 2, 3)))))
    assert(roundtrip(Seq(Seq(Map("x" -> 1))), "struct<y:struct<x:int>>")
      == Seq(Seq(Row(1))))
    // missing subfield → NULL recursively (orca omits the field; we
    // surface the explicit NULL slot — core.clj:575-579 vs SURVEY §7.4.5)
    assert(roundtrip(Seq(Seq(Map("x" -> 1))), "struct<y:struct<x:int,y:string>>")
      == Seq(Seq(Row(1, null))))
    assert(roundtrip(Seq(Seq(1.00)), "struct<x:double>") == Seq(Seq(1.00)))
    assert(roundtrip(Seq(Seq(new JBigDecimal("1.00"))), "struct<x:decimal(12,2)>")
      == Seq(Seq(new JBigDecimal("1.00"))))
  }

  test("map cells roundtrip (core_test:178-182; null-key divergence documented)") {
    assert(roundtrip(Seq(Seq(null)), "struct<x:map<string,string>>") == Seq(Seq(null)))
    assert(roundtrip(Seq(Seq(Map("a" -> "b"))), "struct<x:map<string,string>>")
      == Seq(Seq(Map("a" -> "b"))))
    assert(roundtrip(Seq(Seq(Map("a" -> null))), "struct<x:map<string,string>>")
      == Seq(Seq(Map("a" -> null))))
    // orca writes a NULL key slot; Spark maps cannot → entry dropped
    assert(roundtrip(Seq(Seq(Map(null.asInstanceOf[String] -> "b"))), "struct<x:map<string,string>>")
      == Seq(Seq(Map())))
    assert(roundtrip(Seq(Seq(Map(null.asInstanceOf[String] -> null))), "struct<x:map<string,string>>")
      == Seq(Seq(Map())))
  }

  test("frames roundtrip (core_test:183-187)") {
    val f1 = roundtrip(Seq(Seq(null, "a"), Seq(2, null)), "struct<x:int,y:string>")
    assert(sorted(f1) == sorted(Seq(Seq(null, "a"), Seq(2, null))))
    // ints and booleans stringify on write into a string column
    assert(sorted(roundtrip(Seq(Seq(10), Seq(10), Seq(true)), "struct<x:string>"))
      == Seq(Seq("10"), Seq("10"), Seq("true")))
    // map rows look fields up by name; missing → NULL (core_test:187)
    val f3 = roundtrip(
      Seq(Map("x" -> "foo", "y" -> 10), Map("x" -> "bar", "y" -> 100000), Map("z" -> false)),
      "struct<x:string,y:int>")
    assert(sorted(f3) == sorted(Seq(Seq("foo", 10), Seq("bar", 100000), Seq(null, null))))
  }

  test("type coercion on write (core_test:188-193)") {
    val inst = Instant.parse("2017-04-07T17:13:19.581Z")
    assert(roundtrip(Seq(Seq("2017-04-07T17:13:19.581Z")), "struct<x:timestamp>")
      == Seq(Seq(SqlTimestamp.from(inst))))
    assert(roundtrip(Seq(Seq(Map("x" -> "y"))), "struct<x:map<string,string>>")
      == Seq(Seq(Map("x" -> "y"))))
    // symbol keys → string map keys (orca's keyword → name path)
    assert(roundtrip(Seq(Seq(Map(Symbol("x") -> "y"))), "struct<x:map<string,string>>")
      == Seq(Seq(Map("x" -> "y"))))
    assert(roundtrip(Seq(Seq(Map(Symbol("x") -> "y", "b" -> "10"))), "struct<x:map<string,string>>")
      == Seq(Seq(Map("x" -> "y", "b" -> "10"))))
  }

  test("binary and char columns roundtrip (schema-builder paths, core.clj:338,344)") {
    // binary: bytes in, bytes out on the Spark surface (orca reads
    // binary as UTF-8 String — that shim lives in orcaCompatMaps)
    val bytes = "payload".getBytes("UTF-8")
    val back = roundtrip(Seq(Seq(bytes), Seq(null)), "struct<x:binary>")
    assert(back.flatMap(_.headOption).collect {
      case b: Array[Byte] => new String(b, "UTF-8")
    } == Seq("payload"))
    // char/varchar: length props dropped like the reference (SURVEY §7.4.4),
    // values read back as strings
    assert(sorted(roundtrip(Seq(Seq("a"), Seq("b")), "struct<x:char(1)>"))
      == Seq(Seq("a"), Seq("b")))
    assert(sorted(roundtrip(Seq(Seq("abc")), "struct<x:varchar(10)>"))
      == Seq(Seq("abc")))
  }

  test("A9 orcaCompat collect reproduces the reference's read-side asymmetries") {
    val m = inTempDir("graft-compat") { dir =>
      val path = dir + "/c.orc"
      OrcIO.writeRows(spark, path,
        Seq(Map("b" -> true, "f" -> 1.5f, "s" -> Map("x" -> 1), "m" -> Map[String, String](),
          "d" -> LocalDate.of(2017, 1, 2), "t" -> Instant.ofEpochMilli(1000))),
        "struct<b:boolean,f:float,s:struct<x:int,y:string>,m:map<string,string>,d:date,t:timestamp>")
      OrcIO.orcaCompatMaps(OrcIO.readOrc(spark, path)).head
    }
    assert(m("b") == 1L)                       // booleans come back 0/1
    assert(m("f") == 1.5)                      // floats widen to Double
    assert(m("s") == Map("x" -> 1))            // struct omits NULL fields
    assert(m("m") == null)                     // empty map reads as null
    assert(m("d") == LocalDate.of(2017, 1, 2)) // dates as LocalDate
    assert(m("t") == Instant.ofEpochMilli(1000)) // timestamps as Instant
  }

  test("lenient cell failure → NULL, not job failure (core.clj:443-450)") {
    // a struct where one cell can't convert: date column fed garbage
    assert(roundtrip(Seq(Seq("not-a-date", 1), Seq("2017-05-06", 2)), "struct<d:date,i:int>")
      .map(_.head).toSet == Set(null, SqlDate.valueOf("2017-05-06")))
    // epoch-millis number → timestamp (to-instant Number branch)
    assert(roundtrip(Seq(Seq(0L)), "struct<x:timestamp>")
      == Seq(Seq(SqlTimestamp.from(Instant.ofEpochMilli(0)))))
    // boolean → 1/0 into int column (to-long Boolean branch)
    assert(sorted(roundtrip(Seq(Seq(true), Seq(false)), "struct<x:int>"))
      == Seq(Seq(0), Seq(1)))
    // date → epoch-day into bigint column (to-long LocalDate branch, core_test:196-197)
    assert(roundtrip(Seq(Seq(LocalDate.of(2017, 1, 2))), "struct<x:bigint>")
      == Seq(Seq(17168L)))
    // decimal precision overflow → NULL cell, not a failed write
    assert(roundtrip(Seq(Seq(new JBigDecimal("1E+20")), Seq(new JBigDecimal("1.00"))), "struct<x:decimal(12,2)>")
      .map(_.head).toSet == Set(null, new JBigDecimal("1.00")))
  }
}
