package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.io.OrcIO
import graft.typedef.{InferOptions, TypeDef}

/** orc_ingest — the reference's whole surface: infer a schema from
  * orca-style rows (nested Scala maps), encode them leniently, write
  * ORC, read it back. The only workload where `graft.typedef` and
  * `graft.io.Lenient` do most of the work; the relational and index
  * layers do none.
  *
  * One op = one generated batch of `Rows` rows through
  * `OrcIO.inferSchema` → `OrcIO.rowsToDF` + `OrcIO.writeOrc` →
  * `OrcIO.readOrc` (collected). Generating the batch and comparing the
  * read-back cell for cell are untimed.
  *
  * Every batch holds integers either side of the narrowing boundaries
  * (±127, ±32767, ±2³¹), strings, ISO date and timestamp strings,
  * decimals, empty and nested arrays, a struct with an optional field,
  * a map column, and NULL cells. Three columns are pinned by an
  * inference override, and in each of them exactly `Rows / 40` cells,
  * placed by the seed, cannot be converted to the pinned type. */
final class IngestWorkload(seed: Long, cores: Int) extends Workload {
  import IngestWorkload._

  val sizes: Map[String, Any] = Map("rows_per_batch" -> Rows, "columns" -> Expected.size,
    "planted_cells_per_batch" -> Planted * PinnedColumns.size)
  val window = 4
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: String = _
  private val bytes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (bytes, files) per op
  private val nulled = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (nulled, attempted)

  def setup(s: SparkSession, d: String, phase: Phases): Unit = {
    spark = s
    tr = phase.tracer
    dir = d
    phase("setup.warmup") { (0 until 5).foreach(i => ingest(-1 - i)) }
    bytes.clear(); nulled.clear()
  }

  def op(i: Int): OpResult = ingest(i)

  /** One ingest of batch `i` (negative: warm-up batches). */
  private def ingest(i: Int): OpResult = {
    val batch = generate(seed, i)
    val path = s"$dir/batch-$i.orc"
    val t0 = System.nanoTime()
    val rows: RDD[Any] = spark.sparkContext.parallelize(batch.rows, cores)
    val schema = tr.span("typedef.infer") { OrcIO.inferSchema(rows, Options).get }
    tr.span("io.write") { OrcIO.writeOrc(OrcIO.rowsToDF(spark, rows, schema), path) }
    val back = tr.span("io.read") { OrcIO.readOrc(spark, path).collect() }
    val seconds = (System.nanoTime() - t0) / 1e9
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".orc"))
    bytes += ((files.map(_.length).sum, files.length.toLong))
    val (ok, n) = check(batch, schema, back)
    nulled += n
    Main.deleteTree(java.nio.file.Paths.get(path))
    OpResult(seconds, Map.empty, ok)
  }

  /** The inferred schema must equal [[Expected]] (field order aside: it
    * follows first-seen key order through a tree merge). Every read-back
    * cell must equal the generated one converted to its column type, and
    * exactly the planted cells must be NULL. Also returns (cells NULL
    * on read-back although generated non-NULL, non-NULL cells written). */
  private def check(b: Batch, schema: StructType, back: Array[Row]): (Boolean, (Long, Long)) = {
    val schemaOk = canonical(schema) == canonical(Expected)
    if (!schemaOk) return (false, (0L, 0L))
    val byId = back.map(r => r.getAs[Short]("id").toInt -> r).toMap
    var nulledCells, attempted = 0L
    var cellsOk = back.length == b.rows.size
    for ((row, id) <- b.rows.zipWithIndex; r <- byId.get(id)) {
      Expected.fieldNames.foreach { f =>
        val v = row.get(f).orNull
        val got = r.getAs[Any](f)
        if (v != null) {
          attempted += 1
          if (got == null) nulledCells += 1
        }
        val want = if (b.planted(f -> id)) null else expect(f, v)
        if (!same(got, want)) cellsOk = false
      }
    }
    val plantedOk = nulledCells == b.planted.size
    (cellsOk && plantedOk, (nulledCells, attempted))
  }

  def detail(ops: Seq[OpResult]): Map[String, Double] = {
    val lat = ops.map(_.seconds)
    val (_, tail, _) = Stats.tail(lat)
    Map("ingest_rows_per_s" -> Rows * ops.size / lat.sum,
      "ingest_batch_p50_s" -> Stats.median(lat),
      "ingest_batch_tail_s" -> tail,
      "stored_bytes_per_row" -> bytes.map(_._1).sum.toDouble / (Rows.toLong * bytes.size))
  }

  def perLayer(t: Tracer, ops: Int): Map[String, Double] = {
    def per(name: String)(f: Span => Double) =
      Stats.median((0 until ops).map(i => t.of(i, name).map(f).sum))
    def win(name: String)(f: Counters => Long) =
      (0 until window).map(i => t.of(i, name).map(s => f(s.counters)).sum).sum.toDouble
    val w = bytes.take(window)
    val n = nulled.take(window)
    Map(
      "typedef.infer_s" -> per("typedef.infer")(_.seconds),
      "typedef.jobs" -> win("typedef.infer")(_.jobs),
      "typedef.task_cpu_s" -> per("typedef.infer")(_.counters.cpuNs / 1e9),
      "io.write_s" -> per("io.write")(_.seconds),
      "io.write_task_cpu_s" -> per("io.write")(_.counters.cpuNs / 1e9),
      "io.write_gc_s" -> per("io.write")(_.counters.gcMs / 1e3),
      "io.write_bytes" -> w.map(_._1).sum.toDouble,
      "io.write_files" -> w.map(_._2).sum.toDouble,
      "io.lenient_null_ratio" -> n.map(_._1).sum.toDouble / n.map(_._2).sum,
      "io.read_s" -> per("io.read")(_.seconds),
      "io.read_bytes" -> win("io.read")(_.inputBytes))
  }
}

object IngestWorkload {
  val Rows = 1000
  /** Unconvertible cells per pinned column per batch. */
  val Planted: Int = Rows / 40
  val PinnedColumns = Seq("qty", "due", "amount")

  /** Inference options: ISO strings infer as date/timestamp, and the
    * pinned columns keep their type whatever the cells hold. */
  val Options: InferOptions = InferOptions(
    coerceDateStrings = true, coerceTimestampStrings = true,
    overrideStruct = Map(
      "qty" -> TypeDef.TInt,
      "due" -> TypeDef.TDate,
      "amount" -> TypeDef.TDecimal(Some(2), Some(8)),
      "props" -> TypeDef.TMap(TypeDef.TString, TypeDef.TInt)))

  /** The schema the generator's values imply, narrowing included. */
  val Expected: StructType = StructType(Seq(
    "id" -> ShortType, // 0..Rows-1
    "i8" -> ByteType, // ±127 planted
    "i16" -> ShortType, // ±32767 planted
    "i32" -> IntegerType, // ±(2³¹-1) planted
    "i64" -> LongType, // ±2³¹ planted
    "name" -> StringType,
    "note" -> StringType, // NULL in about a third of rows
    "day" -> DateType, // ISO date strings
    "ts" -> TimestampType, // ISO instant strings
    "price" -> DecimalType(7, 2), // 99999.99 planted
    "tags" -> ArrayType(StringType), // often empty
    "grid" -> ArrayType(ArrayType(ByteType)), // nested, inner lists may be empty
    "attrs" -> StructType(Seq(StructField("color", StringType), StructField("size", ByteType))),
    "props" -> MapType(StringType, IntegerType), // pinned
    "qty" -> IntegerType, // pinned; planted cells are words
    "due" -> DateType, // pinned; planted cells are impossible dates
    "amount" -> DecimalType(8, 2) // pinned; planted cells overflow the precision
  ).map { case (n, t) => StructField(n, t) })

  final case class Batch(rows: IndexedSeq[Map[String, Any]], planted: Set[(String, Int)])

  private val Words = Vector("orc", "stripe", "lattice", "merge", "narrow", "cell", "batch",
    "schema", "vector", "struct", "union", "decimal", "footer", "index", "stream", "row")
  private val Colors = Vector("red", "green", "blue", "amber")

  def generate(seed: Long, batch: Int): Batch = {
    val rnd = new SplittableRandom(seed * 1000003L + batch)
    def pick[T](v: Vector[T]) = v(rnd.nextInt(v.size))
    def planted(col: String): Set[(String, Int)] = {
      val ids = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (ids.size < Planted) ids += rnd.nextInt(Rows)
      ids.map(col -> _).toSet
    }
    val bad = PinnedColumns.flatMap(planted).toSet
    val base = LocalDate.of(2020, 1, 1)
    val rows = (0 until Rows).map { id =>
      // boundary values sit in the first rows so every batch infers
      // the same narrowed types
      def boundary(lo: Long, hi: Long, edge: Long): Long =
        if (id == 0) edge else if (id == 1) -edge else lo + rnd.nextLong(hi - lo + 1)
      val day = base.plusDays(rnd.nextInt(2000))
      val m = ListMap.newBuilder[String, Any]
      m += "id" -> id.toLong
      m += "i8" -> boundary(-127, 127, 127)
      m += "i16" -> boundary(-32767, 32767, 32767)
      m += "i32" -> boundary(-2147483647L, 2147483647L, 2147483647L)
      m += "i64" -> boundary(-(1L << 40), 1L << 40, 1L << 31)
      m += "name" -> s"${pick(Words)}-${pick(Words)}-${rnd.nextInt(1000)}"
      m += "note" -> (if (rnd.nextInt(3) == 0) null else pick(Words))
      m += "day" -> day.toString
      m += "ts" -> Instant.ofEpochSecond(1577836800L + rnd.nextLong(200000000L)).toString
      m += "price" -> (if (id == 2) new JBigDecimal("99999.99")
                       else JBigDecimal.valueOf(rnd.nextLong(9999999L), 2))
      m += "tags" -> Seq.fill(if (id == 3) 2 else rnd.nextInt(4))(pick(Words))
      m += "grid" -> Seq.fill(if (id == 4) 1 else rnd.nextInt(3))(Seq.fill(if (id == 4) 1 else rnd.nextInt(3))(rnd.nextInt(100)))
      m += "attrs" -> (if (id == 5 || rnd.nextInt(3) > 0) ListMap("color" -> pick(Colors), "size" -> rnd.nextInt(100))
                       else ListMap("color" -> pick(Colors)))
      m += "props" -> (0 until rnd.nextInt(4)).map(k => s"k$k" -> rnd.nextInt(1000)).toMap
      m += "qty" -> (if (bad("qty" -> id)) pick(Words) else rnd.nextInt(1000000))
      m += "due" -> (if (bad("due" -> id)) s"${2020 + rnd.nextInt(5)}-02-30" else day.plusDays(30).toString)
      m += "amount" -> (if (bad("amount" -> id)) JBigDecimal.valueOf(100000000L + rnd.nextInt(1000000), 2)
                        else JBigDecimal.valueOf(rnd.nextLong(99999999L), 2))
      m.result()
    }
    Batch(rows, bad)
  }

  /** The value Spark should hand back for generated cell `v` of column
    * `f` — written from the column's declared meaning, not by calling
    * the library's converter. */
  def expect(f: String, v: Any): Any = if (v == null) null else f match {
    case "id" | "i16"           => v.asInstanceOf[Long].toShort
    case "i8"                   => v.asInstanceOf[Long].toByte
    case "i32"                  => v.asInstanceOf[Long].toInt
    case "day" | "due"          => LocalDate.parse(v.toString)
    case "ts"                   => Instant.parse(v.toString)
    case "price" | "amount"     => v.asInstanceOf[JBigDecimal].setScale(2)
    case "grid"                 => v.asInstanceOf[Seq[Seq[Int]]].map(_.map(_.toByte))
    case "attrs"                =>
      val m = v.asInstanceOf[Map[String, Any]]
      Seq(m("color"), m.get("size").map(_.asInstanceOf[Int].toByte).getOrElse(null))
    case _                      => v
  }

  def same(got: Any, want: Any): Boolean = (got, want) match {
    case (null, null)                          => true
    case (null, _) | (_, null)                 => false
    case (d: java.sql.Date, w: LocalDate)      => d.toLocalDate == w
    case (t: java.sql.Timestamp, w: Instant)   => t.toInstant == w
    case (d: JBigDecimal, w: JBigDecimal)      => d.compareTo(w) == 0 && d.scale == w.scale
    case (r: Row, w: Seq[_])                   => r.length == w.size && r.toSeq.zip(w).forall((same _).tupled)
    case (m: scala.collection.Map[_, _], w: scala.collection.Map[_, _]) => m == w
    case (g: scala.collection.Seq[_], w: Seq[_]) =>
      g.size == w.size && g.zip(w).forall((same _).tupled)
    case _                                     => got == want
  }

  /** Schema with struct fields sorted by name and nullability dropped. */
  def canonical(t: DataType): String = t match {
    case s: StructType => s.fields.sortBy(_.name).map(f => s"${f.name}:${canonical(f.dataType)}")
      .mkString("struct<", ",", ">")
    case a: ArrayType  => s"array<${canonical(a.elementType)}>"
    case m: MapType    => s"map<${canonical(m.keyType)},${canonical(m.valueType)}>"
    case other         => other.simpleString
  }
}
