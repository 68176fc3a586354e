package graft.ops

import scala.reflect.ClassTag

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonMappingException, ObjectMapper,
  PropertyNamingStrategies}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Index-layout metadata through the Hadoop `FileSystem` API, and the
 * ONE commit protocol of every persistent index family (lex, IVF, PQ
 * sidecar, near-dup store, pretrain state, BM25 stats). Only
 * operations every Hadoop store supports are used: create-file,
 * listStatus, open, recursive delete — no rename anywhere, so the
 * protocol holds unchanged on HDFS and object stores.
 *
 * Generation headers. A family's committed state is one `<name>.gN`
 * generation dir under its root holding a small driver-written JSON
 * `header.json`: the live data it names (segments, table generations,
 * codebook files), the family's small state (scalars, watermarks, the
 * quantizer baseline), and the `applied` batch ids that make a replayed
 * append a no-op (the idempotent sink keyed by batch id of Structured
 * Streaming). [[commitGen]] opens the next generation, lets the caller
 * write its data and build the header, writes the header, then
 * `_SUCCESS`, then deletes the superseded generations. A generation is
 * COMMITTED iff its `_SUCCESS` exists, and [[commitGen]] is the only
 * code that creates one (guard-specced), so:
 *   - a crash before `_SUCCESS` leaves the previous generation live and
 *     the new one invisible, whatever it holds (its header included);
 *   - a crash after it leaves the new generation live and the old one
 *     as debris the next commit sweeps;
 *   - a batch id lands in `applied` atomically with its data: there is
 *     no marker file and no window between "the batch is in" and "the
 *     batch is recorded".
 * Each family with a header is declared once as an [[IndexFamily]],
 * whose `header` reads the live header on the driver with no Spark job.
 * A layout with no header (written before this protocol) is refused
 * with a rebuild message naming the caller; the derived-index cache
 * ([[ensureDerived]]) treats it as not ready and rebuilds.
 *
 * Data that a header names lives beside the generation dirs and is
 * immutable once named: lex, IVF and near-dup segments, IVF codebooks,
 * PQ codes/books, pretrain shard and seen-hash slices, tombstone
 * deltas, and the BPE, BM25 and classifier tables inside their own
 * generation dirs. An append writes a fresh segment, and a delete a
 * fresh `tomb_<gen>` delta ([[commitTombstones]]), that only the
 * header it commits names, so that commit is its one commit point: a
 * crash before it leaves an orphan, invisible and overwritten or swept
 * by the family's next commit. A compaction or rebuild names no delta.
 * Each family deletes what its live header no longer names after the
 * commit ([[IndexFamily.commit]]); nothing is written into a live dir.
 * [[faultHook]] crashes a mutation at each commit point in specs.
 */
private[graft] object IndexMeta {

  def fsFor(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Recursive delete, tolerant of concurrent deleters (two processes
    * may GC the same superseded dir; entries vanishing mid-delete are
    * the expected case). */
  def delete(spark: SparkSession, p: String): Unit =
    try {
      val (fs, path) = fsFor(spark, p)
      fs.delete(path, true)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Atomic create-if-absent empty file — the commit marker
    * [[commitGen]] writes. Returns false if it already existed. */
  def createMarker(spark: SparkSession, p: String): Boolean = {
    val (fs, path) = fsFor(spark, p)
    try { fs.create(path, false).close(); true }
    catch {
      // local FS raises a plain IOException rather than the typed
      // FileAlreadyExistsException — treat either as "lost the race"
      // only when the file is really there, else surface the failure
      case e: java.io.IOException => if (fs.exists(path)) false else throw e
    }
  }

  /** Write a small driver-side file (an index header) in one create;
    * fails if the file exists, so two writers racing on one generation
    * cannot both succeed. Parent dirs are created as needed. */
  def writeSmallFile(spark: SparkSession, p: String, bytes: Array[Byte]): Unit = {
    val (fs, path) = fsFor(spark, p)
    val out = fs.create(path, false)
    try out.write(bytes) finally out.close()
  }

  /** The whole content of a small driver-side file, or None if absent. */
  def readSmallFile(spark: SparkSession, p: String): Option[Array[Byte]] = {
    val (fs, path) = fsFor(spark, p)
    val in = try fs.open(path) catch { case _: java.io.FileNotFoundException => null }
    if (in == null) None
    else try Some(in.readAllBytes()) finally in.close()
  }

  /** Non-recursive children of a dir; empty if absent. */
  def list(spark: SparkSession, p: String): Seq[FileStatus] = {
    val (fs, path) = fsFor(spark, p)
    if (!fs.exists(path)) Seq.empty else fs.listStatus(path).toSeq
  }

  /** The files with `suffix` under `p`, recursively. */
  private def filesUnder(spark: SparkSession, p: String, suffix: String): Seq[FileStatus] = {
    val (fs, path) = fsFor(spark, p)
    val it = fs.listFiles(path, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(suffix)).toSeq
  }

  /** Total bytes of files with `suffix` under `p`, recursively. */
  def bytesUnder(spark: SparkSession, p: String, suffix: String): Long =
    filesUnder(spark, p, suffix).map(_.getLen).sum

  /** Count of files with `suffix` under `p`, recursively. */
  def countUnder(spark: SparkSession, p: String, suffix: String): Long =
    filesUnder(spark, p, suffix).size.toLong

  /** Delete every entry of `dir` whose name starts with one of
    * `prefixes` and is not in `keep` — the GC of what a committed
    * header no longer names (superseded data and crash orphans; a
    * single-writer maintenance step, run after the commit). */
  private[ops] def deleteUnnamed(spark: SparkSession, dir: String, prefixes: Seq[String],
                    keep: Set[String]): Unit = {
    val victims = list(spark, dir).map(_.getPath).filter { p =>
      prefixes.exists(p.getName.startsWith) && !keep(p.getName)
    }
    deleteFaulting(spark, victims.map(_.toString), "unnamed")
  }

  /** Test-only crash injection, called with each [[faultPoints]] name
    * as a mutation passes it: `body` (the generation's data written),
    * `header`, `success` (`_SUCCESS` written), `gc` (midway through
    * deleting superseded generations), `unnamed` (midway through
    * [[deleteUnnamed]]). Only specs set it, to throw at one point. */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  private[graft] val faultPoints = Seq("body", "header", "success", "gc", "unnamed")

  /** Delete `paths`, passing the fault point `point` halfway through. */
  private def deleteFaulting(spark: SparkSession, paths: Seq[String], point: String): Unit = {
    val (first, rest) = paths.splitAt(paths.size / 2)
    first.foreach(delete(spark, _))
    faultHook(point)
    rest.foreach(delete(spark, _))
  }

  // ------------------------------------------ table generations

  private val Committed = "_SUCCESS"

  def genName(table: String, i: Int): String = f"$table.g$i%05d"

  /** All generation dirs of `table` (committed or not). */
  private def gens(spark: SparkSession, indexDir: String,
      table: String): Seq[(Int, FileStatus)] = {
    val prefix = s"$table.g"
    list(spark, indexDir).flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(prefix))
        n.stripPrefix(prefix).toIntOption.map(_ -> st)
      else None
    }
  }

  /** Max COMMITTED generation of `table` (has `_SUCCESS`), if any. */
  def liveGen(spark: SparkSession, indexDir: String, table: String): Option[Path] = {
    val (fs, _) = fsFor(spark, indexDir)
    gens(spark, indexDir, table)
      .filter { case (_, st) => fs.exists(new Path(st.getPath, Committed)) }
      .sortBy(-_._1).headOption.map(_._2.getPath)
  }

  /** The live `<name>` generation dir under `dir`, refused like
    * [[header]] when there is none — for families whose generation
    * holds its tables and whose header is empty (BPE, BM25 stats, the
    * quality classifier). */
  def liveDir(spark: SparkSession, dir: String, name: String, what: String,
              rebuild: String): String =
    liveGen(spark, dir, name).getOrElse(noCommittedGen(dir, name, what, rebuild)).toString

  /** Path for the NEXT generation of `table` (max existing + 1,
    * committed or not — an uncommitted crash leftover must not be
    * overwritten while a concurrent writer could still be filling it).
    * Also returns every existing gen dir to delete after commit. */
  def nextGen(spark: SparkSession, indexDir: String,
      table: String): (String, Seq[String]) = {
    val all = gens(spark, indexDir, table)
    val next = new Path(new Path(indexDir),
      genName(table, all.map(_._1).maxOption.getOrElse(-1) + 1))
    (next.toString, all.map(_._2.getPath.toString))
  }

  // ------------------------------------------ generation headers

  private val HeaderFile = "header.json"

  /** The one header codec: a case class to and from its JSON, with
    * snake_case field names. An absent `Option` is omitted and reads as
    * None, an absent `Seq` reads as empty, an absent number is refused,
    * and an unknown field is ignored (a family's `needs` judge whether
    * a header is of its current layout). An absent string reads as
    * null, which [[decode]] refuses by name. */
  private val snakeCase = new PropertyNamingStrategies.SnakeCaseStrategy()
  private lazy val json = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(snakeCase)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)
    .enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)

  def newHeader(): ObjectNode = json.createObjectNode()

  /** A header's bytes as [[commitGen]] writes them. */
  private[graft] def encode(h: Any): Array[Byte] = json.writeValueAsBytes(h)

  /** Commit the next `<name>.gN` generation under `dir`. `body` gets
    * the new generation's path, writes whatever data the generation
    * needs (inside it or beside it) and returns the header; the header
    * lands, then `_SUCCESS`, then every superseded `<name>.g*` is
    * deleted. Returns the committed header. */
  def commitGen[H](spark: SparkSession, dir: String, name: String)(body: String => H): H = {
    val (g, old) = nextGen(spark, dir, name)
    val h = body(g)
    faultHook("body")
    writeSmallFile(spark, s"$g/$HeaderFile", encode(h))
    faultHook("header")
    createMarker(spark, s"$g/$Committed")
    faultHook("success")
    deleteFaulting(spark, old, "gc")
    h
  }

  // ------------------------------------------ tombstone deltas

  /** The union of the tombstone deltas `named` under `dir` (one id
    * column, distinct across deltas), or None — a reader's anti-join. */
  def tombstones(spark: SparkSession, dir: String, named: Seq[String]): Option[DataFrame] =
    if (named.isEmpty) None
    else Some(Relational.cachedSchemaParquet(spark, named.map(t => s"$dir/$t")))

  /** A delete of `ids` (one id column) from a family whose header names
    * the deltas `named` under `dir`: the ids no delta holds yet land in
    * one new delta. `commit` runs the family's commit and calls the
    * writer it is handed, inside its body, with the new generation's
    * path; the writer writes `tomb_<gen>` under `dir` and returns the
    * name the header adds. Re-deletes (takedown retries) do not grow the
    * deltas, and a delete with no novel id commits nothing. */
  def commitTombstones(spark: SparkSession, dir: String, named: Seq[String], ids: DataFrame)
                      (commit: (String => String) => Unit): Unit = {
    val asked = ids.distinct()
    val novel = tombstones(spark, dir, named)
      .fold(asked)(t => asked.join(t, asked.columns.toSeq, "left_anti"))
      .localCheckpoint() // tiny; one eval for the guard AND the write
    if (!novel.isEmpty) commit { g =>
      val delta = s"tomb_${new Path(g).getName}"
      Relational.writeParquet(novel.coalesce(1), s"$dir/$delta")
      delta
    }
  }

  /** The refusal of a header read when `dir` has no committed `<name>`. */
  def noCommittedGen(dir: String, name: String, what: String, rebuild: String): Nothing =
    sys.error(s"no committed $name generation under $dir — $what cannot use it: not " +
      s"an index of this kind or a build that crashed before its commit; $rebuild")

  /** The header of generation `g` as `cls` — one small-file read on the
    * driver, no Spark job. A generation without a header (a layout from
    * before this protocol) is refused naming `what` (the caller) and
    * `rebuild` (how to get a current layout); so is a header without
    * one of the `needs` fields (an older layout of the family), and one
    * without a field `cls` cannot default, by that field's name. */
  private[ops] def decode[H <: Product](spark: SparkSession, g: String, cls: Class[H],
      what: String, rebuild: String, needs: Seq[String]): H = {
    val tree = readSmallFile(spark, s"$g/$HeaderFile") match {
      case Some(bytes) => json.readTree(bytes)
      case None => sys.error(
        s"generation $g predates the header layout — $what cannot use it; $rebuild")
    }
    needs.find(f => !tree.has(f)).foreach(f => sys.error(
      s"generation $g has a header of an older layout (no `$f` field) — $what cannot use it; $rebuild"))
    def noField(f: String): Nothing = sys.error(
      s"generation $g has a header with no `$f` field — $what cannot use it; $rebuild")
    val h = try json.treeToValue(tree, cls) catch {
      case e: JsonMappingException if e.getPath.size == 1 => noField(e.getPath.get(0).getFieldName)
    }
    h.productElementNames.zip(h.productIterator).collectFirst { case (f, null) => f }
      .foreach(f => noField(snakeCase.translate(f)))
    h
  }

  /** The derived-index cache key: a hash of every file's (name, length,
    * mtime) under `sourceDir` and of the family's `layout`. */
  private[graft] def fingerprint(spark: SparkSession, sourceDir: String, layout: Seq[String]): String =
    (list(spark, sourceDir).filter(_.isFile)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted ++ layout).mkString("|").hashCode.toHexString

  /** Fingerprint-keyed derived-index cache under `graft.index.root`
    * (default java.io.tmpdir): the index is a pure function of the
    * source files, so same (name, length, mtime) set ⇒ same index and
    * repeated wrapper calls (bench run1/run2, sweeps) rebuild nothing.
    * The family's `needs` — the header fields of its current layout —
    * are part of the fingerprint, so a layout change is a stale
    * fingerprint whose dirs the GC below reclaims. A cached dir is READY
    * when the family's header reader accepts it: it has a live header
    * (the last thing a build commits) of the layout this code writes. A
    * half-built or crashed dir, a layout from before the header
    * protocol, or a header of any other layout is never served and gets
    * rebuilt. Concurrent builders each write their own appId-suffixed
    * dir; readers take any ready one; every dir of a stale fingerprint
    * of the same prefix, ready or not, is GC'd after a successful
    * build. Shared by the IVF, RAG-chunk, and lexical index wrappers. */
  def ensureDerived(spark: SparkSession, sourceDir: String, prefix: String,
                    family: IndexFamily[_])(build: String => Unit): String = {
    def ready(p: String) = scala.util.Try(family.header(spark, p, "the index cache")).isSuccess
    val fp = fingerprint(spark, sourceDir, family.needs)
    val tmpRoot = spark.conf.getOption("graft.index.root")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    // a cache dir is named `<prefix><hex fp>_<app id>`, the app id with
    // `_` made `-`: a dir of another corpus whose key merely starts with
    // this one (`<key>_2_…`) then never parses as one of this prefix
    val cacheDir = (java.util.regex.Pattern.quote(prefix) + "([0-9a-f]+)_[^_]+").r
    val dirs = list(spark, tmpRoot).flatMap { st =>
      st.getPath.getName match {
        case cacheDir(f) => Some(f -> st.getPath.toString)
        case _ => None
      }
    }
    dirs.collect { case (`fp`, p) => p }.sorted.find(ready).getOrElse {
      val mine = s"$tmpRoot/$prefix${fp}_${spark.sparkContext.applicationId.replace('_', '-')}"
      build(mine)
      // a dir of another fingerprint is garbage whether or not it is
      // ready — its corpus changed, so nothing serves it again (stale
      // builds, crashed ones, layouts the reader refuses). Unready dirs
      // of THIS fingerprint may be concurrent builds and stay.
      dirs.collect { case (f, p) if f != fp => p }.foreach(delete(spark, _))
      mine
    }
  }
}

/** One index family's declaration, and the only code that encodes,
  * decodes, commits or GCs its header `H` (a case class, through the
  * one codec of [[IndexMeta]]): the generation `name`, the `rebuild`
  * message of every refusal, the `needs` fields that mark the current
  * header layout (also the layout part of the family's
  * [[IndexMeta.ensureDerived]] fingerprint), and the `gc` rule — per
  * subdir of the family root, the name prefixes the family owns and the
  * names a header keeps. */
private[graft] final class IndexFamily[H <: Product](val name: String, val rebuild: String,
    val needs: Seq[String], gc: Seq[IndexFamily.Gc[H]])(implicit cls: ClassTag[H]) {

  /** The live header under `dir`, refused naming `what` (the caller)
    * when there is none or it is of another layout. */
  def header(spark: SparkSession, dir: String, what: String): H =
    headerOpt(spark, dir, what).getOrElse(IndexMeta.noCommittedGen(dir, name, what, rebuild))

  /** [[header]] for a family that may not exist yet: None when `dir`
    * has no committed generation (a header-less one is still refused). */
  def headerOpt(spark: SparkSession, dir: String, what: String): Option[H] =
    IndexMeta.liveGen(spark, dir, name).map(g => headerAt(spark, g.toString, what))

  /** The header of generation dir `g`, committed or not. */
  def headerAt(spark: SparkSession, g: String, what: String): H =
    IndexMeta.decode(spark, g, cls.runtimeClass.asInstanceOf[Class[H]], what, rebuild, needs)

  /** Commit the family's next generation under `dir` through
    * [[IndexMeta.commitGen]] (`body` gets the generation's path, writes
    * its data and returns the header), then [[collect]]. */
  def commit(spark: SparkSession, dir: String)(body: String => H): H = {
    val h = IndexMeta.commitGen(spark, dir, name)(body)
    collect(spark, dir, h)
    h
  }

  /** Delete every entry under `dir` of the family's prefixes that `h`
    * does not name: superseded data, retired deltas and orphans of
    * crashed mutations (single-writer maintenance, run after a commit). */
  def collect(spark: SparkSession, dir: String, h: H): Unit = gc.foreach { r =>
    IndexMeta.deleteUnnamed(spark, if (r.subdir.isEmpty) dir else s"$dir/${r.subdir}",
      r.prefixes, r.keep(h).toSet)
  }
}

private[graft] object IndexFamily {
  /** The GC rule of one subdir (`""`: the family root). */
  final case class Gc[H](subdir: String, prefixes: Seq[String], keep: H => Iterable[String])
}
