package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
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
 * [[header]] reads the live header on the driver with no Spark job.
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
 * commit; nothing is written into a live dir. [[faultHook]] crashes a
 * mutation at each commit point in specs.
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
  def deleteUnnamed(spark: SparkSession, dir: String, prefixes: Seq[String],
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
  private lazy val json = new ObjectMapper()

  def newHeader(): ObjectNode = json.createObjectNode()

  /** Commit the next `<name>.gN` generation under `dir`. `body` gets
    * the new generation's path, writes whatever data the generation
    * needs (inside it or beside it) and returns the header; the header
    * lands, then `_SUCCESS`, then every superseded `<name>.g*` is
    * deleted. Returns the committed header. */
  def commitGen(spark: SparkSession, dir: String, name: String)
               (body: String => ObjectNode): ObjectNode = {
    val (g, old) = nextGen(spark, dir, name)
    val h = body(g)
    faultHook("body")
    writeSmallFile(spark, s"$g/$HeaderFile", json.writeValueAsBytes(h))
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

  /** The header of the live `<name>` generation under `dir` — one
    * small-file read on the driver, no Spark job. No committed
    * generation, or one without a header (a layout from before this
    * protocol), is refused naming `what` (the caller) and `rebuild`
    * (how to get a current layout). A header without one of the
    * `needs` fields is of an older layout of the family and is refused
    * the same way. */
  def header(spark: SparkSession, dir: String, name: String, what: String,
             rebuild: String = "rebuild the index", needs: Seq[String] = Nil): ObjectNode =
    headerOpt(spark, dir, name, what, rebuild, needs)
      .getOrElse(noCommittedGen(dir, name, what, rebuild))

  /** [[header]] for a family that may not exist yet: None when `dir`
    * has no committed `<name>` generation (a header-less one is still
    * refused). */
  def headerOpt(spark: SparkSession, dir: String, name: String, what: String,
                rebuild: String, needs: Seq[String] = Nil): Option[ObjectNode] =
    liveGen(spark, dir, name).map(g => headerAt(spark, g.toString, what, rebuild, needs))

  /** The refusal of [[header]] when `dir` has no committed `<name>`. */
  def noCommittedGen(dir: String, name: String, what: String, rebuild: String): Nothing =
    sys.error(s"no committed $name generation under $dir — $what cannot use it: not " +
      s"an index of this kind or a build that crashed before its commit; $rebuild")

  /** The header of generation `g` (see [[header]]). */
  def headerAt(spark: SparkSession, g: String, what: String, rebuild: String,
               needs: Seq[String] = Nil): ObjectNode = {
    val h = readSmallFile(spark, s"$g/$HeaderFile") match {
      case Some(bytes) => json.readTree(bytes).asInstanceOf[ObjectNode]
      case None => sys.error(
        s"generation $g predates the header layout — $what cannot use it; $rebuild")
    }
    needs.find(f => !h.has(f)).foreach(f => sys.error(
      s"generation $g has a header of an older layout (no `$f` field) — $what cannot use it; $rebuild"))
    h
  }

  /** Field `f` of a header, refused by name when absent. */
  def field(h: ObjectNode, f: String): JsonNode =
    Option(h.get(f)).getOrElse(sys.error(s"index generation header has no `$f` field"))

  /** String-array field `f` of a header (empty when absent). */
  def strings(h: ObjectNode, f: String): Seq[String] =
    Option(h.get(f)).toSeq.flatMap(a => (0 until a.size).map(a.get(_).asText))

  /** Set string-array field `f` of a header; returns the header. */
  def putStrings(h: ObjectNode, f: String, xs: Iterable[String]): ObjectNode = {
    val a = h.putArray(f)
    xs.foreach(x => a.add(x))
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
    * `layout` — the header fields the family's reader needs — is part
    * of the fingerprint, so a layout change is a stale fingerprint whose
    * dirs the GC below reclaims. A cached dir is READY when `readHeader` —
    * the family's header reader — accepts it: it has a live header (the
    * last thing a build commits) of the layout this code writes. A
    * half-built or crashed dir, a layout from before the header
    * protocol, or a header of any other layout is never served and gets
    * rebuilt. Concurrent builders each write their own appId-suffixed
    * dir; readers take any ready one; every dir of a stale fingerprint
    * of the same prefix, ready or not, is GC'd after a successful
    * build. Shared by the IVF, RAG-chunk, and lexical index wrappers. */
  def ensureDerived(spark: SparkSession, sourceDir: String, prefix: String, layout: Seq[String])
                   (readHeader: String => Any)(build: String => Unit): String = {
    def ready(p: String) = scala.util.Try(readHeader(p)).isSuccess
    val fp = fingerprint(spark, sourceDir, layout)
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
