package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard rail for pieces written once, in one owner file. The
  * stream-replay pieces that make a Structured Streaming replay
  * exactly-once and observable — the writer, its checkpoint and
  * trigger, the sink-dir sweep and the per-batch telemetry lines —
  * live in [[StreamHarness]]: a new leg that builds its own
  * `writeStream` would fork the harness again (and, with it, the
  * per-stream batch keying). The session builder lives in
  * `graft.Graft`, the one holder of the required confs, for mains and
  * specs alike. A generation's `_SUCCESS` — the commit of every index
  * family — is created only by [[IndexMeta.commitGen]]: the one string
  * literal naming it lives in `IndexMeta.scala`. No operator appends
  * into an existing dir: every index mutation writes a fresh dir that
  * only the header it commits names. Each family's header is encoded,
  * decoded and GC'd only by its [[IndexFamily]] declaration: the one
  * call of [[IndexMeta.deleteUnnamed]] is in `IndexFamily.collect`,
  * and no hand-written header codec is left. */
class StreamHarnessGuardSpec extends AnyFunSuite {

  private val main = Seq("src/main/scala")
  private val ops = Seq("src/main/scala/graft/ops")
  private val mainAndTest = Seq("src/main/scala", "src/test/scala")

  /** Each piece as the code spells it (the telemetry tags with their
    * opening quote, so docs that name a tag do not count), its owner
    * file (None: it must appear nowhere) and the trees scanned. */
  private val pieces = Seq(
    (".writeStream", ".writeStream".r, Some("StreamHarness.scala"), main),
    ("checkpointLocation", "checkpointLocation".r, Some("StreamHarness.scala"), main),
    ("AvailableNow()", """AvailableNow\(""".r, Some("StreamHarness.scala"), main),
    ("the sink-dir sweep", """Files\.walk\(base\)""".r, Some("StreamHarness.scala"), main),
    ("the [stream-batch] emit", "\"\\[stream-batch\\]".r, Some("StreamHarness.scala"), main),
    ("the [stream-census] emit", "\"\\[stream-census\\]".r, Some("StreamHarness.scala"), main),
    ("the session builder", """SparkSession\.builder\(\)""".r, Some("Graft.scala"), mainAndTest),
    ("a generation's _SUCCESS", "_SUCCESS\"".r, Some("IndexMeta.scala"), main),
    ("an append write", """mode\("append"\)""".r, None, ops),
    ("a call of deleteUnnamed", """(?<!def )deleteUnnamed\(""".r, Some("IndexMeta.scala"), main),
    ("a hand-written header codec", """putStrings\(|def toJson|def parse\w*Header""".r, None, ops))

  private def sources(roots: Seq[String]): Seq[Path] = roots.flatMap { r =>
    val root = Paths.get(r)
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("stream writers, checkpoints, triggers, sweeps and batch telemetry live only in StreamHarness") {
    pieces.foreach { case (what, re, owner, roots) =>
      val files = sources(roots).map(p => p -> Files.readString(p))
      val hits = files.flatMap { case (p, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"${p.getFileName}:${i + 1}"
        }
      }
      owner match {
        case Some(o) =>
          assert(files.exists(_._1.getFileName.toString == o), s"$o not found")
          assert(hits.size == 1 && hits.head.startsWith(s"$o:"),
            s"$what must appear exactly once, in $o; found at: ${hits.mkString(", ")}")
        case None =>
          assert(hits.isEmpty, s"$what must appear nowhere under ${roots.mkString(", ")}; " +
            s"found at: ${hits.mkString(", ")}")
      }
    }
  }
}
