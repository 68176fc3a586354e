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
  * literal naming it lives in `IndexMeta.scala`. */
class StreamHarnessGuardSpec extends AnyFunSuite {

  private val main = Seq("src/main/scala")
  private val mainAndTest = Seq("src/main/scala", "src/test/scala")

  /** Each piece as the code spells it (the telemetry tags with their
    * opening quote, so docs that name a tag do not count), its owner
    * file and the trees scanned. */
  private val pieces = Seq(
    (".writeStream", ".writeStream".r, "StreamHarness.scala", main),
    ("checkpointLocation", "checkpointLocation".r, "StreamHarness.scala", main),
    ("AvailableNow()", """AvailableNow\(""".r, "StreamHarness.scala", main),
    ("the sink-dir sweep", """Files\.walk\(base\)""".r, "StreamHarness.scala", main),
    ("the [stream-batch] emit", "\"\\[stream-batch\\]".r, "StreamHarness.scala", main),
    ("the [stream-census] emit", "\"\\[stream-census\\]".r, "StreamHarness.scala", main),
    ("the session builder", """SparkSession\.builder\(\)""".r, "Graft.scala", mainAndTest),
    ("a generation's _SUCCESS", "_SUCCESS\"".r, "IndexMeta.scala", main))

  private def sources(roots: Seq[String]): Seq[Path] = roots.flatMap { r =>
    val root = Paths.get(r)
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("stream writers, checkpoints, triggers, sweeps and batch telemetry live only in StreamHarness") {
    pieces.foreach { case (what, re, owner, roots) =>
      val files = sources(roots).map(p => p -> Files.readString(p))
      assert(files.exists(_._1.getFileName.toString == owner), s"$owner not found")
      val hits = files.flatMap { case (p, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"${p.getFileName}:${i + 1}"
        }
      }
      assert(hits.size == 1 && hits.head.startsWith(s"$owner:"),
        s"$what must appear exactly once, in $owner; found at: ${hits.mkString(", ")}")
    }
  }
}
