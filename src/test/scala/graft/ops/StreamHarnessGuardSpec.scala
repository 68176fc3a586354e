package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard rail for the one stream-replay harness: the pieces that make a
  * Structured Streaming replay exactly-once and observable — the writer,
  * its checkpoint and trigger, the sink-dir sweep and the per-batch
  * telemetry lines — are written once, in [[StreamHarness]]. A new leg
  * that builds its own `writeStream` would fork the harness again (and,
  * with it, the per-stream batch keying), so this scan of `src/main`
  * fails on any of them outside StreamHarness.scala. */
class StreamHarnessGuardSpec extends AnyFunSuite {

  private val harness = "StreamHarness.scala"

  /** Each piece, as the code spells it (the telemetry tags with their
    * opening quote, so docs that name a tag do not count). */
  private val pieces = Seq(
    ".writeStream" -> ".writeStream".r,
    "checkpointLocation" -> "checkpointLocation".r,
    "AvailableNow()" -> """AvailableNow\(""".r,
    "the sink-dir sweep" -> """Files\.walk\(base\)""".r,
    "the [stream-batch] emit" -> "\"\\[stream-batch\\]".r,
    "the [stream-census] emit" -> "\"\\[stream-census\\]".r)

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("stream writers, checkpoints, triggers, sweeps and batch telemetry live only in StreamHarness") {
    val files = sources.map(p => p -> Files.readString(p))
    assert(files.exists(_._1.getFileName.toString == harness), s"$harness not found")
    pieces.foreach { case (what, re) =>
      val hits = files.flatMap { case (p, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"${p.getFileName}:${i + 1}"
        }
      }
      assert(hits.size == 1 && hits.head.startsWith(s"$harness:"),
        s"$what must appear exactly once, in $harness; found at: ${hits.mkString(", ")}")
    }
  }
}
