package graft.tools

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class KeyProfileSpec extends AnyFunSuite with SparkTestSession {

  private def profile(dir: String, explainDir: Path): Seq[String] = {
    val records = collection.mutable.ArrayBuffer.empty[String]
    KeyProfile.run(spark, Seq(dir), 1, Seq("b3_agg_group"), Some(explainDir))(records += _)
    records.toSeq
  }

  test("KeyProfile records every layer and the plan, and records a failed construction") {
    val okDir = Files.createTempDirectory("graft_key_profile_")
    val Seq(ok) = profile("/root/testdata/sf0.001", okDir)
    Seq("dir", "key", "rep", "construct_s", "plan_s", "exec_s", "construct_jobs",
        "exec_jobs", "construct_sites").foreach { f =>
      assert(ok.contains(s""""$f":"""), s"no $f in $ok")
    }
    assert(!ok.contains(""""error":"""), ok)
    val execJobs = """"exec_jobs":(\d+)""".r.findFirstMatchIn(ok).get.group(1).toInt
    assert(execJobs > 0, ok)
    assert(Files.readString(okDir.resolve("b3_agg_group.txt")).contains("Physical Plan"))

    val failDir = Files.createTempDirectory("graft_key_profile_fail_")
    val missing = failDir.resolve("no_such_dir").toString
    val Seq(failed) = profile(missing, failDir)
    assert(failed.contains(s""""dir":"$missing"""") && failed.contains(""""error":"""), failed)
    assert(Files.readString(failDir.resolve("b3_agg_group.txt")).startsWith("CONSTRUCTION FAILED"))
  }
}
