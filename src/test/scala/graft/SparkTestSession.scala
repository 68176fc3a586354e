package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate is idempotent;
  * forked test JVM shuts it down at exit). Fixed at four cores and no
  * extra confs: the environment a main reads does not reach the specs.
  * Every temp dir a spec makes lives under one per-JVM root, deleted
  * with all it holds when the JVM exits. */
object SparkTestSession {
  lazy val spark: SparkSession = Graft.local("graft-test", 4, Nil)

  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-spec-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh dir named `prefix…` under the per-JVM temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tempDir(prefix: String): Path = SparkTestSession.tempDir(prefix)
}
