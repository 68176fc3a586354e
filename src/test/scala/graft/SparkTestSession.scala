package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate is idempotent;
  * forked test JVM shuts it down at exit). Fixed at four cores and no
  * extra confs: the environment a main reads does not reach the specs. */
object SparkTestSession {
  lazy val spark: SparkSession = Graft.local("graft-test", 4, Nil)
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.spark
}
