package graft

/** Benchmark main — runs the BASELINE.md headline queries (B3 Q1-like
  * agg, B5 5-way join, B8 top-k, A2 ORC roundtrip, C3 cosine top-k)
  * against SPARK_GRAFT_SF_DIR and prints one JSON line. Results are
  * fully materialized through the noop sink (count() would let Spark
  * prune aggregation payloads).
  *
  * METHOD (round-14, verdict item 5 — the suite_isolated treatment):
  * by default each headline query runs in its OWN child JVM (fresh
  * JIT/GC/page-cache state — the standing bench ran minutes after the
  * full test suite on the same box and drifted +36%/+13% two rounds
  * running on identical code), behind an IDLE-BOX GUARD (wait until
  * the 1-min load average drops below SPARK_GRAFT_BENCH_MAXLOAD,
  * default 8, up to 240 s) with min-of-SPARK_GRAFT_BENCH_RUNS (3)
  * inside each child. The emitted JSON carries the method and the
  * load it started at, so the artifact is its own evidence.
  * SPARK_GRAFT_BENCH_ISOLATED=0 restores the single-JVM in-process
  * path (used by the children themselves and by scale rehearsals that
  * bench generated corpora in a warm session). */
object Bench {
  private val headline = Seq(
    "b3_agg_group", "b5_join_multi", "b8_topk", "a2_roundtrip", "c3_sim_topk")

  /** comma-separated override, e.g. scale rehearsals benching the dedup
    * pipeline queries on generated sf1 data */
  private def querySet: Seq[String] =
    sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)

  def main(args: Array[String]): Unit =
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED", "1") == "1") isolatedMain()
    else inProcessMain()

  // ------------------------------------------ isolated (the method)

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Idle-box guard: refuse to START a measurement on a loaded box —
    * poll the 1-min load average until it falls below the threshold or
    * the timeout passes (then proceed and record the load: a number
    * taken on a busy box is flagged, not silently trusted). */
  private def awaitIdle(maxLoad: Double, timeoutSec: Int = 240): Double = {
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    var l = loadAvg
    while (l > maxLoad && System.nanoTime() < deadline) {
      System.err.println(f"[bench] load $l%.1f > $maxLoad%.1f — waiting for idle box")
      Thread.sleep(5000)
      l = loadAvg
    }
    l
  }

  private def isolatedMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "8").toDouble
    val jvm = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val xmx = s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"
    val startLoad = awaitIdle(maxLoad)
    var fallbacks = List.empty[String]

    /** One fresh-JVM child: run query `name` against `dataDir`, parse
      * its per-query seconds; on child death fall back in-process. */
    def runChild(name: String, dataDir: String, recordAs: String): (String, Double) = {
      val childOut = java.nio.file.Files.createTempFile("graft_bench_", ".json")
      awaitIdle(maxLoad)
      val cmd = (Seq(jvm) ++ jdk17AddOpens ++ Seq(xmx, "-cp", cp, "graft.Bench")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_ISOLATED", "0")
      pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", name)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", childOut.toString)
      pb.environment().put("SPARK_GRAFT_SF_DIR", dataDir)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(
        java.nio.file.Files.createTempFile(s"graft_bench_${recordAs}_", ".log").toFile))
      val code = pb.start().waitFor()
      val sec =
        if (code == 0 && java.nio.file.Files.size(childOut) > 0) {
          // the child's single-query JSON: {"metric":…,"queries":{"<name>":N},…}
          val line = java.nio.file.Files.readString(childOut)
          val m = s""""$name":([0-9.Ee+-]+)""".r.findFirstMatchIn(line)
          m.map(_.group(1).toDouble)
        } else None
      sec match {
        case Some(s) => recordAs -> s
        case None =>
          // a child that died measures nothing — say so loudly and fall
          // back to an in-process run rather than fabricating a number
          System.err.println(s"[bench] isolated child for $recordAs failed " +
            s"(exit $code) — falling back to in-process")
          fallbacks ::= recordAs
          recordAs -> runInProcess(Seq(name), dataDir).head._2
      }
    }

    val results = querySet.map(name => runChild(name, sfDir, name))
    // SCALING LEG (round-15, verdict item 1): every sf0.1 table is ONE
    // parquet file with ONE row group, so scans are single-task at ANY
    // core count and the driver's low-core/high-core ratio measures JVM
    // overhead, not parallelism. Generate a multi-file 10× layout
    // (MakeScale — re-keyed copies, facts split into ≥32 files) fresh
    // per invocation (untimed; no state persists across bench runs) and
    // time the same five queries against it as ADDED `_sf1` entries, so
    // the ratio has a real signal to measure. `value` stays the sum of
    // the original headline five (comparable round-over-round); the
    // sf1 entries ride in `queries` + their own `sf1_total`.
    val sf1Results: Seq[(String, Double)] =
      if (querySet != headline ||
          sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING", "1") != "1") Seq.empty
      else makeScaleLeg(jvm, cp, xmx) match {
        case None => Seq.empty
        case Some(sf1Dir) =>
          val r = querySet.map(name => runChild(name, sf1Dir, s"${name}_sf1"))
          // reclaim the generated data and a2's ORC output keyed on it
          deleteRecursively(new java.io.File(sf1Dir))
          deleteRecursively(new java.io.File(
            s"${System.getProperty("java.io.tmpdir")}/graft_a2_${sf1Dir.replaceAll("[^a-zA-Z0-9]", "_")}"))
          r
      }
    // the artifact must not claim fresh-JVM numbers for queries that
    // actually ran warm in-process — name the fallbacks in the JSON
    val fb = if (fallbacks.isEmpty) ""
      else fallbacks.reverse.map(q => s""""$q"""")
        .mkString(""","in_process_fallback":[""", ",", "]")
    val sf1Total = if (sf1Results.isEmpty) ""
      else s""","sf1_total":${sf1Results.map(_._2).sum}"""
    emit(results, sf1Results, sfDir,
      f""","method":"isolated_jvm","load_at_start":$startLoad%.2f""" + sf1Total + fb)
  }

  /** Generate the 10× multi-file scaling fixture into a fresh temp dir
    * (a MakeScale child JVM, untimed — only the tables the headline
    * five read). Returns None (and the headline bench proceeds
    * unharmed) if generation fails. */
  private def makeScaleLeg(jvm: String, cp: String, xmx: String): Option[String] = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = java.nio.file.Files.createTempDirectory("graft_bench_sf1_").toString
    val cmd = (Seq(jvm) ++ jdk17AddOpens ++ Seq(xmx, "-cp", cp, "graft.tools.MakeScale",
      sfDir, dst, "10", "lineitem,orders,customer,nation,region,embeddings")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(
      java.nio.file.Files.createTempFile("graft_bench_makescale_", ".log").toFile))
    val t0 = System.nanoTime()
    val code = pb.start().waitFor()
    if (code == 0) {
      System.err.println(f"[bench] sf1 scaling fixture generated in ${(System.nanoTime() - t0) / 1e9}%.1f s at $dst")
      Some(dst)
    } else {
      System.err.println(s"[bench] MakeScale child failed (exit $code) — skipping the sf1 scaling leg")
      deleteRecursively(new java.io.File(dst))
      None
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  // ------------------------------------------ in-process (children)

  private def inProcessMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emit(runInProcess(querySet, sfDir), Seq.empty, sfDir, "")
  }

  private def runInProcess(queries: Seq[String], sfDir: String): Seq[(String, Double)] = {
    val spark = Graft.local("graft-bench")
    // untimed warmup: JIT/codegen + parquet footer cache, so per-query
    // numbers measure execution rather than first-touch JVM costs.
    // Routed through Relational.table so the schema memo (round-14) is
    // warm for the first timed run too, matching steady-state serving.
    graft.ops.Relational.table(spark, sfDir, "lineitem").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1))).write.format("noop").mode("overwrite").save()
    // min of three runs per query: background-load noise on a shared box
    // swings single runs ±2× (round-2's driver run read 7.0s total where
    // an idle box measures 4.8-5.4s); the min tracks the query's actual cost
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val results = queries.map { name =>
      val fn = SparkEntry.queries(name)
      // untimed warmup of THE QUERY ITSELF (round-15, verdict item 2):
      // the lineitem warmup above leaves a fresh child JVM colder for
      // queries over other tables (b8/c3 read orders/embeddings) than
      // fifth-in-line in the old shared-JVM method was — their first
      // run pays their own operators' codegen/JIT, and on a sub-350 ms
      // query that first-touch cost is bigger than the query. One
      // untimed run makes every child equally warm before min-of-N.
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name warmup failed: $e") }
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    spark.stop()
    results
  }

  /** `value` is the sum of `results` ONLY — the headline five, the
    * series every prior round's total is comparable to. The `sf1Extra`
    * scaling-leg entries ride in `queries` (added keys, allowed by the
    * driver contract) so the low-core run's per-query ratios have a
    * multi-file scan to measure, but they do not inflate the total.
    * `cpus`/`master` are emitted so the artifact can prove which core
    * count it ran at (round-14 `suspect_cpus_ignored` was raised
    * against a bench that honors $SPARK_GRAFT_CPUS but didn't say so). */
  private def emit(results: Seq[(String, Double)], sf1Extra: Seq[(String, Double)],
                   sfDir: String, extra: String): Unit = {
    val qs = (results ++ sf1Extra).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cpus = Graft.cpus
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"master":"local[$cpus]"$extra}"""
    // stdout gets buried in sbt log noise (BENCH_r01 parsed: null) — also
    // write the line to a file the driver / later rounds can load directly
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
  }
}
