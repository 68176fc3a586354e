package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/**
 * Tier B — the relational query surface (SURVEY §2 Tier B): the Athena
 * role of the reference's stack (`/root/reference/README.md:3`),
 * supplied natively as Spark built-ins. Each op is a declarative
 * DataFrame program — Catalyst provides pushdown/pruning/join-selection;
 * we add only the hints Catalyst can't know (tiny fixed-size dims are
 * always broadcast; money aggregations go through exact scaled-long sums so
 * results are order-independent and engine-portable, SURVEY §2.4).
 */
object Relational {

  /** Read a testdata table. When `graft.catalog.statsDir` names this
    * dir (set by [[graft.tools.TableStats.register]], which ANALYZEd
    * the same parquet files as catalog tables), resolve through the
    * catalog instead — the relation then carries row-count/column
    * stats and CBO prices filters per-relation, which is what lets a
    * filtered dim list broadcast at sf100 without a static threshold
    * posture. Otherwise a parquet read of the same files, through the
    * schema memo below (round-14 optimization). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else if (spark.conf.getOption("graft.catalog.statsDir").contains(dir) &&
             spark.catalog.tableExists(name)) spark.table(name)
    else cachedSchemaParquet(spark, s"$dir/$name.parquet")

  /** Schema-memoized parquet read. A bare `spark.read.parquet(path)`
    * re-infers the schema on EVERY DataFrame construction, and parquet
    * inference is a footer-reading Spark JOB (`mergeSchemasInParallel`)
    * — measured ~80 ms per table per construction on local[32]
    * (OPTIMIZATION_r14.md: 0.40 s vs 0.04 s for the 5 b5 tables), and at
    * 100 TB a footer sample over a multi-million-file table, re-paid
    * per query. Production fixes this with catalog tables (the
    * statsDir branch above); this memo gives the bare-path read the
    * same property. It holds one entry PER PATH: (conf posture, path)
    * → (listing signature, schema). A read constructs with the
    * explicit schema — `spark.read.schema(s)` skips inference entirely
    * — once every path it names has an entry whose signature matches
    * the path's current listing and those schemas agree; a path
    * without one is inferred alone and recorded. So a multi-path read
    * (the lex segment union) runs no job once each member is known, a
    * member added or rewritten costs one inference of that member
    * only, and members that disagree fall back to one plain read of
    * them all. The signature (name/mtime/len of every file)
    * revalidates against rewrites, so a regenerated fixture at the
    * same path re-infers. Entries come from inference or from
    * [[writeParquet]], which records what a write put down; either
    * way an entry is exactly what inference returns for the path, so
    * the constructed relation is the uncached read's (plan ReadSchema
    * diffed — identical). Metadata caching only: no rows, no results. */
  /** Bounded LRU (round-15, round-14 advice): the former clear-all at
    * 8192 entries made every live path re-pay one inference job
    * simultaneously (thundering re-inference in a long-lived service),
    * and the size-check/put pair was racy. An access-ordered
    * LinkedHashMap evicts only the coldest entry, under one lock —
    * lookups are ns-scale against the ~80 ms inference they save. */
  private[ops] var schemaMemoMax = 8192 // var: the eviction spec shrinks it
  /** Test seam: the eviction spec needs a deterministic starting state
    * (costs the next construction per live path one re-inference). */
  private[ops] def schemaMemoClear(): Unit = schemaMemo.clear()
  private val schemaMemo: java.util.Map[String, (Long, StructType)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, StructType)](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, StructType)]): Boolean =
          size() > schemaMemoMax
      })

  /** Confs that change what parquet inference RETURNS (round-14 advice:
    * the key carried only the two timestamp confs, so two sessions in
    * one JVM with differing case-sensitivity/binary/int96/mergeSchema
    * postures would share stale entries through the JVM-global memo).
    * `getOption` resolves registered SQL confs to their effective value
    * (set or default), so the key captures the posture, not just
    * explicit sets. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** The listing-signature revalidation contract (name/mtime/len of
    * direct children) relies on POSIX/HDFS directory-mtime semantics —
    * an append into a child dir bumps its mtime. Object-store
    * filesystems (S3A reports directory mtime 0) would silently skip
    * revalidation, so unknown schemes BYPASS the memo entirely (every
    * construction re-infers — strictly correct, just unmemoized) and
    * say so once per scheme (round-14 advice: fail loud, not silent). */
  private val mtimeSchemes = Set("file", "hdfs", "viewfs")
  private val warnedSchemes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def memoizableScheme(spark: SparkSession, path: String): Boolean = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val scheme = Option(uri.getScheme).getOrElse(Option(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(
        spark.sparkContext.hadoopConfiguration).getScheme).getOrElse("file"))
    val ok = mtimeSchemes(scheme)
    if (!ok && warnedSchemes.add(scheme))
      System.err.println(s"[schema-memo] scheme '$scheme' does not propagate " +
        "directory mtimes — bypassing the schema memo (every construction " +
        "re-infers); register it in Relational.mtimeSchemes if it does")
    ok
  }

  /** Signature of a dir's DIRECT children (name/mtime/len). One level
    * is sufficient for every layout this repo reads through the memo:
    * flat appends add a direct child; a `partitionBy("cell")` append
    * bumps the touched cell dir's mtime (visible in the parent's
    * listStatus); and the only TWO-level layout (the c25b
    * shard/part tree) is always written whole into a fresh dir —
    * audited round-14. A future append into an existing grandchild of
    * a memoized path would need a recursive signature; do not add one
    * without that write pattern existing. */
  private def listingSignature(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).foldLeft(1125899906842597L) { (acc, st) =>
      var h = acc * 31 + st.getPath.getName.hashCode
      h = h * 31 + java.lang.Long.hashCode(st.getModificationTime)
      h * 31 + java.lang.Long.hashCode(st.getLen)
    }
  }

  /** Memo key of one path. The raw schema depends on every
    * inference-affecting conf (see schemaConfs), so sessions with
    * different postures must not share entries. The path is qualified
    * first: a writer names a generation dir as `/idx/t.g00000`, while
    * a reader resolving the live generation by listing gets
    * `file:/idx/t.g00000` — one dir, one entry. */
  private def memoKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val qualified = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    schemaConfs.map(c => spark.conf.getOption(c).getOrElse("")).mkString("|") + "|" + qualified
  }

  /** The path's listing signature, or None where the memo must not be
    * used: a scheme without directory mtimes, or a missing dir (the
    * plain read then throws as before). */
  private def memoSignature(spark: SparkSession, path: String): Option[Long] =
    if (!memoizableScheme(spark, path)) None
    else try Some(listingSignature(spark, path)) catch { case _: java.io.IOException => None }

  /** The schema memoized under `key`, if recorded at listing `sig`. */
  private def memoized(key: String, sig: Long): Option[StructType] =
    Option(schemaMemo.get(key)).collect { case (`sig`, s) => s }

  /** The memoized schema of `path`, if its entry matches the current
    * listing (spec surface). */
  private[ops] def memoizedSchema(spark: SparkSession, path: String): Option[StructType] =
    memoSignature(spark, path).flatMap(memoized(memoKey(spark, path), _))

  private[graft] def cachedSchemaParquet(spark: SparkSession, path: String): DataFrame =
    cachedSchemaParquet(spark, Seq(path))

  private[graft] def cachedSchemaParquet(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val sigs = paths.map(memoSignature(spark, _))
    if (sigs.exists(_.isEmpty)) spark.read.parquet(paths: _*)
    else {
      val reads = paths.zip(sigs.flatten).map { case (p, sig) =>
        val key = memoKey(spark, p)
        memoized(key, sig).map(Right(_)).getOrElse {
          val df = spark.read.parquet(p)
          schemaMemo.put(key, (sig, df.schema))
          Left(df)
        }
      }
      reads match {
        case Seq(Left(df)) => df // a lone miss: the inferring read itself
        case _ =>
          val schemas = reads.map(_.fold(_.schema, identity)).distinct
          if (schemas.size == 1) spark.read.schema(schemas.head).parquet(paths: _*)
          else spark.read.parquet(paths: _*)
      }
    }
  }

  /** Write `df` to `path` as parquet (`mode` overwrite or append) and
    * record the written schema under the path's NEW listing signature,
    * so the next read of `path`, alone or inside a union, runs no
    * inference job. Spark stores the writer's schema in every file
    * footer, and a file read returns it with every field nullable, so
    * that nullable form is what inference finds. An append keeps the
    * entry only if it matched the listing just before the write and
    * its schema equals the appended one; otherwise the entry is
    * dropped and the next read infers. For the index writers (lex
    * segments, the near-dup tables): each path has one writer at a
    * time, which is what makes the listing taken after the write this
    * write's own. */
  private[graft] def writeParquet(df: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    val key = memoKey(spark, path)
    val schema = asRead(df.schema)
    val keep = mode != "append" ||
      memoSignature(spark, path).flatMap(memoized(key, _)).contains(schema)
    df.write.mode(mode).parquet(path)
    memoSignature(spark, path).filter(_ => keep) match {
      case Some(sig) => schemaMemo.put(key, (sig, schema))
      case None => schemaMemo.remove(key)
    }
  }

  /** A schema as a file read returns it: every field, array element
    * and map value nullable (Spark's `asNullable`, which is not public). */
  private def asRead(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = asRead(f.dataType), nullable = true)))

  private def asRead(t: DataType): DataType = t match {
    case s: StructType => asRead(s)
    case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
    case m: MapType => MapType(asRead(m.keyType), asRead(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The events table has stored `ts` as parquet TIMESTAMP(NANOS) (read
    * via `spark.sql.legacy.parquet.nanosAsLong`, set in every session
    * builder here) and, since the round-7 testdata, TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false — which Spark 4 would surface as
    * TIMESTAMP_NTZ and break every `unix_micros`/watermark consumer.
    * Every builder therefore also sets
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false`, restoring the
    * pre-3.4 read (LTZ carrying the same micros; the UTC session
    * timezone keeps wall-clock semantics identical to DuckDB's naive
    * timestamps). The ns branch converts ns→µs with integer `div` (a
    * double division would lose sub-µs bits at 1e18 magnitudes) — same
    * floor semantics as DuckDB's ns→µs truncation, so oracles align.
    * The NTZ cast branch is belt-and-braces for sessions missing the
    * conf: with a UTC session timezone it is value-identical. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = cachedSchemaParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact, order-independent money sum: scale to 4-decimal longs before
    * summing (double summation is order-dependent and would flake the
    * oracle hash; decimal sums are exact but ~2× slower than long sums in
    * codegen — measured on b3). round(x*10000) is identical IEEE
    * arithmetic in Spark and DuckDB → identical longs → identical sums.
    * Long overflow headroom: ~9.2e18 ≫ 1e9-scaled values × 1e9 rows. */
  private[graft] def moneySum(c: Column): Column =
    round(sum(round(c * 10000, 0).cast("long")) / 10000.0, 4)

  private val ts_fmt = "yyyy-MM-dd HH:mm:ss"

  // B1 — full scan + count
  def scanParquet(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  // B2 — filter + narrow projection; predicate and column pruning reach
  // the parquet scan (verify via .explain: PushedFilters / ReadSchema)
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 4).as("quantity"), col("l_returnflag"))
      // sort by EVERY output column: the synthetic testdata does not
      // make (l_orderkey, l_linenumber) unique (118k dup keys at sf0.1),
      // so a prefix sort is not a total order and the engine/oracle row
      // sequences may legally diverge on ties — only exposed at sf1,
      // where the multi-file layout reorders Spark's tie groups. With
      // all columns in the key, tied rows are identical rows.
      .orderBy("l_orderkey", "l_linenumber", "quantity", "l_returnflag")

  // B3 — TPC-H Q1-like aggregation (flagship)
  def aggGroup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        round(sum(round(col("l_discount") * 1000000, 0).cast("long")) / 1000000.0 / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // B4 — equi inner join; customer⋈orders both scale with data → shuffle
  // join on the key, no broadcast (AQE may still pick one at tiny SF)
  def joinInner(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"), round(col("o_totalprice"), 4).as("total"))
      .orderBy("o_orderkey")

  // B5 — 5-way join chain; nation/region are fixed-size (25/5 rows at ANY
  // scale factor) → always broadcast; the fact joins shuffle on their keys
  def joinMulti(spark: SparkSession, dir: String): DataFrame = {
    // Eager aggregation (round 11): revenue folds to (o_custkey) BEFORE
    // the customer join. The naive chain shuffles the full
    // lineitem⋈orders stream a SECOND time on o_custkey to meet
    // customer — at sf100 that is 600M wide rows through the exchange
    // twice (measured 143.7 s with 1 GB page-allocation retries, the
    // one headline decade cell that thrashed). Folding first shrinks
    // the second exchange to one narrow row per customer (~40× fewer
    // rows), and nation/region stay broadcast. Catalyst does not push
    // partial aggregates through joins, so the rewrite is declared
    // here. Cents ride as a LONG through both levels — integer
    // addition is associative, so the two-level sum is bit-identical
    // to the one-shot moneySum and the oracle is unchanged.
    val perCust = table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(round((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 10000, 0)
          .cast("long")).as("cents"),
        count(lit(1)).as("n"))
    perCust
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("cents")) / 10000.0, 4).as("revenue"),
        sum(col("n")).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  // B6 — semi/anti join: customers with vs without orders
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val customer = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    val semi = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("with_orders").as("tag"))
    val anti = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    semi.unionAll(anti).orderBy("tag", "c_custkey")
  }

  // B7 — left outer join + null handling
  def joinOuter(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
        coalesce(round(col("o_totalprice"), 4), lit(0.0)).as("total"))
      .orderBy("c_custkey", "o_orderkey")

  // B7b — FULL outer join: both unmatched sides survive. TPC-H's
  // referential integrity makes a naive full outer degenerate to left
  // outer, so each side is restricted to an overlapping slice —
  // customers ≢0 (mod 3), order groups ≢1 — leaving genuine
  // customer-only AND order-only rows. The orders side pre-aggregates
  // (partial combine, one exchange) so the join is key-to-key; -1/0
  // sentinels keep the output total-ordered and null-free.
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = table(spark, dir, "orders")
      .filter(col("o_custkey") % 3 =!= 1)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("segment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("custkey")
  }

  // B8 — top-k: Spark plans TakeOrderedAndProject (per-partition heap +
  // driver merge of k rows — no full sort, no full shuffle)
  def sortLimitTopK(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("total"))
      .orderBy(col("total").desc, col("o_orderkey").asc)
      .limit(10)

  // B9a — distinct
  def distinctOp(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(col("c_mktsegment").as("seg")).distinct().orderBy("seg")

  // B9b — set operations (INTERSECT / EXCEPT, distinct variants like SQL)
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = table(spark, dir, "customer").select(col("c_custkey").as("k"))
    val orderCust = table(spark, dir, "orders").select(col("o_custkey").as("k"))
    custKeys.intersect(orderCust).withColumn("tag", lit("both"))
      .unionAll(custKeys.except(orderCust).withColumn("tag", lit("customer_only")))
      .orderBy("tag", "k")
  }

  // B9c — multiset set operations (INTERSECT ALL / EXCEPT ALL). Orders
  // carry real key multiplicity (many orders per customer) while customer
  // keys are unique, so exceptAll keeps n-1 copies per key and
  // intersectAll exactly one — results the distinct variants can't produce.
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = table(spark, dir, "customer").select(col("c_custkey").as("k"))
    val orderCust = table(spark, dir, "orders").select(col("o_custkey").as("k"))
    orderCust.intersectAll(custKeys).withColumn("tag", lit("once_per_customer"))
      .unionAll(orderCust.exceptAll(custKeys).withColumn("tag", lit("repeat_orders")))
      .orderBy("tag", "k")
  }

  // B10 — window rank; total order inside each partition via tie-break key
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), rank().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  // B11 — running frame: cumulative revenue per customer by order date
  def windowFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(round(col("o_totalprice") * 10000, 0).cast("long")).over(w) / 10000.0, 4)
          .as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // B31 — offset/distribution window battery: lag, lead, ntile,
  // first_value — the remaining window shapes b10 (rank) and b11
  // (running frame) don't cover. All over one total-ordered window
  // ((o_orderdate, o_orderkey) is unique per customer), so both
  // engines compute identical rows; one sort per partition at scale,
  // exactly like the rank window.
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // B12 — rollup revenue by (nation, order priority)
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("revenue"), col("n_orders"))
      .orderBy("nation", "priority")

  // B12b — cube revenue by (nation, order priority): the FULL 2^d
  // grouping lattice — adds the priority-only slice rollup's
  // hierarchy omits. Same moneySum determinism rules; the partial
  // aggregate still collapses each partition to the lattice size
  // before the shuffle, so the exchange carries grouping-set-sized
  // partials at any corpus scale (the b3 doctrine ×4 sets).
  def groupingSetsCube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("revenue"), col("n_orders"))
      .orderBy("nation", "priority")

  // B12c — explicit GROUPING SETS: the arbitrary-set form neither
  // rollup's hierarchy nor cube's full lattice expresses — here the
  // two single-dimension slices WITHOUT the grand total or the
  // detailed (nation, priority) set, the shape of a report wanting
  // "by nation" and "by priority" in one pass. One aggregation with
  // an Expand of exactly 2 projections per row (vs cube's 4); the
  // partial aggregate still collapses each partition to lattice size
  // before the exchange. Identical SQL runs in DuckDB as the oracle.
  def groupingSetsExplicit(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      s"""SELECT coalesce(n_name, 'ALL') AS nation,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  ${msumSpark("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY GROUPING SETS ((n_name), (o_orderpriority))
         |ORDER BY nation, priority""".stripMargin)
  }

  // B32 — TPC-H Q5 shape: revenue per nation for one region and year,
  // with the local-supplier constraint (c_nationkey = s_nationkey)
  // that makes the join graph cyclic — the classic join-order stress.
  // All declarative: Catalyst broadcasts nation/region (and supplier
  // at this sf), pushes the year predicate to the orders scan, and
  // AQE picks the fact-join order. The full six-table TPC-H chain in
  // one oracle-checked query is the "Athena replacement" claim made
  // concrete.
  def tpchQ5(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(table(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      // range predicate, not year(): a function-wrapped column defeats
      // parquet pushdown — the range form reaches the scan's
      // PushedFilters and prunes row groups by min/max (PlanSpec-pinned)
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  // B33 — TPC-H Q10 shape: top customers by revenue lost to returned
  // items in one year. Fact-side filters (returnflag, year) push to
  // the scans; the final top-20 plans TakeOrderedAndProject over the
  // grouped aggregate.
  def tpchQ10(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .filter(col("l_returnflag") === "R" &&
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  // B34 — TPC-H Q21 shape: MULTI-correlated EXISTS + NOT EXISTS against
  // the SAME fact table, the classic decorrelation stress b30's
  // customer/orders pair doesn't cover (both subqueries correlate on
  // l1.l_orderkey AND carry a non-equality l_suppkey <> residual).
  // "The only supplier with a returned line on a multi-supplier order"
  // — l_returnflag = 'R' stands in for Q21's receipt>commit lateness
  // (this corpus carries no receipt/commit dates). Catalyst must
  // rewrite both subqueries into one left-semi and one left-anti
  // hash join on l_orderkey with the <> as a join residual — never a
  // per-row subquery, never a nested loop (PlanSpec-pinned); at 100 TB
  // that is two shuffles of lineitem, both reusing the l_orderkey
  // exchange. Identical SQL runs in DuckDB as the oracle.
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
  }

  // B35 — TPC-H Q18 shape: IN over a grouped-HAVING subquery (the
  // "large-volume customer" filter). The planner stress is the
  // HAVING-aggregated IN-subquery: Catalyst decorrelates it to a
  // left-semi join against the aggregated lineitem — the aggregation
  // runs ONCE (partial agg map-side, one l_orderkey shuffle shared in
  // shape with the outer join), not per outer row. Quantities are
  // integral doubles in this corpus, so the sums are order-exact and
  // the > threshold is engine-portable. Identical SQL in DuckDB.
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 4) AS totalprice,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 260)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 4)
        |ORDER BY totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin)
  }

  // B36 — TPC-H Q2 shape: CORRELATED SCALAR MIN subquery (Q2's
  // min-supplycost filter re-expressed on this corpus as "the cheapest
  // line of each order"). The third classic decorrelation stress after
  // b34's multi-EXISTS and b35's HAVING-IN: Catalyst must rewrite the
  // per-row `= (SELECT min(...) WHERE correlated)` into ONE aggregate
  // over lineitem joined back on l_orderkey — the aggregate runs once
  // and shares its l_orderkey exchange shape with the outer join,
  // never a subquery per outer row (PlanSpec-pinned). Equality on the
  // min is exact: both engines take min over identical doubles.
  // Identical SQL runs in DuckDB as the oracle.
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
        |FROM orders JOIN lineitem l ON o_orderkey = l_orderkey
        |WHERE l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
        |                         WHERE l2.l_orderkey = l.l_orderkey)
        |ORDER BY o_orderkey, l_linenumber""".stripMargin)
  }

  // B37 — TPC-H Q15 shape: a CTE referenced twice (join side + an
  // uncorrelated scalar MAX subquery over it) — the top-supplier
  // report. The planner stress is CTE/exchange REUSE: the revenue
  // aggregate must materialize once and feed both consumers (Spark
  // plans the scalar max as a separate subquery stage over the same
  // aggregate; AQE reuses the exchange), and the scalar subquery is
  // uncorrelated → evaluated once, broadcast as a literal into the
  // filter — never per row. Money sums via msumSpark on the Spark side
  // (the b12c DECIMAL trap lives in shared SQL text). Equality on the
  // rounded total is exact in double. Identical SQL (msum form) runs
  // in DuckDB as the oracle.
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    spark.sql(
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |         ${msumSpark("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin)
  }

  // B38 — TPC-H Q17 shape: CORRELATED SCALAR AVG inside a filter (the
  // "small-quantity-order revenue" query; Q17's Brand/container filter
  // re-expressed as a per-brand report since this corpus has no
  // p_container). The planner stress: `l_quantity < (SELECT 0.2*avg
  // WHERE correlated)` must decorrelate to ONE avg aggregate over
  // lineitem grouped by l_partkey, hash-joined back — never a per-row
  // subquery (PlanSpec-pinned). At 100 TB that is one extra
  // l_partkey-shuffled aggregate of the fact table, reusing the join's
  // exchange shape. avg of integral-double quantities is order-exact;
  // 0.2*avg is one deterministic double op in both engines. Money sum
  // via the cents-exact msum form; /7.0 as an explicit double (the
  // b12c DECIMAL literal trap). Identical SQL runs in DuckDB.
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      s"""SELECT p_brand,
         |       round(sum(cast(round((l_extendedprice) * 10000, 0) as bigint))
         |             / cast(10000.0 as double) / cast(7.0 as double), 4) AS avg_yearly,
         |       count(*) AS n_lines
         |FROM lineitem l JOIN part ON p_partkey = l.l_partkey
         |WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
         |                    WHERE l2.l_partkey = l.l_partkey)
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin)
  }

  /** Author-knowledge BROADCAST hint, SELF-DISABLING past its scale
    * boundary (round-12 verdict item 7: the four hinted sites carried
    * their boundaries as prose — "part ~sf1000, customer ~sf300" —
    * and beyond the boundary the hint becomes the bug). Each dim is
    * (table, selectivity, widthFrac, estimable):
    *   - estimated build bytes = source file bytes ×
    *     `graft.io.compressionFactor` (raw↔compressed, default 8) ×
    *     widthFrac (post-prune column fraction) × selectivity (the
    *     author-stated post-filter fraction — the knowledge a non-CBO
    *     estimator lacks and CBO lacks for LIKE '%…%');
    *   - the hint names the table only while that estimate fits
    *     `graft.hints.maxBroadcastBytes` (default 1 GiB — one
    *     comfortable executor build; measured against the sf100
    *     fixture bytes, q8's unfiltered customer estimate is ~280 MB
    *     → crosses ≈ sf380, q19's part ~43 MB → ≈ sf2500, the LIKE
    *     sites ~7 MB → far out — mechanizing the prose boundaries,
    *     customer first exactly as the comments used to say);
    *   - when CBO is enabled (`spark.sql.cbo.enabled`, the
    *     SPARK_GRAFT_STATS path) and the predicate is ESTIMABLE by
    *     column stats (equality/range — not contains), the hint
    *     yields to the stats.
    * Returns `/*+ BROADCAST(…) */ ` or the empty string; boundaries
    * now live in conf + code, not comments. */
  /** `graft.io.compressionFactor` — raw-bytes-per-compressed-byte of
    * the source parquet (default 8, the measured zstd ratio on this
    * data, BASELINE.md). A RATIO, so fractional settings (7.5) are
    * valid — parsed as Double (round-13 advice: the old `_.toLong`
    * parse killed the query on a legal value). The ONE accessor for
    * both consumers ([[dimHint]]'s broadcast-estimate and SparkEntry's
    * write-parallelism sizing) so the parse cannot diverge again. */
  private[graft] def compressionFactor(spark: SparkSession): Double =
    spark.conf.getOption("graft.io.compressionFactor")
      .map(_.toDouble).getOrElse(8.0)

  private[ops] def dimHint(spark: SparkSession, dir: String,
      dims: Seq[(String, Double, Double, Boolean)]): String = {
    val maxBytes = spark.conf.getOption("graft.hints.maxBroadcastBytes")
      .map(_.toLong).getOrElse(1L << 30).toDouble
    val cbo = spark.conf.getOption("spark.sql.cbo.enabled").exists(_.toBoolean)
    val cf = compressionFactor(spark)
    val keep = dims.filter { case (t, sel, widthFrac, estimable) =>
      !(cbo && estimable) && {
        val fileBytes = table(spark, dir, t)
          .queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
        fileBytes * cf * widthFrac * sel <= maxBytes
      }
    }.map(_._1)
    if (keep.isEmpty) "" else keep.mkString("/*+ BROADCAST(", ", ", ") */ ")
  }

  // B39 — TPC-H Q20 shape: NESTED two-level IN (suppliers of parts in a
  // name-matched set) PLUS Q20's correlated quantity threshold, here
  // correlated on the COMPOSITE (l_partkey, l_suppkey) key — the
  // two-column decorrelation b36/b38's single-key aggregates don't
  // cover. Catalyst must plan: part-name filter → semi join into
  // lineitem, composite-keyed avg aggregate joined back for the
  // threshold, then a semi join into supplier — three hash joins, no
  // per-row subquery, no nested loop (PlanSpec-pinned). The 1.8×avg
  // bar keeps the result discriminating (62/100 suppliers at sf0.01).
  // Identical SQL runs in DuckDB.
  // BROADCAST(part): same contains-filtered-dim case as tpchQ9 (CBO
  // blind on LIKE '%…%', un-stats'd estimate above the default
  // threshold at sf100 → 17.1 GB shuffle for a query that shuffles
  // 0.23 GB at sf10). The hint rides the IN-subquery into the
  // decorrelated semi-join's build side. Boundary: [[dimHint]]
  // ('%gizmo%' keeps ~5% of part; the build list is the 8-byte key).
  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "part").createOrReplaceTempView("part")
    val hint = dimHint(spark, dir, Seq(("part", 0.05, 0.1, false)))
    spark.sql(
      s"""SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem l
        |  WHERE l_partkey IN (SELECT ${hint}p_partkey FROM part WHERE p_name LIKE '%gizmo%')
        |    AND l_quantity > (SELECT 1.8 * avg(l2.l_quantity) FROM lineitem l2
        |                      WHERE l2.l_partkey = l.l_partkey
        |                        AND l2.l_suppkey = l.l_suppkey))
        |ORDER BY s_suppkey""".stripMargin)
  }

  // B40 — TPC-H Q22 shape: NOT EXISTS + an UNCORRELATED scalar AVG over
  // a filtered set (the "global sales opportunity" query; cntrycode →
  // c_mktsegment, "no orders" → "no URGENT orders" since every sf0.01
  // customer has some order). Planner stress: the avg-over-positive-
  // balances subquery is uncorrelated → evaluated ONCE as a one-shot
  // subquery stage feeding a literal into the filter (b37's reuse
  // doctrine), and the NOT EXISTS decorrelates to a left-anti hash
  // join on custkey. The threshold compares in EXACT cents (sum of
  // rounded-cents bigints / count) so the boundary is engine-portable
  // — a raw double avg's summation order could flip threshold-adjacent
  // rows between engines. Identical SQL runs in DuckDB.
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      s"""SELECT c_mktsegment, count(*) AS numcust,
         |       round(sum(cast(round(c_acctbal * 10000, 0) as bigint))
         |             / cast(10000.0 as double), 4) AS totacctbal
         |FROM customer c
         |WHERE cast(round(c_acctbal * 100, 0) as bigint) >
         |      (SELECT sum(cast(round(c_acctbal * 100, 0) as bigint)) / count(*)
         |       FROM customer WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_orderpriority = '1-URGENT')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin)
  }

  // B41 — TPC-H Q13 shape: customer distribution by order count, with
  // the filter INSIDE the outer join's ON clause (a post-join WHERE
  // would silently turn the left join inner — the classic Q13 trap)
  // and a double aggregation (per-customer count, then distribution).
  // Catalyst pushes the one-sided <> predicate to the orders scan
  // below the join — same result, pre-join pruning. Counts are bigint
  // in both engines; no float anywhere. Identical SQL in DuckDB.
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  // B42 — TPC-H Q16 shape: NOT IN over a subquery + count(DISTINCT)
  // per grouped attributes. NOT IN is the NULL-AWARE anti join case —
  // semantically "no row equal AND no NULL in the set"; Spark plans a
  // BroadcastHashJoin LeftAnti with the isNullAwareAntiJoin flag SET
  // (visible as the trailing `true` in the plan) — the single-column
  // NAAJ fast path, not a nested loop. count(DISTINCT l_suppkey)
  // expands to the two-phase distinct aggregate. Identical SQL in
  // DuckDB.
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "part").createOrReplaceTempView("part")
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    spark.sql(
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  // B43 — TPC-H Q11 shape: HAVING against a fraction of the GLOBAL
  // aggregate (an uncorrelated scalar subquery over the SAME table the
  // outer aggregates — the exchange-reuse twin of b37's CTE case).
  // The 1.2/nparts threshold is scale-invariant: "parts 20% above the
  // average share" stays discriminating at every sf, where a fixed
  // fraction empties as the part count grows. Cents-exact long sums;
  // the only doubles are the threshold's two deterministic ops.
  // Identical SQL in DuckDB (the cast keeps Spark's literal out of
  // DECIMAL arithmetic — the b12c trap).
  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_partkey,
        |       round(sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint))
        |             / cast(100.0 as double), 4) AS value
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint)) >
        |       (SELECT sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint))
        |               * cast(1.2 as double) / count(DISTINCT l_partkey) FROM lineitem)
        |ORDER BY value DESC, l_partkey""".stripMargin)
  }

  // B44 — TPC-H Q14 shape: conditional aggregation (promo revenue
  // share) — CASE inside the sum, two aggregates over one scan, a
  // single-row percentage. Cents-exact long sums; the ratio is one
  // double division on identical longs. Identical SQL in DuckDB
  // (modulo the DECIMAL-literal casts on the Spark side).
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT round(cast(100.0 as double) *
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)
        |      ELSE 0 END)
        |  / sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)), 4)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)
  }

  // B45 — TPC-H Q19 shape: a DISJUNCTION of conjunctive brackets
  // spanning BOTH join sides (brand/size predicates on part AND
  // quantity ranges on lineitem, OR'd). The planner stress is partial
  // pushdown from a disjunction: neither side's predicate set is
  // implied by the WHERE as written, but Catalyst extracts the
  // per-side common factors (brand ∈ {1,2,3} to the part scan,
  // quantity ∈ [1,50] to the lineitem scan) while the full bracket
  // rides the join as a residual — at 100 TB the extracted ranges
  // prune row groups even though the predicate is an OR. Identical
  // SQL in DuckDB (the broadcast hint is a comment there).
  //
  // BROADCAST(part): author knowledge the estimator lacks. The bracket
  // filter keeps ~9% of part and the join reads 3 columns — ~45 MB at
  // sf100 — but a non-CBO estimate never shrinks on a filter, so the
  // 2–3-column list estimated 71.7 MB and the join fell to
  // SortMergeJoin, shuffling 4.69 GB of lineitem that sf10 never
  // shuffles (round-11's one weak perf cell). CBO stats also fix this
  // one (brand/size are estimable — see tools/TableStats), but the
  // hint makes the REGISTRY plan right without a stats setup step.
  // Boundary: [[dimHint]] — ~9% of part × 3 columns; the hint
  // self-disables when the estimated build exceeds
  // graft.hints.maxBroadcastBytes (≈ sf2500 at the 1 GiB default),
  // and yields to CBO when stats are on (brand/size ARE estimable).
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "part").createOrReplaceTempView("part")
    val hint = dimHint(spark, dir, Seq(("part", 0.09, 0.33, true)))
    spark.sql(
      s"""SELECT $hint
        |       round(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint))
        |             / cast(10000.0 as double), 4) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 30)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 40)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
        |       AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin)
  }

  // B46 — TPC-H Q7 shape: bilateral volume shipping — nation joined
  // TWICE (supplier side and customer side) with an OR of the two
  // directed pairs. The stress: the disjunction correlates the two
  // broadcast dims across the fact chain, so it can only apply after
  // both nation joins — but each disjunct's single-side component
  // (n_name ∈ {NATION_18, NATION_19}) is still extractable to BOTH dim
  // scans, collapsing the broadcast build to two rows each before the
  // 4-fact-join chain. Identical SQL in DuckDB (year() int width is
  // driver-benign).
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT supp_nation, cust_nation, yr,
        |       round(sum(cast(round(volume * 10000, 0) as bigint))
        |             / cast(10000.0 as double), 4) AS revenue,
        |       count(*) AS n_lines
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             year(l_shipdate) AS yr,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |GROUP BY supp_nation, cust_nation, yr
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin)
  }

  // B47 — TPC-H Q3 shape: the shipping-priority report — the classic
  // join + group + top-k COMPOSITION (filtered dim → filtered fact →
  // filtered fact, grouped per order, top-10 by revenue).
  // o_orderpriority stands in for Q3's o_shippriority (this corpus has
  // no shippriority column). The planner properties that matter at
  // 100 TB: the segment predicate prunes customer BEFORE the join, both
  // date ranges reach their parquet scans' PushedFilters, and the
  // top-10 plans TakeOrderedAndProject over the aggregate — never a
  // global sort (all PlanSpec-pinned). The ORDER BY ranks on the exact
  // cents BIGINT (not the rounded double) with l_orderkey as the tie
  // break, so the selected 10-row SET is engine-portable. Identical
  // SQL runs in DuckDB as the oracle.
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       round(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint))
        |             / cast(10000.0 as double), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) DESC,
        |         l_orderkey
        |LIMIT 10""".stripMargin)
  }

  // B48 — TPC-H Q8 shape: national market share — the WIDEST classic
  // join graph (8 relations: part + the 4-table fact chain + nation
  // TWICE + region) with a CASE share-of-sum per year. nation n1 scopes
  // the CUSTOMER side to a region (via the region dim); nation n2 names
  // the SUPPLIER side, and the share is "NATION_3's fraction of that
  // market's volume by order year". Planner stresses: the two nation
  // broadcasts serve different join keys and must not merge; region's
  // name filter prunes its 5-row broadcast before the n1 join; both
  // CASE-sum and total-sum live in ONE aggregate pair over the join —
  // never two scans stitched together (PlanSpec-pinned). Share math is
  // exact: both sums are cents BIGINTs, the division is one double op
  // on identical longs. Identical SQL in DuckDB.
  // BROADCAST(part): the p_type-filtered part list (1/ndv of 20M rows
  // at sf100) estimated 32–72 MB un-stats'd and fell to SMJ at sf100,
  // shuffling 14.4 GB (round-11 decade finding) — the b45 hint
  // doctrine; boundary via [[dimHint]] (p_type equality IS estimable,
  // so the hint yields to CBO when stats are on).
  // BROADCAST(customer): the pruned 2-column customer list (15M rows ×
  // 16 B ≈ 240 MB raw at sf100) is the one mid-size dim whose broadcast
  // the retired 64 MB posture used to win — measured sf100 A/B with the
  // part hint in place: 22.8 s / 4.54 GB broadcast vs 32.1 s / 6.93 GB
  // sort-merged. Tighter boundary than the part hints (no filter, the
  // whole pruned table broadcasts — [[dimHint]] disables it ≈ sf380 at
  // the default bound, first of the four to go when scaling out; not
  // estimable: stats price width, the win is author A/B knowledge).
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "part").createOrReplaceTempView("part")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    table(spark, dir, "region").createOrReplaceTempView("region")
    val hint = dimHint(spark, dir,
      Seq(("part", 0.05, 0.1, true), ("customer", 1.0, 0.25, false)))
    spark.sql(
      s"""SELECT yr,
        |       round(sum(CASE WHEN nation = 'NATION_3' THEN cents ELSE 0 END)
        |             / cast(sum(cents) as double), 4) AS mkt_share,
        |       count(*) AS n_lines
        |FROM (SELECT ${hint}year(o_orderdate) AS yr, n2.n_name AS nation,
        |             cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint) AS cents
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'AMERICA' AND p_type = 'PROMO')
        |GROUP BY yr ORDER BY yr""".stripMargin)
  }

  // B49 — TPC-H Q9 shape: product-line profit by nation and year — the
  // hardest classic join-graph stress: a NON-SARGABLE `p_name LIKE
  // '%gizmo%'` filter (no range to push; only a StringContains filter
  // reaches the scan, so the planner cannot rely on row-group pruning)
  // plus a SIX-way join that includes a COMPOSITE-key edge. This corpus
  // has no partsupp table, so partsupp is derived in-query (per
  // (partkey, suppkey) min unit price as the supplycost — a grouped
  // aggregate over lineitem, exactly the extra fact-table pass Q9's
  // partsupp scan costs at 100 TB) and joined back on BOTH keys — the
  // composite equi-join Catalyst must key correctly rather than
  // degrade to a single-key join + filter or a nested loop
  // (PlanSpec-pinned: a hash join keyed on both columns, no cartesian).
  // Profit = revenue cents − cost cents, each an exact BIGINT; min of
  // identical doubles is engine-exact. Identical SQL in DuckDB.
  // BROADCAST(part): for a contains-filtered dim the hint is the ONLY
  // correct mechanism — CBO cannot estimate LIKE '%…%' (selectivity
  // stays 1.0) and prices the list at raw width (~1.4 GB at sf100,
  // measured via tools/TableStats), so stats make this WORSE, while
  // the un-stats'd estimate (32–72 MB) sat above the default
  // threshold and shuffled 19.5 GB at sf100. Author knowledge: the
  // '%gizmo%' list is ~5% of part. Boundary via [[dimHint]]
  // (contains-filter → NOT estimable: the hint survives CBO).
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "part").createOrReplaceTempView("part")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    val hint = dimHint(spark, dir, Seq(("part", 0.05, 0.1, false)))
    spark.sql(
      s"""WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT nation, yr,
        |       round(sum(amount) / cast(10000.0 as double), 4) AS sum_profit,
        |       count(*) AS n_lines
        |FROM (SELECT ${hint}n_name AS nation, year(o_orderdate) AS yr,
        |             cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)
        |             - cast(round(ps_supplycost * cast(0.5 as double) * l_quantity * 10000, 0) as bigint)
        |               AS amount
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      WHERE p_name LIKE '%gizmo%')
        |GROUP BY nation, yr
        |ORDER BY nation, yr DESC""".stripMargin)
  }

  // B50 — TPC-H Q12 shape: shipmode priority report — TWO conditional
  // CASE counts over one fact join, grouped by mode. l_returnflag
  // stands in for Q12's l_shipmode (this corpus has no shipmode/
  // commitdate/receiptdate), the IN ('A','R') pair mirrors Q12's
  // two-mode filter, and the ship-date year range stands in for the
  // receipt-year window. The plan property: both CASE sums live in ONE
  // aggregate pair over the join and the returnflag IN + date range
  // both reach the lineitem scan's PushedFilters (PlanSpec-pinned) —
  // at 100 TB the 2-of-6 flag filter prunes row groups before the
  // orders join. Pure counts — no float anywhere; the sums cast to
  // bigint because DuckDB's sum(int) is HUGEINT (int128), a width the
  // driver tolerates but pandas round-trips as float. Identical SQL in
  // DuckDB.
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) as bigint) AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) as bigint) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  // B51 — TPC-H Q6 shape: the forecast-revenue-change aggregate — a
  // pure SCAN query (no join at all; PlanSpec pins that none creeps
  // in) whose entire cost is how much of the fact table the scan can
  // skip: date range + discount bracket + quantity cap all reach
  // PushedFilters, so at 100 TB the query reads only row groups whose
  // min/max overlap a ~1-in-50 predicate. The discount literals are
  // cast to double explicitly — Spark would otherwise parse 0.05 as
  // DECIMAL(3,2) and run the comparison in decimal (the b12c trap's
  // comparison form); the cast keeps both engines comparing the same
  // stored double to the same IEEE literal. Identical SQL in DuckDB.
  def tpchQ6(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT round(sum(cast(round(l_extendedprice * l_discount * 10000, 0) as bigint))
        |             / cast(10000.0 as double), 4) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= cast(0.05 as double) AND l_discount <= cast(0.07 as double)
        |  AND l_quantity < cast(24 as double)""".stripMargin)
  }

  // B13 — scalar function battery (string/date/math/CASE)
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
        year(col("o_orderdate")).as("yr"),
        date_format(col("o_orderdate") + expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").as("plus30"),
        round(abs(col("o_totalprice") - 100000.0), 2).as("absdiff"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"))
      .orderBy("o_orderkey")

  // B13b — extended scalar battery: pad/trim/replace/regexp, date
  // arithmetic, math (engine-portable function subset)
  def scalarFuncs2(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        lpad(col("o_orderstatus"), 3, "_").as("padded"),
        trim(concat(lit("  "), col("o_orderpriority"), lit("  "))).as("trimmed"),
        regexp_replace(col("o_orderpriority"), "[0-9]-", "").as("depri"),
        reverse(col("o_orderstatus")).as("rev"),
        instr(col("o_orderpriority"), "-").cast("int").as("dash_at"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
        floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
        round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
        pmod(col("o_orderkey"), lit(7)).as("key_mod"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floor50k"),
        sign(col("o_totalprice") - 150000).cast("int").as("vs150k"))
      .orderBy("o_orderkey")

  // B22 — the SQL surface directly: scalar subquery against temp views
  // (threshold computed with the scaled-long average so both engines
  // compare against the identical double). The divisor is cast-to-double
  // (msumSpark convention): the bare `/ 10000.0` spelling made the
  // threshold DECIMAL(26,4) where DuckDB computes DOUBLE — a latent
  // boundary-flip this data never exercised, surfaced by the round-12
  // DecimalLintSpec walk (the b12c trap class's last live instance).
  def sqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """SELECT c_custkey, round(c_acctbal, 4) AS bal FROM customer
        |WHERE c_acctbal > (SELECT sum(cast(round(c_acctbal * 10000, 0) as bigint))
        |                          / cast(10000.0 as double) / count(*)
        |                   FROM customer)
        |ORDER BY c_custkey""".stripMargin)
  }

  // B30 — correlated EXISTS / NOT EXISTS: the remaining SQL-surface
  // shape b22's scalar subquery doesn't cover. Catalyst decorrelates
  // both into joins (EXISTS → left-semi, NOT EXISTS → left-anti) — at
  // scale these are one shuffle each, never a per-row subquery loop,
  // which is exactly why the SQL surface can be offered at 100 TB.
  // Customers WITH at least one urgent order and WITHOUT any open
  // order; identical SQL runs in DuckDB as the oracle.
  def sqlExists(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin)
  }

  // B23 — pivot: order counts per status × priority
  def pivotOp(spark: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderstatus") +: priorities.map(p =>
        col(s"`$p`").as("p" + p.charAt(0))): _*)
      .orderBy("o_orderstatus")
  }

  // B14 — approx distinct (no cross-engine oracle; bracket-checked in spec)
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))

  // B15 — tumbling 1-hour event aggregation (batch)
  def eventsWindowBatch(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), ts_fmt).as("bucket"), col("n_events"), col("sum_value"))
      .orderBy("bucket")

  // B16 — the same aggregation as a Structured Streaming replay of the
  // events table through REAL micro-batches: the table is staged as 4
  // event-time-ordered parquet files, the file source replays them one
  // per trigger (maxFilesPerTrigger=1), and the 10-minute watermark
  // advances between batches. Append output mode → only windows the
  // final watermark has closed are emitted (the production late-data
  // contract; a beyond-watermark row is proven dropped in StreamingSpec).
  // The oracle mirrors append semantics exactly: full aggregation minus
  // windows whose end is past max(ts) - 10min.
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val stage = stageEventFiles(spark, ev, s"graft_b16_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    StreamHarness.replayToSink(spark,
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value")),
      "graft_b16_sink")
      .select(date_format(col("w.start"), ts_fmt).as("bucket"), col("n_events"), col("sum_value"))
      .orderBy("bucket")
  }

  /** Stage a (converted) events DataFrame as `n` single-file parquet
    * slices partitioned by event-time range, modification times ascending
    * so the file source replays them oldest-first — a faithful stand-in
    * for files landing over time. Replay harness only (bounded passes
    * over one table); production streams read their real file feed. */
  private[ops] def stageEventFiles(spark: SparkSession, ev: DataFrame, name: String, n: Int = 4): String =
    stageSlices(spark, ev, unix_micros(col("ts")), name, n)

  /** Replay slicing parameters — exposed so specs reason about the SAME
    * boundaries the stager writes (re-deriving them would silently
    * decouple on a formula change). */
  private[graft] val replaySlices = 4
  private[graft] def sliceStep(lo: Long, hi: Long, n: Int): Long =
    math.max(1L, (hi - lo) / n + 1)

  /** Generalized replay stager: slice any frame into `n` single-file
    * parquet slices by the range of a long-valued ordering column.
    *
    * LOCAL-TEST-HARNESS-ONLY by contract: this stager (and the replay
    * sinks of [[StreamHarness]]) exists to feed `maxFilesPerTrigger`
    * replays in specs and the registry's deterministic streaming
    * entries, and it
    * deliberately uses `java.nio` file mtimes to order slices —
    * local-disk semantics with no meaning on S3/HDFS. Production
    * streams enter the SAME downstream pipelines through a real
    * source (Kafka / file arrival), where ordering is the source's
    * concern; nothing on an index or query path reads this code
    * (the IndexMeta layer is the portable one — round-7 verdict). */
  private[ops] def stageSlices(spark: SparkSession, ev: DataFrame, ord: org.apache.spark.sql.Column,
      name: String, n: Int = replaySlices): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // applicationId for the same concurrent-process isolation as the
    // StreamHarness sink dirs
    val stage = Paths.get(System.getProperty("java.io.tmpdir"),
      s"${spark.sparkContext.applicationId}_$name")
    if (Files.exists(stage)) {
      Files.walk(stage).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    Files.createDirectories(stage)
    val b = ev.agg(min(ord).as("lo"), max(ord).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val step = sliceStep(lo, hi, n)
    // write the n slices CONCURRENTLY (each is a coalesce(1) single-task
    // job, so serial staging uses one core of 32 — at the sf100 events
    // rehearsal the serial writes dominated every replay op's wall
    // clock); mtimes are assigned sequentially afterwards, so replay
    // order and batch boundaries are byte-identical to the serial stager
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (0 until n).map { i =>
      Future {
        val hiBound = if (i == n - 1) hi + 1 else lo + (i + 1) * step
        val tmp = stage.resolve(s"tmp$i")
        ev.filter(ord >= lo + i * step && ord < hiBound)
          .coalesce(1).write.parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dest = stage.resolve(f"slice_$i%02d.parquet")
        Files.move(part, dest)
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
        dest
      }
    }
    val dests = writes.map(Await.result(_, Duration.Inf))
    val now = System.currentTimeMillis()
    dests.zipWithIndex.foreach { case (dest, i) =>
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(now + i * 2000L))
    }
    stage.toString
  }

  // B17 — per-user session windows, 30-minute gap
  def eventsSession(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), date_format(col("w.start"), ts_fmt).as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start", "n_events")

  // B18 — JSON property extraction from the events.props string column
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  // B29 — exact grouped quantiles: Spark's `percentile` and DuckDB's
  // `quantile_cont` share linear-interpolation (type-7) semantics, so
  // the rounded values hash-match exactly. Exact percentile holds the
  // group's values in memory — the correctness baseline; b29b below is
  // the sketch path a 100 TB run uses.
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25D)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5D)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75D)"), 4).as("p75"),
        round(expr("percentile(l_quantity, 0.99D)"), 4).as("p99"))
      .orderBy("l_returnflag")

  // B29b — the same quantiles through approx_percentile (KLL-style
  // sketch, constant state per group, mergeable map-side — the plan
  // that survives 100 TB where exact percentile cannot hold a group's
  // values). Approximate → rows-only check; bracketed against the
  // exact b29 in a spec (±1 quantity unit at accuracy 10000).
  def quantilesApprox(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("approx_percentile(l_quantity, 0.25D, 10000)"), 4).as("p25"),
        round(expr("approx_percentile(l_quantity, 0.5D, 10000)"), 4).as("p50"),
        round(expr("approx_percentile(l_quantity, 0.75D, 10000)"), 4).as("p75"),
        round(expr("approx_percentile(l_quantity, 0.99D, 10000)"), 4).as("p99"))
      .orderBy("l_returnflag")

  // B26 — stream-stream interval join: clicks ⋈ views per user, view
  // within 24 h before the click, over the same 4-file micro-batch
  // replay as B16 (two independent file-source streams on the staged
  // slices). Watermarks on BOTH sides + the time-range condition are
  // what make this bounded: Spark derives each side's state-retention
  // horizon from the interval (a view is droppable once the watermark
  // passes view_ts + 24 h), so state is O(join window), not O(stream) —
  // the property that lets the same program run forever on an unbounded
  // feed. Inner joins emit on match (not on watermark close), so the
  // replay's output is the complete join — the oracle is the plain batch
  // join. At 100 TB both sides shuffle on user_id once; no other
  // exchange exists in the continuous plan.
  def eventsStreamJoin(spark: SparkSession, dir: String): DataFrame =
    streamClickViewJoin(spark, dir, "inner", "b26")

  /** Shared clicks⋈views interval-join replay for B26 (inner) and B28
    * (left_outer): one definition of the 24 h condition, watermark
    * delay, and projection, so the two ops (and their oracles) cannot
    * desynchronize. */
  private def streamClickViewJoin(spark: SparkSession, dir: String,
      joinType: String, tag: String): DataFrame = {
    val ev = events(spark, dir)
    val stage = stageEventFiles(spark, ev, s"graft_${tag}_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    def side(kind: String, idAs: String, tsAs: String, userAs: String) =
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .filter(col("event_type") === kind)
        .select(col("event_id").as(idAs), col("user_id").as(userAs), col("ts").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val clicks = side("click", "click_id", "click_ts", "user_id")
    val views = side("view", "view_id", "view_ts", "v_user")
    StreamHarness.replayToSink(spark,
      clicks.join(views,
          col("user_id") === col("v_user") &&
            col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
            col("view_ts") <= col("click_ts"),
          joinType)
        .select(col("click_id"), col("view_id"), col("user_id"),
          expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 60000000").as("lag_min")),
      s"graft_${tag}_sink")
      .orderBy("click_id", "view_id")
  }

  // B28 — stream-stream LEFT OUTER interval join: same pair condition as
  // B26, but a click with NO qualifying view emits a null row once the
  // watermark proves no future view can match (view_ts ≤ click_ts, so a
  // click is decidable when the watermark passes click_ts). Matched
  // pairs emit eagerly like the inner join; null rows are the
  // watermark-gated remainder — the append-mode finalization contract,
  // same doctrine as B16's window emission. The oracle mirrors it
  // exactly: batch left join, minus null rows for clicks the final
  // watermark (ms-floored max ts − 1 h) has not yet decided.
  def eventsStreamJoinOuter(spark: SparkSession, dir: String): DataFrame =
    streamClickViewJoin(spark, dir, "left_outer", "b28")

  // B27 — stream-static enrichment: each micro-batch of the events
  // stream joins the static customer dimension. Stateless — no state
  // store, no watermark needed; the static side broadcasts into every
  // batch (the dimension-enrichment pattern of a production feed). At
  // 100 TB the stream side never shuffles for this join; only the
  // fixed-size dim moves. Output equals the batch join exactly.
  def eventsStreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val stage = stageEventFiles(spark, ev, s"graft_b27_stage_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val dim = table(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    StreamHarness.replayToSink(spark,
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment").as("segment"),
          round(col("value"), 4).as("value")),
      "graft_b27_sink")
      .orderBy("event_id")
  }

  /** Query registry: op id → function (SparkSession, sfDir) → DataFrame. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b1_scan" -> (scanParquet _),
    "b2_filter_project" -> (filterProject _),
    "b3_agg_group" -> (aggGroup _),
    "b4_join_inner" -> (joinInner _),
    "b5_join_multi" -> (joinMulti _),
    "b6_join_semi_anti" -> (joinSemiAnti _),
    "b7_join_outer" -> (joinOuter _),
    "b7b_join_full" -> (joinFullOuter _),
    "b8_topk" -> (sortLimitTopK _),
    "b9_distinct" -> (distinctOp _),
    "b9_setops" -> (setOps _),
    "b9_setops_all" -> (setOpsAll _),
    "b10_window_rank" -> (windowRank _),
    "b11_window_frame" -> (windowFrame _),
    "b12_rollup" -> (groupingSets _),
    "b12b_cube" -> (groupingSetsCube _),
    "b12c_grouping_sets" -> (groupingSetsExplicit _),
    "b32_tpch_q5" -> (tpchQ5 _),
    "b33_tpch_q10" -> (tpchQ10 _),
    "b34_tpch_q21" -> (tpchQ21 _),
    "b35_tpch_q18" -> (tpchQ18 _),
    "b36_tpch_q2" -> (tpchQ2 _),
    "b37_tpch_q15" -> (tpchQ15 _),
    "b38_tpch_q17" -> (tpchQ17 _),
    "b39_tpch_q20" -> (tpchQ20 _),
    "b40_tpch_q22" -> (tpchQ22 _),
    "b41_tpch_q13" -> (tpchQ13 _),
    "b42_tpch_q16" -> (tpchQ16 _),
    "b43_tpch_q11" -> (tpchQ11 _),
    "b44_tpch_q14" -> (tpchQ14 _),
    "b45_tpch_q19" -> (tpchQ19 _),
    "b46_tpch_q7" -> (tpchQ7 _),
    "b47_tpch_q3" -> (tpchQ3 _),
    "b48_tpch_q8" -> (tpchQ8 _),
    "b49_tpch_q9" -> (tpchQ9 _),
    "b50_tpch_q12" -> (tpchQ12 _),
    "b51_tpch_q6" -> (tpchQ6 _),
    "b13_scalar_funcs" -> (scalarFuncs _),
    "b13b_scalar_funcs2" -> (scalarFuncs2 _),
    "b22_sql_subquery" -> (sqlSubquery _),
    "b30_sql_exists" -> (sqlExists _),
    "b31_window_funcs" -> (windowFuncs _),
    "b23_pivot" -> (pivotOp _),
    "b14_approx_distinct" -> (approxDistinct _),
    "b15_events_window" -> (eventsWindowBatch _),
    "b16_events_stream" -> (eventsStream _),
    "b17_events_session" -> (eventsSession _),
    "b18_json_props" -> (jsonProps _),
    "b26_stream_join" -> (eventsStreamJoin _),
    "b27_stream_enrich" -> (eventsStreamEnrich _),
    "b28_stream_join_outer" -> (eventsStreamJoinOuter _),
    "b29_quantiles" -> (quantiles _),
    "b29b_quantiles_approx" -> (quantilesApprox _))

  /** DuckDB oracle SQL, value-identical and column-name-identical to the
    * Spark results (SURVEY §2.4 determinism rules). */
  private val MONEY_SUM = "round(sum(cast(round((%s) * 10000, 0) as bigint)) / 10000.0, 4)"
  private def msum(e: String) = MONEY_SUM.format(e)

  /** Spark-side twin of [[msum]] for `spark.sql` query text. In Spark SQL the
    * literal `10000.0` parses as DECIMAL(5,1), so `bigint / 10000.0` yields
    * DECIMAL(26,4) while DuckDB's same division yields DOUBLE — values are
    * identical but the driver's typed hash diverges (round-8 b12c failure).
    * Dividing by an explicit DOUBLE reproduces the DataFrame-API path
    * (`lit(10000.0)` = DoubleType) that hash-matches the oracle. */
  private def msumSpark(e: String) =
    s"round(sum(cast(round(($e) * 10000, 0) as bigint)) / cast(10000.0 as double), 4)"

  val oracleSql: Map[String, String] = Map(
    "b1_scan" -> "SELECT count(*) AS cnt FROM lineitem",
    "b2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber, quantity, l_returnflag""".stripMargin,
    "b3_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${msum("l_quantity")} AS sum_qty,
         |  ${msum("l_extendedprice")} AS sum_base_price,
         |  ${msum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  round(sum(cast(round(l_discount * 1000000, 0) as bigint)) / 1000000.0 / count(*), 4) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b4_join_inner" ->
      """SELECT o_orderkey, c_name, round(o_totalprice, 4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "b5_join_multi" ->
      s"""SELECT r_name, n_name,
         |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "b6_join_semi_anti" ->
      """SELECT c_custkey, 'with_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "b7_join_outer" ->
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS o_orderkey,
        |  coalesce(round(o_totalprice, 4), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "b7b_join_full" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 != 0),
         |o AS (SELECT o_custkey, count(*) AS n_orders, ${msum("o_totalprice")} AS revenue
         |  FROM orders WHERE o_custkey % 3 != 1 GROUP BY o_custkey)
         |SELECT coalesce(c_custkey, o_custkey) AS custkey,
         |  coalesce(c_mktsegment, 'NONE') AS segment,
         |  coalesce(n_orders, 0) AS n_orders, coalesce(revenue, 0.0) AS revenue
         |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
         |ORDER BY custkey""".stripMargin,
    "b8_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS total FROM orders
        |ORDER BY total DESC, o_orderkey LIMIT 10""".stripMargin,
    "b9_distinct" -> "SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY seg",
    "b9_setops" ->
      """SELECT k, 'both' AS tag FROM
        |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders)
        |UNION ALL
        |SELECT k, 'customer_only' AS tag FROM
        |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders)
        |ORDER BY tag, k""".stripMargin,
    "b9_setops_all" ->
      """SELECT k, 'once_per_customer' AS tag FROM
        |  (SELECT o_custkey AS k FROM orders INTERSECT ALL SELECT c_custkey AS k FROM customer)
        |UNION ALL
        |SELECT k, 'repeat_orders' AS tag FROM
        |  (SELECT o_custkey AS k FROM orders EXCEPT ALL SELECT c_custkey AS k FROM customer)
        |ORDER BY tag, k""".stripMargin,
    "b10_window_rank" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "b11_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(cast(round(o_totalprice * 10000, 0) as bigint)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 10000.0, 4) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "b12_rollup" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation, coalesce(o_orderpriority, 'ALL') AS priority,
         |  ${msum("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, o_orderpriority)
         |ORDER BY nation, priority""".stripMargin,
    "b12b_cube" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation, coalesce(o_orderpriority, 'ALL') AS priority,
         |  ${msum("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY CUBE(n_name, o_orderpriority)
         |ORDER BY nation, priority""".stripMargin,
    "b12c_grouping_sets" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation, coalesce(o_orderpriority, 'ALL') AS priority,
         |  ${msum("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY GROUPING SETS ((n_name), (o_orderpriority))
         |ORDER BY nation, priority""".stripMargin,
    "b32_tpch_q5" ->
      s"""SELECT n_name, ${msum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "b33_tpch_q10" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue, count(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "b34_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "b35_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 4) AS totalprice,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 260)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 4)
        |ORDER BY totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,
    "b36_tpch_q2" ->
      """SELECT o_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
        |FROM orders JOIN lineitem l ON o_orderkey = l_orderkey
        |WHERE l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
        |                         WHERE l2.l_orderkey = l.l_orderkey)
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "b37_tpch_q15" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |         ${msum("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,
    "b38_tpch_q17" ->
      """SELECT p_brand,
        |       round(sum(cast(round((l_extendedprice) * 10000, 0) as bigint))
        |             / 10000.0 / 7.0, 4) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem l JOIN part ON p_partkey = l.l_partkey
        |WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "b39_tpch_q20" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem l
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%gizmo%')
        |    AND l_quantity > (SELECT 1.8 * avg(l2.l_quantity) FROM lineitem l2
        |                      WHERE l2.l_partkey = l.l_partkey
        |                        AND l2.l_suppkey = l.l_suppkey))
        |ORDER BY s_suppkey""".stripMargin,
    "b40_tpch_q22" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |       round(sum(cast(round(c_acctbal * 10000, 0) as bigint))
        |             / 10000.0, 4) AS totacctbal
        |FROM customer c
        |WHERE cast(round(c_acctbal * 100, 0) as bigint) >
        |      (SELECT sum(cast(round(c_acctbal * 100, 0) as bigint)) / count(*)
        |       FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "b41_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "b42_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "b43_tpch_q11" ->
      """SELECT l_partkey,
        |       round(sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint))
        |             / 100.0, 4) AS value
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint)) >
        |       (SELECT sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint))
        |               * cast(1.2 as double) / count(DISTINCT l_partkey) FROM lineitem)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "b44_tpch_q14" ->
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)
        |      ELSE 0 END)
        |  / sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)), 4)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "b45_tpch_q19" ->
      """SELECT round(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint))
        |             / 10000.0, 4) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 30)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 40)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
        |       AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin,
    "b46_tpch_q7" ->
      """SELECT supp_nation, cust_nation, yr,
        |       round(sum(cast(round(volume * 10000, 0) as bigint))
        |             / 10000.0, 4) AS revenue,
        |       count(*) AS n_lines
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             year(l_shipdate) AS yr,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |GROUP BY supp_nation, cust_nation, yr
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin,
    "b47_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       round(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint))
        |             / 10000.0, 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) DESC,
        |         l_orderkey
        |LIMIT 10""".stripMargin,
    "b48_tpch_q8" ->
      """SELECT yr,
        |       round(sum(CASE WHEN nation = 'NATION_3' THEN cents ELSE 0 END)
        |             / cast(sum(cents) as double), 4) AS mkt_share,
        |       count(*) AS n_lines
        |FROM (SELECT year(o_orderdate) AS yr, n2.n_name AS nation,
        |             cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint) AS cents
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'AMERICA' AND p_type = 'PROMO')
        |GROUP BY yr ORDER BY yr""".stripMargin,
    "b49_tpch_q9" ->
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT nation, yr,
        |       round(sum(amount) / 10000.0, 4) AS sum_profit,
        |       count(*) AS n_lines
        |FROM (SELECT n_name AS nation, year(o_orderdate) AS yr,
        |             cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)
        |             - cast(round(ps_supplycost * cast(0.5 as double) * l_quantity * 10000, 0) as bigint)
        |               AS amount
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      WHERE p_name LIKE '%gizmo%')
        |GROUP BY nation, yr
        |ORDER BY nation, yr DESC""".stripMargin,
    "b50_tpch_q12" ->
      """SELECT l_returnflag,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) as bigint) AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) as bigint) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b51_tpch_q6" ->
      """SELECT round(sum(cast(round(l_extendedprice * l_discount * 10000, 0) as bigint))
        |             / 10000.0, 4) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= cast(0.05 as double) AND l_discount <= cast(0.07 as double)
        |  AND l_quantity < cast(24 as double)""".stripMargin,
    "b13_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |  concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
        |  year(o_orderdate) AS yr,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  round(abs(o_totalprice - 100000.0), 2) AS absdiff,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "b13b_scalar_funcs2" ->
      """SELECT o_orderkey,
        |  lpad(o_orderstatus, 3, '_') AS padded,
        |  trim(concat('  ', o_orderpriority, '  ')) AS trimmed,
        |  regexp_replace(o_orderpriority, '[0-9]-', '', 'g') AS depri,
        |  reverse(o_orderstatus) AS rev,
        |  cast(instr(o_orderpriority, '-') as int) AS dash_at,
        |  date_diff('day', DATE '1995-01-01', cast(o_orderdate as date)) AS days_since,
        |  cast(floor(o_totalprice / 1000) as bigint) AS price_k,
        |  round(sqrt(o_totalprice), 4) AS sqrt_price,
        |  o_orderkey % 7 AS key_mod,
        |  greatest(o_totalprice, 50000.0) AS floor50k,
        |  cast(sign(o_totalprice - 150000) as int) AS vs150k
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "b31_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  ntile(4) OVER w AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "b30_sql_exists" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "b22_sql_subquery" ->
      """SELECT c_custkey, round(c_acctbal, 4) AS bal FROM customer
        |WHERE c_acctbal > (SELECT sum(cast(round(c_acctbal * 10000, 0) as bigint)) / 10000.0 / count(*)
        |                   FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "b23_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "b15_events_window" ->
      s"""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
         |  count(*) AS n_events, ${msum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    // append-mode semantics: only windows closed by the final watermark
    // (max event time - 10 min, ms precision like Spark's) are emitted
    "b16_events_stream" ->
      s"""WITH agg AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         |    count(*) AS n_events, ${msum("value")} AS sum_value
         |  FROM events GROUP BY 1),
         |f AS (SELECT epoch_ms(max(ts)) - 600000 AS wm FROM events)
         |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS bucket, n_events, sum_value
         |FROM agg, f
         |WHERE epoch_ms(w + INTERVAL 1 HOUR) <= wm
         |ORDER BY bucket""".stripMargin,
    "b17_events_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start, n_events""".stripMargin,
    "b18_json_props" ->
      """SELECT event_id, cast(json_extract(props, '$.k') as int) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // inner stream-stream joins emit every match regardless of watermark,
    // so the streaming replay's output equals the batch join
    "b26_stream_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |  (epoch_us(c.ts) - epoch_us(v.ts)) // 60000000 AS lag_min
        |FROM events c JOIN events v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts >= c.ts - INTERVAL 24 HOUR AND v.ts <= c.ts
        |ORDER BY click_id, view_id""".stripMargin,
    // stateless per-batch join against the static dim ≡ the batch join
    "b27_stream_enrich" ->
      """SELECT event_id, user_id, c_mktsegment AS segment, round(value, 4) AS value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    // left-outer append semantics: matched pairs emit eagerly (= batch
    // join); a null row emits only for clicks the final watermark has
    // decided — a click is decidable once the watermark passes click_ts
    // since views never arrive after it (view_ts ≤ click_ts bound). The
    // watermark is computed at MILLISECOND precision like Spark's
    // (event-time stats floor to ms — same convention as the b16
    // oracle), from the min of the two sides' max event time; if either
    // side is empty its watermark never advances (Spark pins the global
    // min watermark at 0), so no null row may emit — the CASE yields
    // NULL and `epoch_us < NULL` is false for every click. NULLS FIRST
    // mirrors Spark's ascending null ordering.
    "b28_stream_join_outer" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |f AS (SELECT CASE WHEN (SELECT count(*) FROM c) = 0 OR (SELECT count(*) FROM v) = 0
        |         THEN NULL
        |         ELSE (epoch_ms(least((SELECT max(ts) FROM c), (SELECT max(ts) FROM v)))
        |               - 3600000) * 1000 END AS wm_us),
        |m AS (SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |    (epoch_us(c.ts) - epoch_us(v.ts)) // 60000000 AS lag_min
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.ts >= c.ts - INTERVAL 24 HOUR AND v.ts <= c.ts)
        |SELECT * FROM m
        |UNION ALL
        |SELECT c.event_id, cast(NULL as bigint), c.user_id, cast(NULL as bigint)
        |FROM c, f WHERE epoch_us(c.ts) < wm_us AND c.event_id NOT IN (SELECT click_id FROM m)
        |ORDER BY click_id, view_id NULLS FIRST""".stripMargin,
    // quantile_cont = percentile: both linear-interpolate (type 7)
    "b29_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |  round(quantile_cont(l_quantity, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
