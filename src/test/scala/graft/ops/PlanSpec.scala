package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Physical-plan shape assertions — the properties that make these
  * operators scale-safe must survive refactors: filters and projections
  * reach the parquet scan, fixed-size dims broadcast, top-k never fully
  * sorts, and the similarity hot path stays inside whole-stage codegen. */
class PlanSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("B2: predicate pushdown and column pruning reach the scan") {
    val p = plan(Relational.filterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate predicate not pushed:\n$p")
    // pruned read schema: only the 4 referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_tax"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("B32/B33: TPC-H chains — date range pushed to the orders scan, dims broadcast") {
    for ((df, name) <- Seq(
        (Relational.tpchQ5(spark, dir), "q5"),
        (Relational.tpchQ10(spark, dir), "q10"))) {
      val p = plan(df)
      // the range predicate (not year()) reaches parquet as a pushed
      // filter — at 100 TB this is row-group pruning vs a full scan
      assert(p.contains("GreaterThanOrEqual(o_orderdate"),
        s"$name: order-date range not pushed to the scan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name: dims not broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: non-equi join crept in:\n$p")
    }
    // q10's top-20 must not globally sort the aggregate
    val p10 = plan(Relational.tpchQ10(spark, dir))
    assert(p10.contains("TakeOrderedAndProject"), s"q10 full sort:\n$p10")
  }

  test("B30: EXISTS/NOT EXISTS decorrelate to semi/anti joins, no per-row subquery") {
    val p = plan(Relational.sqlExists(spark, dir))
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated to an anti join:\n$p")
  }

  test("B34: Q21 multi-correlated EXISTS/NOT-EXISTS on one fact → semi+anti hash joins") {
    val p = plan(Relational.tpchQ21(spark, dir))
    // both subqueries correlate on l_orderkey with a <> residual — the
    // rewrite must still be equi-hash semi/anti (the <> rides as a join
    // condition residual), never a nested loop or per-row subquery
    assert(p.contains("LeftSemi"), s"q21 EXISTS not a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"q21 NOT EXISTS not an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 degenerated to a nested loop:\n$p")
    assert(!p.contains("InSubquery"), s"q21 kept a per-row IN-subquery:\n$p")
    assert(!p.toLowerCase.contains("scalarsubquery"), s"q21 per-row scalar subquery:\n$p")
    // top-100 by wait count: no global sort of the aggregate
    assert(p.contains("TakeOrderedAndProject"), s"q21 full sort:\n$p")
  }

  test("B35: Q18 HAVING-IN subquery → one aggregated semi join, no re-aggregation per row") {
    val p = plan(Relational.tpchQ18(spark, dir))
    assert(p.contains("LeftSemi"), s"q18 IN-subquery not a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q18 nested loop:\n$p")
    // the HAVING aggregate materializes once: exactly one aggregate
    // subtree over lineitem feeding the semi join (plus the outer
    // sum(l_quantity) aggregate) — a correlated re-execution would
    // show up as a subquery node instead
    assert(!p.toLowerCase.contains("scalarsubquery"), s"q18 per-row subquery:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q18 full sort:\n$p")
  }

  test("B36: Q2 correlated scalar MIN decorrelates to one aggregate + join") {
    val p = plan(Relational.tpchQ2(spark, dir))
    // the per-row `= (SELECT min(...))` must become a single aggregate
    // over lineitem hash-joined back on l_orderkey
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"q2 min subquery did not materialize as an aggregate:\n$p")
    assert(!p.toLowerCase.contains("scalarsubquery"), s"q2 kept a per-row subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q2 nested loop:\n$p")
  }

  test("B37: Q15 CTE + uncorrelated scalar MAX — subquery evaluated once, not per row") {
    val p = plan(Relational.tpchQ15(spark, dir))
    // the uncorrelated max over the revenue CTE plans as a one-shot
    // Subquery stage feeding a literal into the filter — visible as a
    // scalar-subquery reference, NOT a join per outer row
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"q15 scalar max not planned as a one-shot subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q15 nested loop:\n$p")
    // the revenue aggregate exists in the plan (partial+final HashAggregate)
    assert(p.contains("HashAggregate"), s"q15 revenue aggregate missing:\n$p")
  }

  test("B38: Q17 correlated scalar AVG filter → one aggregate + join, no per-row subquery") {
    val p = plan(Relational.tpchQ17(spark, dir))
    // `l_quantity < (SELECT 0.2*avg WHERE l2.l_partkey = l_partkey)`
    // must materialize as ONE l_partkey-grouped avg over lineitem
    // hash-joined back — at 100 TB a per-row re-aggregation is a
    // cartesian-sized disaster
    assert(!p.toLowerCase.contains("scalarsubquery"), s"q17 kept a per-row subquery:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"q17 avg subquery did not materialize as an aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q17 nested loop:\n$p")
  }

  test("B39: Q20 nested two-level IN + composite-key correlated avg → semi joins only") {
    val p = plan(Relational.tpchQ20(spark, dir))
    // both IN levels decorrelate to semi joins; the (partkey, suppkey)
    // correlated avg becomes a composite-keyed aggregate joined back
    assert(p.contains("LeftSemi"), s"q20 IN not a semi join:\n$p")
    assert(!p.contains("InSubquery"), s"q20 kept a per-row IN-subquery:\n$p")
    assert(!p.toLowerCase.contains("scalarsubquery"), s"q20 kept a per-row scalar subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q20 nested loop:\n$p")
  }

  test("B40: Q22 NOT-EXISTS anti join + one-shot uncorrelated scalar avg") {
    val p = plan(Relational.tpchQ22(spark, dir))
    assert(p.contains("LeftAnti"), s"q22 NOT EXISTS not an anti join:\n$p")
    // the avg-over-positive-balances threshold is uncorrelated: planned
    // as a one-shot subquery stage (like b37), never re-evaluated per row
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"q22 scalar avg not planned as a one-shot subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q22 nested loop:\n$p")
  }

  test("B41: Q13 outer join stays OUTER with the <> inside it; predicate prunes pre-join") {
    val p = plan(Relational.tpchQ13(spark, dir))
    // the ON-clause filter must not convert the left join to inner —
    // customers with zero qualifying orders must survive as c_count=0
    assert(p.contains("LeftOuter"), s"q13 left join converted:\n$p")
    // the one-sided <> predicate prunes the orders side BELOW the join
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))") ||
      p.linesIterator.exists(l => l.contains("Filter") && l.contains("1-URGENT")),
      s"q13 priority predicate not pushed below the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q13 nested loop:\n$p")
  }

  test("B42: Q16 NOT IN plans an anti join; no nested loop") {
    val p = plan(Relational.tpchQ16(spark, dir))
    assert(p.contains("LeftAnti"), s"q16 NOT IN not an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q16 nested loop:\n$p")
    // count(DISTINCT) expands to the two-phase aggregate, not a global collect
    assert(p.contains("HashAggregate"), s"q16 distinct aggregate missing:\n$p")
  }

  test("B43: Q11 global-sum threshold is a one-shot subquery over the same table") {
    val p = plan(Relational.tpchQ11(spark, dir))
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"q11 global sum not a one-shot subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q11 nested loop:\n$p")
  }

  test("B44: Q14 conditional aggregation is one pass — a single aggregate over the join") {
    val p = plan(Relational.tpchQ14(spark, dir))
    // both sums (promo CASE + total) live in ONE HashAggregate pair
    // (partial + final), not two scans stitched by a join
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs == 2, s"q14 expected one partial+final aggregate pair, got $aggs:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"q14 date range not pushed:\n$p")
  }

  test("B45: Q19 disjunctive brackets — per-side factors extracted to BOTH scans") {
    val p = plan(Relational.tpchQ19(spark, dir))
    // neither side's predicates are implied by the OR as written;
    // Catalyst must extract each side's common disjunction and push it
    // (quantity brackets → lineitem scan, brand/size → part scan) while
    // the full cross-side bracket rides the join as a residual
    val liScan = p.linesIterator.find(l => l.contains("FileScan") && l.contains("l_quantity"))
      .getOrElse("")
    // a pushed predicate VALUE, not just the column name (which the
    // scan's output/ReadSchema always carries): the extracted bracket
    // bound must appear inside the scan's filter list
    assert(liScan.contains("GreaterThanOrEqual(l_quantity"),
      s"q19 quantity bracket not pushed to the lineitem scan:\n$p")
    val pScan = p.linesIterator.find(l => l.contains("FileScan") && l.contains("p_brand"))
      .getOrElse("")
    assert(pScan.contains("Brand#"), s"q19 brand factor not at the part scan:\n$p")
    // the bracket-filtered part list BROADCASTS (the author hint): the
    // round-11 sf100 weak cell was this join falling to SortMergeJoin
    // because a non-CBO estimate never shrinks on a filter — 4.69 GB of
    // lineitem shuffle that sf10 never pays
    assert(p.contains("BroadcastHashJoin"), s"q19 part list not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q19 nested loop:\n$p")
  }

  test("B45/B48/B49: dimHint self-disables past the conf boundary and yields to CBO where estimable") {
    // default boundary: the hint fires (the sf100 A/B plans unchanged)
    assert(Relational.dimHint(spark, dir, Seq(("part", 0.09, 0.33, true)))
      .contains("BROADCAST(part)"))
    // past the boundary: no hint — the comment-prose scale limit is now conf
    spark.conf.set("graft.hints.maxBroadcastBytes", "1")
    try assert(Relational.dimHint(spark, dir, Seq(("part", 0.09, 0.33, true))) == "")
    finally spark.conf.unset("graft.hints.maxBroadcastBytes")
    // CBO on: estimable predicates yield to the stats; contains-filtered
    // dims (CBO-blind) keep the author hint — and q8's pair splits
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      assert(Relational.dimHint(spark, dir, Seq(("part", 0.09, 0.33, true))) == "")
      assert(Relational.dimHint(spark, dir, Seq(("part", 0.05, 0.1, false)))
        .contains("BROADCAST(part)"))
      assert(Relational.dimHint(spark, dir,
        Seq(("part", 0.05, 0.1, true), ("customer", 1.0, 0.25, false)))
        == "/*+ BROADCAST(customer) */ ")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
    // correctness is hint-independent: q19 with the hint disabled
    // returns the identical rows
    val base = Relational.tpchQ19(spark, dir).collect().toSeq
    spark.conf.set("graft.hints.maxBroadcastBytes", "1")
    try assert(Relational.tpchQ19(spark, dir).collect().toSeq == base)
    finally spark.conf.unset("graft.hints.maxBroadcastBytes")
  }

  test("B46: Q7 nation-pair OR — per-side name factors prune both dim scans") {
    val p = plan(Relational.tpchQ7(spark, dir))
    // nation joins twice; each side's OR-factor (name IN the pair) must
    // reach ITS dim scan so the broadcasts build on 2 rows, with the
    // directed-pair disjunction as the final join's residual
    val nScans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("n_name") && l.contains("NATION_")).toSeq
    assert(nScans.size == 2, s"q7 nation-name factors not pushed to both dim scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q7 nested loop:\n$p")
  }

  test("B47: Q3 — segment/date filters pushed, top-10 is TakeOrderedAndProject") {
    val p = plan(Relational.tpchQ3(spark, dir))
    // all three pre-join filters reach their scans: at 100 TB the
    // composition's cost is the pruned fraction of each input
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"q3 segment predicate not pushed to the customer scan:\n$p")
    assert(p.contains("LessThan(o_orderdate"), s"q3 order-date bound not pushed:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"), s"q3 ship-date bound not pushed:\n$p")
    // top-10 by revenue: never a global sort of the per-order aggregate
    assert(p.contains("TakeOrderedAndProject"), s"q3 full sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q3 nested loop:\n$p")
  }

  test("B48: Q8 — 8-relation graph broadcasts dims, share is ONE aggregate pair") {
    val p = plan(Relational.tpchQ8(spark, dir))
    // region's name filter prunes its broadcast build before the n1 join
    assert(p.contains("EqualTo(r_name,AMERICA)"),
      s"q8 region predicate not pushed to its scan:\n$p")
    assert(p.contains("EqualTo(p_type,PROMO)"), s"q8 part predicate not pushed:\n$p")
    // nation appears twice (customer side + supplier side): two scans
    val nScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("n_nationkey"))
    assert(nScans == 2, s"q8 expected nation scanned twice, got $nScans:\n$p")
    // the CASE share and the total live in one partial+final aggregate
    // pair over the join — never two scans stitched by a self-join
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs == 2, s"q8 expected one aggregate pair, got $aggs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q8 nested loop:\n$p")
  }

  test("B49: Q9 — composite-key partsupp join keyed on BOTH columns; LIKE pushed as StringContains") {
    val p = plan(Relational.tpchQ9(spark, dir))
    // the derived partsupp joins back on (partkey, suppkey) as ONE
    // two-column hash join — not a single-key join + residual filter,
    // not a nested loop
    val composite = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) &&
        l.contains("ps_partkey") && l.contains("ps_suppkey"))
    assert(composite, s"q9 partsupp join not keyed on the composite key:\n$p")
    // the non-sargable LIKE still reaches the part scan as StringContains
    assert(p.contains("StringContains(p_name,gizmo)"),
      s"q9 name filter not pushed to the part scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q9 nested loop:\n$p")
  }

  test("B50: Q12 — returnflag IN + date range pushed; both CASE sums in one aggregate pair") {
    val p = plan(Relational.tpchQ12(spark, dir))
    assert(p.contains("In(l_returnflag, [A,R])"),
      s"q12 returnflag IN not pushed to the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"q12 date range not pushed:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs == 2, s"q12 expected one aggregate pair, got $aggs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q12 nested loop:\n$p")
  }

  test("B51: Q6 — pure scan aggregate: no join anywhere, all three predicates at the scan") {
    val p = plan(Relational.tpchQ6(spark, dir))
    assert(!p.contains("Join"), s"q6 grew a join:\n$p")
    // the full predicate set prunes at the scan: date range + discount
    // bracket + quantity cap (the discount comparisons stay DOUBLE —
    // the explicit casts keep Spark's decimal literal out of the
    // comparison; a decimal compare would also break the pushdown).
    // Asserted on the Filter node (the rendered PushedFilters list
    // truncates at ~100 chars, cutting the later entries mid-name).
    assert(p.contains(">= 1996-01-01 00:00:00)"), s"q6 date range not in the scan filter:\n$p")
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)"),
      s"q6 discount bracket not in the scan filter:\n$p")
    assert(p.contains("< 24.0)"), s"q6 quantity cap not in the scan filter:\n$p")
  }

  test("B5: fixed-size dims broadcast; fact joins do not nest loops") {
    val p = plan(Relational.joinMulti(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"nation/region not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"non-equi join crept into the chain:\n$p")
  }

  test("B8: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.sortLimitTopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("B3: partial aggregation before the shuffle (map-side combine)") {
    val p = plan(Relational.aggGroup(spark, dir))
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0, s"no hash aggregate:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("C3: cosine scoring runs inside whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    val df = Similarity.simTopK(spark, dir)
    df.collect() // finalize the adaptive plan — codegen stages appear post-execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_cosine"), s"native cosine not in plan:\n$p")
    // codegen stages render as "*(n)" prefixes in the executed plan
    assert(p.contains("*("), s"no codegen span:\n$p")
    // the scoring projection must not fall back to interpreted eval:
    // graft_cosine appears inside a codegen stage (marked by *(n) prefix)
    val scoringLine = p.linesIterator.find(_.contains("graft_cosine")).getOrElse("")
    assert(scoringLine.trim.stripPrefix("+- ").startsWith("*"),
      s"cosine projection outside codegen: $scoringLine\nfull plan:\n$p")
  }

  test("C1: dedup aggregates with partial combine, no shuffle of full text") {
    val p = plan(Pipeline.dedupExact(spark, dir))
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("C2/C4: every tokenizing split stays lambda-bound after optimization") {
    // CollapseProject inlines plain column aliases into consumers; a
    // `tokens[i]` reference inside the shingle transform then re-splits
    // the text per shingle index — O(tokens²)/row, found at sf1. The
    // bound form `transform(array(split(..)), toks -> ..)` is opaque to
    // the optimizer, so every split in the OPTIMIZED plan must appear in
    // exactly that shape.
    def check(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val op = df.queryExecution.optimizedPlan.toString
      val all = "split\\(text".r.findAllIn(op).length
      val bound = "transform\\(array\\(split\\(text".r.findAllIn(op).length
      assert(all > 0 && all == bound,
        s"$name: $all split(text) occurrences but only $bound lambda-bound — inlining regressed")
    }
    check(Similarity.dedupNgram(spark, dir), "dedupNgram")
    check(Similarity.dedupNgramScaled(spark, dir), "dedupNgramScaled")
    check(Pipeline.fingerprint(spark, dir), "fingerprint")
    check(Curation.qualityRepetition(spark, dir), "qualityRepetition")
  }

  test("C12: eval gram hashes broadcast — no hash shuffle on the streamed corpus side") {
    val p = plan(Curation.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    // the streamed (corpus) side — printed between the join line and its
    // BroadcastExchange build child — carries exactly ONE exchange: the
    // intended round-robin repartition that decouples gram parallelism
    // from input file count. The exploded corpus grams themselves flow
    // map-side into the join; hash shuffles sit only in the small build
    // subtree and the post-join aggregation.
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val buildIdx = p.indexOf("BroadcastExchange", joinIdx)
    assert(joinIdx >= 0 && buildIdx > joinIdx, s"unexpected plan shape:\n$p")
    val streamedSide = p.substring(joinIdx, buildIdx)
    val exchanges = streamedSide.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size <= 1 && exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"streamed side must carry only the round-robin repartition, got $exchanges:\n$p")
    // the join compares 8-byte xxhash64 keys, never the gram strings
    assert(streamedSide.contains("xxhash64"), s"gram hashing missing from streamed side:\n$p")
  }

  test("C13: stratified sample is map-only before the presentation sort") {
    val p = plan(Curation.sampleStratified(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash-bucket sampling must not shuffle:\n$p")
  }

  test("C32: BPE encode is a map-only projection with the codec in-plan") {
    // the merge table ships inside the expression (plan literal), so
    // tokenizing an arrival batch is Project over Scan — no join on a
    // vocab table, no exchange of any kind
    val modelDir = java.nio.file.Files.createTempDirectory("graft_bpe_plan").toString
    Training.fitBpe(spark,
      Relational.table(spark, dir, "documents").filter(org.apache.spark.sql.functions.col("doc_id") % 20 =!= 7),
      modelDir, 50, 65536)
    val p = plan(Training.tokenizeBpe(spark,
      Relational.table(spark, dir, "documents").filter(org.apache.spark.sql.functions.col("doc_id") % 20 === 7),
      modelDir))
    assert(!p.contains("Exchange"), s"BPE encode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"BPE encode must not join:\n$p")
    assert(p.contains("graft_bpe_encode"), s"codec expression missing from plan:\n$p")
  }

  test("C3d: per-cell pre-top-k reuses the probe join's partitioning — no extra exchange") {
    // expected hash exchanges: probes→join(cand_cell), corpus→join(cand_cell),
    // global top-3 window (va). The per-cell (cand_cell, va) window must ride
    // the join's hashpartitioning(cand_cell) with only a local sort — a 4th
    // exchange means the 2.8e9-row pre-top-k shuffle came back (sf10 finding).
    val p = plan(Similarity.knnJoinIvf(spark, dir))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 3, s"expected 3 hash exchanges, got $hashEx:\n$p")
  }

  test("C3e: two-level probe screens inside one generated expression — no candidate shuffle") {
    // the n·nprobe·cellpop candidate set must exist ONLY inside the
    // codegen'd hamming scan: every exchange in this plan carries
    // linear-size data. The 7: directory groupBy(cell), probes→screen
    // join(cand_cell) [directory side reuses the groupBy partitioning],
    // shortlist window (va), vb re-rank join streamed+build, va re-rank
    // join streamed+build; the final top-3 window rides the va join's
    // partitioning (an 8th exchange = the window re-shuffle came back).
    val p = plan(Similarity.knnJoinIvf2(spark, dir))
    assert(p.contains("graft_hamming_topk"), s"native screen missing from plan:\n$p")
    // (graft_srp_sign is invisible here by design: the signature frame
    // is localCheckpoint'd, so the final plan starts at the checkpoint)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 7, s"expected 7 linear-size hash exchanges, got $hashEx:\n$p")
    // probe-side cell choice stays map-side: the codegen'd NearestCells
    // expression carries the centroid matrix in-plan (no crossJoin row,
    // no broadcast, no nested-loop join anywhere)
    assert(p.contains("graft_nearest_cells"), s"native cell choice missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probe side fell to a loop join:\n$p")
  }

  test("C2c: one simhash projection feeds the bands; candidates join shuffle-hash") {
    val p = plan(Similarity.dedupSimHash(spark, dir))
    // the 256-bit vote pass must run ONCE per row — an inlined copy per
    // band would run it 8× (the withShingles lesson). One projection
    // upstream of the self-join's two branches ⇒ ≤2 plan occurrences.
    val sigs = p.linesIterator.count(_.contains("graft_simhash"))
    assert(sigs >= 1 && sigs <= 2, s"simhash should project once per join branch, got $sigs:\n$p")
    // band candidates meet in an equi-join on (band, key) — hash, never
    // a loop join; no O(n²) shape anywhere in the plan
    assert(p.contains("ShuffledHashJoin"), s"band join lost its shuffle-hash hint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"band join fell to a loop join:\n$p")
  }

  test("C19/C20: exploded aggregates partial-combine map-side; vocab top-k never global-sorts") {
    // explode fans the corpus out, but the shuffle must carry only
    // (group, partial) rows — partial aggregation below the exchange
    val pc = plan(Similarity.groupCentroid(spark, dir))
    assert(pc.contains("partial"), s"centroid agg lost map-side combine:\n$pc")
    val pv = plan(Pipeline.vocabTopK(spark, dir))
    assert(pv.contains("partial"), s"vocab agg lost map-side combine:\n$pv")
    assert(pv.contains("TakeOrderedAndProject"), s"vocab top-k fully sorts:\n$pv")
  }

  test("C16/C17: PII scrub and repetition stats are map-only before the presentation sort") {
    // both are per-row expression pipelines: at 100 TB they run at scan
    // speed iff no hash exchange sneaks in before the output ordering
    for ((name, df) <- Seq(
        "piiRedact" -> Curation.piiRedact(spark, dir),
        "qualityRepetition" -> Curation.qualityRepetition(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not hash-shuffle:\n$p")
    }
  }

  test("C18: the mixture window runs over the STRATA aggregate, not the corpus") {
    val p = plan(Curation.mixWeights(spark, dir))
    // corpus rows hash-shuffle once into the (lang, source) aggregate;
    // the single-partition window sits above the aggregated strata
    // plans print root-first: the window consuming the aggregate means
    // Window appears above the first HashAggregate
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"window must consume the aggregate:\n$p")
    assert(p.contains("SinglePartition"), s"strata window should be single-partition:\n$p")
  }

  test("C15: packing windows shuffle once, on the composite (lang, shard) key") {
    val p = plan(Curation.packSequences(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1,
      s"expected exactly 1 hash exchange (stratum window), got ${exchanges.size}:\n$p")
    // the window partitions on BOTH keys — the majority language spreads
    // across shard sub-strata instead of one task chain
    assert(exchanges.head.contains("lang") && exchanges.head.contains("shard"),
      s"window exchange not on (lang, shard): ${exchanges.head}\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("C23: chunk shuffles carry 8-byte hashes; two corpus passes, no outer join") {
    val p = plan(Training.dedupPassage(spark, dir))
    // the dup-set aggregate and the flag join both key on xxhash64(chunk):
    // no exchange may hash-partition on the chunk STRING
    p.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(!l.contains("chunk"), s"chunk string used as shuffle key: $l")
    }
    assert(!p.contains("CartesianProduct"), s"cartesian in passage dedup:\n$p")
    // single-flow reconstruction: the first draft's stitch-join planned
    // the explode three times
    assert(p.linesIterator.count(_.contains("Generate posexplode")) == 2,
      s"explode count regressed:\n$p")
  }

  test("C23b: span-window shuffles carry 8-byte hashes; no window string as a key") {
    val p = plan(Training.dedupSpan(spark, dir))
    // the every-offset window explode emits one xxhash64 long per
    // token; every exchange after it must key on the hash or on
    // (doc_id, pos) ints — a window STRING key would shuffle ~8x the
    // corpus text
    p.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(!l.contains("win") && !l.contains("chunk"),
        s"window string used as shuffle key: $l")
    }
    assert(!p.contains("CartesianProduct"), s"cartesian in span dedup:\n$p")
  }

  test("C24: corpus total is a map-only scan, not a second vocab aggregate") {
    val p = plan(Training.docLogprob(spark, dir))
    assert(p.linesIterator.count(_.contains("Generate explode")) == 2,
      s"vocab subplan recomputed (3 explodes) or fused wrong:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in logprob:\n$p")
  }

  test("C24b: persisted-LM scoring broadcasts the vocab — no token-keyed exchange") {
    val p = plan(Training.queries("c24b_doc_logprob_lm")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"LM join not broadcast:\n$p")
    // the scored batch must never hash-shuffle on the token: the only
    // exchanges allowed are the per-doc aggregate's (doc_id) and the
    // LM FIT's vocab build (tok scoped to the fit subtree, which runs
    // before the wrapper's score plan — the score plan here is fit-free)
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("tok"), s"scored batch shuffled on token: $l")
    }
  }

  test("C27: the store probe broadcasts arrival keys — corpus bands never shuffle") {
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft_c27_plan_").toString
    val docs = Relational.table(spark, dir, "documents")
    Similarity.buildNearDupIndex(spark, docs.filter(col("doc_id") % 20 =!= 7), idx)
    val arr = Similarity.hashedShingles(spark, docs.filter(col("doc_id") % 20 === 7))
    val p = plan(Similarity.probeNearDupIndex(spark, idx, arr))
    // arrival keys are the broadcast build; the corpus bands scan is
    // probed map-side — 16-byte rows, zero corpus-side exchange
    assert(p.contains("BroadcastHashJoin"), s"arrival probe not broadcast:\n$p")
    // no hash exchange may key on the band hash: that would mean the
    // corpus bands table shuffles per arrival batch
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("bkh"), s"corpus bands shuffled on the band key: $l")
    }
  }

  test("C43c: score-time plan reads the lex + IVF indexes, never a documents scan") {
    import org.apache.spark.sql.functions.col
    val lexDir = java.nio.file.Files.createTempDirectory("graft_c43c_plan_").toString
    val docs = Relational.table(spark, dir, "documents")
    Pipeline.fitLexIndex(docs, lexDir)
    // the arrival batch arrives as an IN-MEMORY frame (what a service
    // scoring a request batch holds) — so ANY documents.parquet scan
    // in the score plan is a corpus re-read, the round-12 weak cell
    val batch = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 17 === 0).limit(4).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    import spark.implicits._
    val queryDocs = batch.toDF("doc_id", "text")
    val queryVecs = Relational.table(spark, dir, "embeddings")
      .filter(col("vec_id").isin(batch.map(_._1): _*))
      .select(col("vec_id"), col("embedding"))
    val df = Pipeline.hybridScoreIndexed(spark, lexDir,
      Similarity.ensureIndex(spark, dir), queryDocs, queryVecs)
    val p = plan(df)
    assert(!p.contains("documents.parquet"),
      s"score-time plan re-reads the corpus:\n$p")
  }

  test("C43d: the append merge plans read the pinned batch + stored index, never the old corpus") {
    import org.apache.spark.sql.functions.{col, size, split}
    val lexDir = java.nio.file.Files.createTempDirectory("graft_c43d_plan_").toString
    val docs = Relational.table(spark, dir, "documents")
    Pipeline.fitLexIndex(docs.filter(col("doc_id") % 10 =!= 7), lexDir)
    val g = IndexMeta.liveGen(spark, lexDir, "lex").get.toString
    // the production call pins the batch FIRST (Scale.pin cuts its
    // lineage), so even a batch that arrived as a corpus filter leaves
    // no corpus scan in any downstream merge plan — the structural
    // form of "an append never re-reads old-corpus text"
    val d = Scale.pin(docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks"))))
    val (terms, postings, doclens) =
      Pipeline.mergedLexFrames(spark, lexDir, Pipeline.lexHeader(spark, g, "the spec").segments,
        d, 1L, 1L, 1000)
    Seq("terms" -> terms, "postings" -> postings, "doclens" -> doclens).foreach {
      case (name, f) =>
        val p = plan(f)
        assert(!p.contains("documents.parquet"),
          s"append $name plan re-reads the corpus:\n$p")
    }
  }

  test("C43e: the tombstone-aware sparse read anti-joins broadcast tombstones, no corpus scan") {
    import org.apache.spark.sql.functions.col
    val lexDir = java.nio.file.Files.createTempDirectory("graft_c43e_plan_").toString
    val docs = Relational.table(spark, dir, "documents")
    Pipeline.fitLexIndex(docs, lexDir)
    Pipeline.deleteLexDocs(spark, lexDir,
      docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
    val batch = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 17 === 0).limit(4).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    import spark.implicits._
    val p = plan(Pipeline.sparseScoreIndexed(spark, lexDir,
      batch.toDF("doc_id", "text")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstones not applied as a broadcast anti-join:\n$p")
    assert(!p.contains("documents.parquet"),
      s"takedown read plan re-reads the corpus:\n$p")
  }

  test("C26: the per-source cap ranks salted first — the hot-domain exchange carries salt") {
    val p = plan(Curation.queries("c26_cap_per_source")(spark, dir))
    // phase 1 must hash-partition on (source, salt): a plan whose only
    // rank exchange keys on source alone has collapsed the hot domain
    // back onto one task
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("salt") && l.contains("source")),
      s"no salted rank exchange in:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected the two-phase cap's two exchanges:\n$p")
  }

  test("C34: the rate table broadcasts — the corpus selection never shuffles for the join") {
    val p = plan(Curation.queries("c34_mix_resample")(spark, dir))
    // the (lang, source) rate table is an aggregate of thousands of
    // rows at any scale — it must come back as a broadcast build; a
    // sort-merge join here would shuffle the 100 TB corpus on (lang,
    // source), with every hot language landing on one reducer
    assert(p.contains("BroadcastHashJoin"), s"rate join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the rate join:\n$p")
  }

  test("C35: eval window hashes broadcast — the training side is never shuffled for the probe") {
    val p = plan(Training.decontaminateSpan(spark, dir))
    // the eval set is suite-sized at any corpus scale: its distinct
    // hash set must come back as the broadcast build; a sort-merge
    // here would shuffle every training window hash
    assert(p.contains("BroadcastHashJoin"), s"eval probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"training side shuffled for the probe:\n$p")
  }

  test("C36: chunking is map-only — no hash exchange anywhere") {
    val p = plan(Training.chunkOverlap(spark, dir))
    // tokenize → enumerate starts → slice is per-row work; the only
    // exchanges allowed are compute sizing (round-robin) and the
    // presentation range sort — a hash exchange would mean chunk
    // assembly shuffles corpus text
    assert(!p.contains("Exchange hashpartitioning"), s"chunking hash-shuffles:\n$p")
    assert(p.contains("Generate"), s"start enumeration not an explode:\n$p")
  }

  test("C37: the split composes labels with one equi-join — no nested loop, gate stays a projection") {
    val p = plan(Curation.queries("c37_split_leakfree")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the split:\n$p")
    // the Lehmer gate must be arithmetic in the projection, never a
    // join condition (a theta-join on the hash would nested-loop)
    assert(p.contains("CASE WHEN") || p.contains("eval"),
      s"split gate missing from the projection:\n$p")
  }

  test("C25: shard shuffle reads two columns and exchanges once before presentation") {
    val p = plan(Training.shardShuffle(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text") && !readSchema.contains("lang"),
      s"scan reads unreferenced columns: $readSchema")
    // one hash exchange (on shard, for both windows) + the final range
    // sort — a second hash exchange would mean the two windows split
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"shard windows re-shuffled:\n$p")
  }

  test("B21: bucketed join plans a shuffle-free sort-merge join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (orders, customer) = Scale.bucketedTables(spark, dir)
      val joined = orders.join(customer,
        org.apache.spark.sql.functions.col("o_custkey") === org.apache.spark.sql.functions.col("c_custkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("B20: salted join equals the plain join") {
    val plain = Relational.joinInner(spark, dir).collect().toSeq
    val salted = Scale.joinSalted(spark, dir).collect().toSeq
    assert(salted == plain)
  }

  test("Scale: gram/shingle sizing repartitions ONLY an under-partitioned source") {
    import org.apache.spark.sql.functions.col
    // A production 100 TB corpus arrives thousands-partitioned: the
    // shingle/gram family must put ZERO exchange in front of it (the
    // round-9 verdict's one scale-killer class — an unconditional
    // repartition re-shuffles every corpus text byte). The local
    // single-file testdata arrives 1-partitioned and must still
    // repartition UP so signature work scales with cores.
    val cores = spark.sparkContext.defaultParallelism
    val many = java.nio.file.Files.createTempDirectory("graft_manypart_").toString
    Relational.table(spark, dir, "documents")
      .repartition(cores * 2).write.parquet(s"$many/documents.parquet")

    // the many-partitioned scan passes through sizeForCompute untouched
    val src = spark.read.parquet(s"$many/documents.parquet")
    assert(src.rdd.getNumPartitions >= cores, "fixture not many-partitioned")
    assert(Scale.sizeForCompute(src) eq src, "many-partitioned source was re-planned")

    // end-to-end: the shingle and gram projections over the
    // many-partitioned source plan with NO exchange of any kind
    for ((name, df) <- Seq(
        "hashedShingles" -> Similarity.hashedShingles(spark, src),
        "gramHashes" -> Curation.gramHashes(spark, src))) {
      val p = plan(df)
      assert(!p.contains("Exchange"),
        s"$name shuffles an already-many-partitioned corpus:\n$p")
    }

    // the under-partitioned (single-file) source still repartitions up —
    // round-robin, once
    val one = Relational.table(spark, dir, "documents")
    assert(one.rdd.getNumPartitions < cores, "sf0.001 fixture unexpectedly many-partitioned")
    val pUp = plan(Similarity.hashedShingles(spark, one))
    assert(pUp.contains("RoundRobinPartitioning"),
      s"under-partitioned source not repartitioned up:\n$pUp")

    // sizeForWrite: over-partitioned id column coalesces WITHOUT a shuffle
    val ids = src.select(col("doc_id")).repartition(cores * 8)
    val pW = plan(Scale.sizeForWrite(ids.select(col("doc_id"))))
    // the only exchange allowed is the fixture's own repartition; a
    // coalesce adds none on top
    assert(pW.linesIterator.count(_.contains("Exchange")) <= 1,
      s"sizeForWrite added an exchange to an over-partitioned source:\n$pW")
  }

  test("Scale: sizing an exchange-bearing frame passes through and runs ZERO jobs") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // under AQE, df.rdd EXECUTES the plan's query stages to fix the
    // final plan — probing a joined/aggregated frame's partition count
    // would run its shuffles twice. The helper must detect the
    // exchange and pass through without touching .rdd at all.
    val joined = Relational.table(spark, dir, "orders")
      .join(Relational.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
    val ((sized, sizedW), jobs) = graft.tools.JobCounter.jobsDuring(spark) {
      (Scale.sizeForCompute(joined), Scale.sizeForWrite(joined))
    }
    assert(sized eq joined, "exchange-bearing frame was re-planned")
    assert(sizedW eq joined, "exchange-bearing frame was re-planned (write)")
    assert(jobs == 0, s"sizing executed $jobs job(s) — the AQE .rdd trap")
  }

  test("C38 normalize: map-only — the only exchange is the output sort") {
    val df = Pipeline.queries("c38_normalize")(spark, dir)
    val p = plan(df)
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalization must not hash-shuffle (it is a pure projection):\n$p")
    // graft_nfc runs inside whole-stage codegen, not as a fallback —
    // execute first so AQE finalizes the plan; a codegen'd stage renders
    // as `*(n) Project` in the tree string
    df.collect()
    val pFinal = plan(df)
    assert("""\*\(\d+\) Project""".r.findFirstIn(pFinal).isDefined,
      s"the normalization projection is outside whole-stage codegen:\n$pFinal")
  }

  test("C40 tf-idf: vocab-sized idf table broadcasts, no sort-merge join") {
    val p = plan(Pipeline.queries("c40_tfidf")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"idf join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tf⋈idf must not shuffle the postings to a vocab-sized table:\n$p")
  }

  test("C42 chunk+embed: map-only — no hash exchange, embedding inside codegen") {
    val docs = Relational.table(spark, dir, "documents")
    val df = Similarity.ragChunks(docs)
    val p = plan(df)
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunk+embed must not hash-shuffle (it is a generate+projection):\n$p")
    // the only allowed exchange is sizeForCompute's round-robin
    // repartition of an under-partitioned source
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"unexpected exchange kind:\n${exchanges.mkString("\n")}")
  }

  test("C41 BM25: query-term filter precedes the tf aggregate; top-10 never fully sorts") {
    val df = Pipeline.queries("c41_bm25")(spark, dir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"df/scalar joins must broadcast:\n$p")
    // the isin(query terms) filter sits below the first aggregate, so
    // only query-term postings ever reach a shuffle — on the OPTIMIZED
    // logical plan the Filter must appear under the lowest Aggregate
    val opt = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val aggs = opt.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "no aggregate in BM25 plan")
    val hasTermFilterBelowAgg = aggs.exists(_.child.collect {
      case f: Filter if f.condition.toString.contains(Pipeline.bm25Query.head) => f
    }.nonEmpty)
    assert(hasTermFilterBelowAgg,
      s"query-term filter not below the tf aggregate:\n${opt.treeString}")
  }

  test("C43 hybrid RRF: both legs TakeOrdered-bounded at depth 20 before ranking; fuse joins k-row sets") {
    val p = plan(Pipeline.queries("c43_hybrid_rrf")(spark, dir))
    // each leg bounds the corpus to rrfDepth rows BEFORE its rank
    // window — the window then sorts 20 rows, never the corpus; a
    // global Sort feeding a Window would be the 100 TB killer
    val bounded = "TakeOrderedAndProject\\(limit=20".r.findAllIn(p).size
    assert(bounded == 2, s"expected both legs TakeOrdered at depth 20, got $bounded:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      s"fused top-10 must be TakeOrdered, not a global sort:\n$p")
    // every rank window sits above a 20-row leg (no unbounded window)
    val winCount = p.linesIterator.count(_.contains("+- Window "))
    assert(winCount == 2, s"expected exactly the two 20-row rank windows:\n$p")
  }

  test("C44 corpus diff: the join sees (doc_id, digest) only — text never shuffles") {
    val df = Curation.queries("c44_corpus_diff")(spark, dir)
    // md5 is computed below the join (and therefore below its
    // exchanges), so the shuffle width is an id + a digest per row no
    // matter how large the documents are: on the OPTIMIZED plan every
    // join input's schema must already be text-free
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 1, s"diff must be ONE equi-join, got ${joins.size}")
    joins.foreach(_.children.foreach { side =>
      assert(!side.output.exists(_.name == "text"),
        s"a join input still carries document text:\n${side.treeString}")
    })
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff must be one equi-join:\n$p")
  }

  test("C33d: the tombstone-aware census broadcasts tombstones and prunes payload from the scans") {
    import org.apache.spark.sql.functions.col
    val docs = Relational.table(spark, dir, "documents")
    val st = Similarity.freshScratch(spark, "graft_c33d_plan_")
    Training.buildPretrainState(spark, docs, st)
    val vid = spark.read.parquet(
        s"$st/shards/${Training.liveSlices(spark, st).head}")
      .select(col("doc_id")).head().getLong(0)
    import spark.implicits._
    Training.tombstonePretrainDocs(spark, st, Seq(vid).toDF("doc_id"))
    val p = plan(Training.readPretrainShards(spark, st))
    // tombstones are O(deletes) — they must broadcast, never shuffle
    // the shipped rows to an exchange-keyed anti-join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstones not applied as a broadcast anti-join:\n$p")
    // the census needs (doc_id, n_chars, shard) only; the shipped
    // payload (text, bpe_tokens) must be pruned from every slice scan
    // or the census pays corpus-text I/O at 100 TB
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(rs.nonEmpty && !rs.contains("text") && !rs.contains("bpe_tokens"),
      s"census scans read shipped payload columns:\n$rs")
  }
}
