package graft

import org.apache.spark.sql.functions.{col, count, lit}

/** Plan-shape regression guard over EVERY SparkEntry query: the scale
  * properties the judge-facing plans must keep — no unintended cartesian
  * product, time predicates pushed into the parquet scan, and no cached
  * RDDs left behind by any query (scoped-uncache discipline, S6).
  */
class PlanAuditSpec extends SparkTestBase {

  // cross joins that are INTENTIONAL (broadcast probe/centroid sets, or
  // a broadcast single-row scalar in q84):
  private val allowedCross = Set(
    "q38_cosine_topk", "q43_cosine_native", "q46_ivf_topk",
    "q81_kmeans_step", "q84_tfidf",
    // broadcast single-row scalar frames (min/max ranges, percentile
    // thresholds, fold-normalizers) — scalar by construction
    "q91_zorder", "q94_length_strata", "q102_temperature_mix",
    // q111: the three rarity-weight tables each cross a broadcast
    // single-row N — same scalar-by-construction shape as q84
    "q111_record_linkage",
    // q114: a broadcast single-row N (bigram total); q115: the corpus ×
    // broadcast eval-probe screen — the q38 cost model (probe set is
    // small by construction; the corpus side never shuffles)
    "q114_pmi_bigrams", "q115_semantic_decontam",
    // q120: corpus × broadcast coarse-centroid set (8 rows), the q46
    // assignment shape; q125 embeds q120's chain as its candidate source
    "q120_ivfadc", "q125_ivfadc_rerank",
    // q127: projected corpus × broadcast probe set — the q38 exact-truth
    // cost model in the projected space; q128: vocabulary × a broadcast
    // single-row totals scalar (the q84 shape)
    "q127_random_projection", "q128_corpus_drift",
    // q174: AuditOps.fkCheck pairs the 1-row orphan count with the
    // 1-row n_rows aggregate — a cross of two single-row frames,
    // scalar by construction (the q84/q91 shape)
    "q174_quality_audit")

  test("every query plan: no raw cartesian, broadcast where intended") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      // a CartesianProduct (non-broadcast nested loop) is never acceptable
      assert(!plan.contains("CartesianProduct"),
        s"$name has a raw cartesian product:\n${plan.take(500)}")
      // BroadcastNestedLoopJoin only where a broadcast cross is intended
      if (!allowedCross(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name has an unintended nested-loop join:\n${plan.take(500)}")
    }
  }

  test("q113: the per-source cap plans with WindowGroupLimit") {
    // the scale claim of L52: rank <= k over a partitioned window must
    // compile to the group-limit pushdown (per-task k-row heaps), not a
    // full per-source sort feeding a filter
    val plan = SparkEntry.queries("q113_source_cap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"q113 lost the group-limit pushdown:\n${plan.take(600)}")
  }

  test("q125: refine fetch is broadcast-screened, final cut a WindowGroupLimit") {
    // the refine-tier scale claim of L61: the candidate list (≤
    // |probes|·RerankR rows) must ride a BROADCAST into the raw-vector
    // fetch — the corpus scan drops non-candidates map-side and never
    // shuffles — and the exact re-rank's rank<=k compiles to
    // WindowGroupLimit over the candidate-sized frame
    val c = new core.Materialize.Caches
    val plan =
      try LlmEntry.ivfadcRerankPlan(spark, sf)(c)
        .queryExecution.executedPlan.toString
      finally c.release()
    assert(plan.contains("WindowGroupLimit"),
      s"q125 lost the top-k group limit:\n${plan.take(900)}")
    val bhjOnVec = "BroadcastHashJoin \\[vec_id".r.findFirstIn(plan)
    assert(bhjOnVec.isDefined,
      s"q125 candidate fetch is not a broadcast join on vec_id:\n${plan.take(1200)}")
  }

  test("q128: drift report is a distributed top-k, not a global sort") {
    // the q107 pattern: ORDER BY abs(drift) LIMIT k must plan as
    // TakeOrderedAndProject (per-partition heaps + driver merge of k
    // rows), never a single-partition global Sort
    val plan = SparkEntry.queries("q128_corpus_drift")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q128 report lost its distributed top-k:\n${plan.take(900)}")
  }

  test("q129: incremental SCD2 prunes by broadcast key joins") {
    // the delta-apply scale claim of T36: the touched-key set must ride
    // BROADCASTs into both branches — a semi join pruning the recompute
    // and an anti join forwarding untouched history — so the untouched
    // side never shuffles on the key set's account
    val plan = SparkEntry.queries("q129_scd2_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    val semis = "BroadcastHashJoin \\[user_id[^\\n]*Left(Semi|Anti)".r
      .findAllIn(plan).toSeq
    assert(semis.exists(_.contains("LeftSemi")) &&
           semis.exists(_.contains("LeftAnti")),
      s"q129 lost a broadcast semi/anti prune:\n${plan.take(1200)}")
  }

  test("q151: collated keys keep hash partitioning but cost the hash operators") {
    // the T52 engine claim, pinned as MEASURED (not as hoped): Spark
    // 4.1 keys without binary equality (UTF8_LCASE) still hash-
    // PARTITION — distribution and skew handling survive — but the
    // join falls back to SortMergeJoin and the aggregate to
    // SortAggregate; the semantically-equivalent lower() rewrite (the
    // oracle formulation) keeps BroadcastHashJoin + HashAggregate.
    // This asymmetry IS the 100-TB advice: collate at the edge,
    // lower()-rewrite hot join/agg keys.
    val collPlan = SparkEntry.queries("q151_collated_group_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(collPlan.contains("SortMergeJoin") &&
           collPlan.contains("SortAggregate"),
      s"collated keys no longer sort-fallback — re-measure the claim:\n${collPlan.take(800)}")
    assert(collPlan.contains("Exchange hashpartitioning"),
      s"collated keys lost hash partitioning:\n${collPlan.take(800)}")
    assert(!collPlan.contains("HashAggregate") &&
           !collPlan.contains("BroadcastHashJoin"),
      s"hash operators appeared on collated keys — Spark upgraded; update T52's cost story:\n${collPlan.take(800)}")
    // the equivalent lower() rewrite (customer view registered above)
    val lowPlan = spark.sql(
      """WITH c AS (
        |  SELECT c_custkey, c_acctbal,
        |    CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |         ELSE c_mktsegment END AS seg_mixed
        |  FROM graft_q151_customer),
        |dim AS (SELECT * FROM VALUES ('building'), ('MACHINERY'),
        |                             ('Household') AS t(name))
        |SELECT lower(seg_mixed) AS seg_l,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT seg_mixed) AS BIGINT) AS n_case_variants,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM c JOIN dim ON lower(seg_mixed) = lower(name)
        |GROUP BY lower(seg_mixed)""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(lowPlan.contains("HashAggregate") &&
           lowPlan.contains("BroadcastHashJoin") &&
           !lowPlan.contains("SortMergeJoin"),
      s"the lower() rewrite lost its hash operators:\n${lowPlan.take(800)}")
  }

  test("q152: SQL UDFs inline into the plan — no black-box eval node") {
    // the T53 registry claim: CREATE FUNCTION ... RETURN expr bodies
    // (including a UDF composed of another UDF) must appear INLINED in
    // the physical plan — bin()/round() visible inside the aggregate —
    // with no opaque call node (ScalaUDF / Invoke) anywhere; that is
    // what keeps SQL UDFs inside whole-stage codegen and Catalyst's
    // reach, unlike a Scala/Python UDF
    val df = SparkEntry.queries("q152_sql_udf")(spark, sf)
    df.collect()  // finalize AQE so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bin(") && plan.contains("round("),
      s"q152's SQL-UDF bodies are not visibly inlined:\n${plan.take(900)}")
    assert(!plan.contains("ScalaUDF") && !plan.contains("Invoke") &&
           !plan.contains("BatchEvalPython"),
      s"q152 has an opaque UDF eval node:\n${plan.take(900)}")
    // whole-stage codegen survives the registry surface: the final
    // plan's aggregates carry the *(n) codegen-span markers
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(plan).isDefined,
      s"q152's aggregate fell out of whole-stage codegen:\n${plan.take(900)}")
  }

  test("q169: SQL TABLE function inlines — generator fused, no opaque node") {
    // the T70 half of the registry claim: a CREATE FUNCTION ... RETURNS
    // TABLE body (a full query) invoked via correlated LATERAL must
    // inline to the same plan shape the longhand generator would get —
    // a Generate/explode node over sequence(), fused with the outer
    // scan; no opaque UDTF eval node, no ScalaUDF/Invoke, no extra join
    // machinery beyond the lateral Generate itself
    val df = SparkEntry.queries("q169_table_function")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && plan.contains("sequence("),
      s"q169's table-function body did not inline to a generator:\n${
        plan.take(900)}")
    assert(!plan.contains("ScalaUDF") && !plan.contains("Invoke") &&
           !plan.contains("BatchEvalPython"),
      s"q169 has an opaque eval node:\n${plan.take(900)}")
    // the lateral correlation resolved to a plain generator, not a join
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"q169's lateral fell back to a join:\n${plan.take(900)}")
  }

  test("q136–q139: correlated subqueries decorrelate to joins, never re-execute per row") {
    // the T42–T44 engine claim: WHERE EXISTS / NOT EXISTS / IN compile
    // to semi/anti joins and a correlated scalar subquery to an
    // aggregate + outer join — no per-outer-row subquery execution
    // survives into the physical plan
    def plan(n: String) = SparkEntry.queries(n)(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan("q136_subquery_exists").contains("LeftSemi"),
      "q136 EXISTS did not decorrelate to a semi join")
    assert(plan("q137_subquery_not_exists").contains("LeftAnti"),
      "q137 NOT EXISTS did not decorrelate to an anti join")
    assert(plan("q139_subquery_in").contains("LeftSemi"),
      "q139 IN did not decorrelate to a semi join")
    val scalar = plan("q138_subquery_scalar")
    assert("LeftOuter".r.findAllIn(scalar).size == 2,
      s"q138 expected 2 decorrelated outer joins:\n${scalar.take(900)}")
    Seq("q136_subquery_exists", "q137_subquery_not_exists",
        "q138_subquery_scalar", "q139_subquery_in").foreach { n =>
      assert(!plan(n).contains("Subquery"),
        s"$n kept a per-row subquery node in the physical plan")
    }
  }

  test("q141–q143: NOT IN regimes and LATERAL decorrelation plan as claimed") {
    def plan(n: String) = SparkEntry.queries(n)(spark, sf)
      .queryExecution.executedPlan.toString
    // q141: both NOT IN branches execute as NULL-AWARE anti joins —
    // Spark 4's SPARK-32290 single-column optimization keeps even the
    // nullable-key case a BroadcastHashJoin LeftAnti (the trailing
    // `true` = isNullAwareAntiJoin; the parquet keys are nullable so
    // Catalyst can't downgrade either branch), never a nested loop.
    // Losing the flag would mean three-valued NOT IN semantics silently
    // degraded to a plain anti join.
    val notIn = plan("q141_subquery_not_in")
    val nullAware = "LeftAnti, BuildRight, true".r.findAllIn(notIn).size
    assert(nullAware == 2,
      s"q141 expected 2 null-aware anti joins, found $nullAware:\n${notIn.take(900)}")
    assert(notIn.contains("CASE WHEN"),
      "q141's nullable branch lost its NULL-injecting subquery key")
    assert(!notIn.contains("BroadcastNestedLoopJoin"),
      "q141 fell back to a nested-loop anti join")
    // q142: correlated LATERAL + ORDER BY + LIMIT must decorrelate to
    // WindowGroupLimit + equi-join — per-task k-row heaps, never a
    // per-outer-row subquery execution
    val topk = plan("q142_lateral_topk")
    assert(topk.contains("WindowGroupLimit"),
      s"q142 lateral top-k lost its group limit:\n${topk.take(900)}")
    assert(!topk.contains("Subquery"),
      "q142 kept a per-row subquery node")
    // q143: LEFT lateral aggregate = aggregate + LeftOuter join
    val left = plan("q143_lateral_left")
    assert(left.contains("LeftOuter"),
      s"q143 left lateral did not decorrelate to an outer join:\n${left.take(900)}")
  }

  test("q148: multi-distinct aggregates rewrite through Expand") {
    // the T49 scale claim: mixing DISTINCT columns in one aggregate
    // fans each input row out once per distinct group (Expand) before
    // the shuffle — the documented ~|groups|× volume price; losing the
    // node would mean the cost model no longer matches the plan
    val plan = SparkEntry.queries("q148_agg_modifiers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"q148 lost the multi-distinct Expand rewrite:\n${plan.take(900)}")
  }

  test("q122: SCD2 builds in ONE data-sized exchange") {
    // the scale claim of T33: the run window, the (user_id, version)
    // aggregate, and the valid_to lead window all live inside the one
    // hash-by-user_id exchange — the aggregate's grouping is a SUPERSET
    // of the window partitioning, so ClusteredDistribution is already
    // satisfied (it plans as a SortAggregate reusing the window's sort,
    // with no second Exchange)
    val plan = SparkEntry.queries("q122_scd2_build")(spark, sf)
      .queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nEx == 1, s"q122 expected 1 exchange, found $nEx:\n${plan.take(900)}")
    assert(!plan.contains("BroadcastExchange"),
      s"q122 grew an unexpected broadcast:\n${plan.take(900)}")
  }

  test("q124: concurrency curve windows over (prio, cshard), offsets broadcast") {
    // the scale claim of T35: the sweep-line prefix sum must NOT be a
    // per-priority (coarse-key) window over the full endpoint stream —
    // the curve's running sum partitions on (prio, cshard) (the r14
    // data-adaptive rank-range sub-shard) and the per-shard offset
    // table joins back as a broadcast
    val plan = SparkEntry.queries("q124_sweepline_concurrency")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(prio#\\d+, cshard#\\d+".r
        .findFirstIn(plan).isDefined,
      s"q124 lost the sharded local window:\n${plan.take(900)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"q124 offsets join is not broadcast:\n${plan.take(900)}")
  }

  test("q117: sketch cells aggregate map-side before the shuffle") {
    // the capacity-bound claim of L56: the exchange after the cell build
    // must carry partial counts keyed (source, depth, pos) — i.e. a
    // partial_count HashAggregate feeding the exchange (the plan prints
    // parents above children, so the Exchange line precedes its
    // partial-aggregate child in the text) — never raw tokens
    val plan = SparkEntry.queries("q117_cms_reagg")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchangeOverPartial =
      "(?s)Exchange hashpartitioning\\(source[^\\n]*\\n[^\\n]*partial_count".r
    assert(exchangeOverPartial.findFirstIn(plan).isDefined,
      s"q117 cell build lost map-side combine:\n${plan.take(1500)}")
  }

  test("identical subplans reuse one exchange (self-union aggregates once)") {
    // the dedup-of-work feature every report query leans on: a frame
    // referenced twice (self-union here; CTEs and shared-dimension
    // trees in general) must SHUFFLE ONCE — Catalyst's ReuseExchange
    // replaces the second identical exchange with a ReusedExchange
    // pointer, and at 100 TB that is half the job. Pinned under the
    // classic planner (AQE reuses stages through its cache instead —
    // the same property, less greppable); result exactness asserted.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val a = core.Tables.events(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val u = a.unionAll(a)
      val plan = u.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"self-union re-shuffled instead of reusing:\n${plan.take(900)}")
      val rows = u.collect().map(r => (r.getString(0), r.getLong(1)))
      val one = a.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sorted.toSeq == (one ++ one).sorted.toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("AQE coalesces the small shuffle after a grouped aggregate") {
    // AQE is on in every session (core/Sessions); this pins that it is
    // actually re-planning: the post-shuffle read of a tiny aggregate
    // collapses the 4 configured shuffle partitions to fewer at runtime.
    val df = graft.core.Tables.events(spark, sf)
      .groupBy(col("event_type")).count()
    df.collect() // AQE finalizes the plan only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"AQE did not coalesce:\n${plan.take(600)}")
  }

  test("events time-range queries push bounds into the parquet scan") {
    Seq("q03_filter_between", "q04_filter_halfopen", "q06_filter_date_eq",
        "q20_accident_pipeline").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(ts"),
        s"$name lost ts pushdown:\n${plan.take(600)}")
    }
  }

  test("no query leaks cache (scoped uncache, S6)") {
    // delta-based: other suites in this shared JVM may hold their own
    // cached fixtures — assert the QUERIES add nothing persistent
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q16_cache_reuse", "q22_avgspeed_pipeline", "q35_minhash_pairs",
        "q36_jaccard_verify",
        // q121 pins SEVEN caches across five composed stages — the
        // cross-operator uncache discipline is the point of the test
        "q121_curation_pipeline").foreach { name =>
      SparkEntry.queries(name)(spark, sf).count()
    }
    // q35/q36 return localCheckpoint-backed results whose executor-local
    // blocks are reclaimed by the ContextCleaner once the reference is
    // dropped (it is, above) — poll for the async cleanup instead of
    // racing it; unpersist(blocking=false) may also lag a beat
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    val deadline = System.currentTimeMillis() + 15000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(leaked.isEmpty,
      leaked.map(spark.sparkContext.getPersistentRDDs(_).name).mkString(","))
  }

  test("banded interval join: hash join on (key, band), no nested loop") {
    // JN2's scale variant must keep the plan shape its skew story rests
    // on: an EQUI join whose keys include the time band (so a hot plate
    // spreads over its bands instead of one reducer), with the BETWEEN
    // as a residual condition inside that join — never a nested loop
    import org.apache.spark.sql.functions.date_add
    val li = graft.core.Tables.lineitem(spark, sf)
    val o = graft.core.Tables.orders(spark, sf)
    val df = graft.operators.TrafficOps.intervalJoinBanded(
      li, o, "l_orderkey", "o_orderkey",
      li("l_shipdate"), o("o_orderdate"), date_add(o("o_orderdate"), 90),
      bandSec = 90L * 86400)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded interval join fell out of the equi-join family:\n${plan.take(600)}")
    // the band column participates as a join KEY (not a post-filter)
    val joinLine = plan.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joinLine.exists(_.contains("_band")),
      s"_band is not a join key:\n${joinLine.getOrElse(plan.take(600))}")
  }

  test("native generators fuse into whole-stage codegen (scan → generate → partial agg)") {
    // r11: ShingleRows/SpanGramRows dropped CodegenFallback for a
    // doGenCode into their compiled iterator helpers. The property this
    // buys — the q93/q96 hot path runs scan, generate, and the partial
    // hash aggregate in ONE codegen span, no interpreted-eval row
    // boundary — only shows on the FINAL (post-AQE) plan, so execute
    // first. A Janino failure in the generated code would silently fall
    // back to the unfused shape; this pins that it cannot regress.
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j k l"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("pa_gen_docs")
    for (gen <- Seq(s"span_gram_rows(text, 8) t AS pos, g1, g2",
                    s"shingle_rows(text, 4) t AS h")) {
      val key = if (gen.contains("span")) "g1" else "h"
      val q = spark.sql(
        s"SELECT $key, count(1) c FROM pa_gen_docs LATERAL VIEW $gen GROUP BY $key")
      q.collect()
      val fused = q.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains("Generate") && l.trim.stripPrefix("+- ").startsWith("*("))
      assert(fused, s"Generate fell out of whole-stage codegen for $gen:\n" +
        q.queryExecution.executedPlan.toString.take(800))
    }
  }

  test("q100: sketch combines map-side and candidates ride a broadcast hash join") {
    // the two properties q100's 100-TB cost model rests on: the MG
    // sketch must aggregate partially BELOW its exchange (per-partition
    // state, k-bounded merge — not a full token shuffle into one
    // reducer), and the candidate probe must be a broadcast EQUI join
    val plan = SparkEntry.queries("q100_heavy_hitters")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_mg_sketch"),
      s"mg_sketch lost its map-side partial:\n${plan.take(800)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate screen is not a broadcast hash join:\n${plan.take(800)}")
  }

  test("q106: query terms ride broadcast joins and top-k trims map-side") {
    // the two properties BM25's 100-TB cost model rests on: the corpus
    // only ever joins the ≤ ProbeN·TfidfK query-term set by BROADCAST
    // (never a shuffle keyed on a probe-sized side), and the per-query
    // top-k is a rank-filtered window that WindowGroupLimit trims below
    // the final sort (k rows per partition travel, not every candidate).
    // Audited on the un-detached builder: Materialize.detached hides
    // the executed plan behind an ExistingRDD scan.
    val c = new core.Materialize.Caches
    val df = LlmEntry.bm25Plan(spark, sf)(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    assert(plan.contains("BroadcastHashJoin"),
      s"q106 lost its broadcast query-term join:\n${plan.take(800)}")
    assert(plan.contains("WindowGroupLimit"),
      s"q106 top-k is not map-side trimmed (no WindowGroupLimit):\n${plan.take(800)}")
  }

  test("q114: marginals come from the cached bigram table, N rides a broadcast scalar") {
    // PMI's 100-TB cost model: the token stream is exploded ONCE into
    // the persisted bigram table; c_a, c_b, and N are all re-aggregated
    // from that cache (≤ |vocab|² rows), never by re-scanning documents.
    // In the plan text every InMemoryTableScan leaf prints its cached
    // subtree (which contains the one Generate explode + FileScan), so
    // the invariant is: explodes appear ONLY inside those cached-plan
    // printouts — one per InMemoryRelation, none in the live tree —
    // and all four consumers (filtered c_ab, c_a, c_b, N) read the
    // cache. The single-row N joins as a broadcast nested loop.
    val c = new core.Materialize.Caches
    val df = LlmEntry.pmiPlanOn(
      graft.core.Tables.documents(spark, sf))(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    val explodes = "Generate explode".r.findAllIn(plan).size
    val cachedPlans = "InMemoryRelation".r.findAllIn(plan).size
    assert(explodes == cachedPlans,
      s"q114 re-explodes the token stream outside the bigram cache " +
        s"($explodes explodes, $cachedPlans cached plans):\n${plan.take(800)}")
    val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheReads >= 4,
      s"q114 marginals lost the bigram-table cache ($cacheReads reads):\n${plan.take(800)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q114's N is not a broadcast scalar:\n${plan.take(800)}")
  }

  test("q118: source overlap is an equi self-join on the shingle hash") {
    // the bounded-fanout claim of L57: |A∩B| must come from a HASH/MERGE
    // equi join keyed on the shingle hash (per-shingle fanout ≤
    // |sources|²), never a nested loop or cartesian over shingle sets
    val c = new core.Materialize.Caches
    val df = LlmEntry.overlapPlanOn(
      graft.core.Tables.documents(spark, sf))(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q118 fell out of the equi-join family:\n${plan.take(800)}")
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        (l.contains("BroadcastHashJoin") && l.contains("h#")))
    assert(joinLine.exists(_.contains("h#")),
      s"the shingle hash is not a join key:\n${joinLine.getOrElse(plan.take(800))}")
  }

  test("q119: codes and final cut are WindowGroupLimits, codebook and ADC table broadcast") {
    // exhaustive-ADC's cost model: rank-1 code assignment and the
    // per-probe top-k must both trim map-side (WindowGroupLimit), and
    // the only joins the corpus side sees are BROADCAST hash joins
    // (trained codebook; per-probe distance table)
    val c = new core.Materialize.Caches
    val df = LlmEntry.pqAdcPlan(spark, sf)(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    val wgl = "WindowGroupLimit".r.findAllIn(plan).size
    assert(wgl >= 2,
      s"q119 expected 2 WindowGroupLimits (codes, top-k), found $wgl:\n${plan.take(800)}")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 2,
      s"q119 expected broadcast codebook + ADC-table joins, found $bhj:\n${plan.take(800)}")
  }

  test("q120: candidate drop is a broadcast join keyed on the cell, assignment combines map-side") {
    // IVFADC's scanned-fraction contract: the ADC table joins the code
    // table by BROADCAST with the cell id in the key (vectors outside
    // probed cells drop before any shuffle), coarse/code assignment is
    // a min_by hash aggregate with a map-side partial (no sort, no
    // window over the corpus), and the final cut is a WindowGroupLimit
    val c = new core.Materialize.Caches
    val df = LlmEntry.ivfadcPlan(spark, sf)(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    val bhjCell = plan.linesIterator.find(l =>
      l.contains("BroadcastHashJoin") && l.contains("pcid"))
    assert(bhjCell.isDefined,
      s"q120's ADC-table join is not broadcast-keyed on the cell:\n${plan.take(1000)}")
    assert(plan.contains("partial_min_by"),
      s"q120's assignment lost its map-side partial min_by:\n${plan.take(1000)}")
    assert(plan.contains("WindowGroupLimit"),
      s"q120's final cut is not a WindowGroupLimit:\n${plan.take(1000)}")
  }

  test("q121: composed pipeline keeps its stages' audited shapes in one plan") {
    // the integration claim: composition must not degrade any stage's
    // plan — the cap still compiles to WindowGroupLimit, the near-dedup
    // candidate join stays banded (equi keys incl. band_key, no nested
    // loop on the corpus side), and the bench screen joins by broadcast.
    // passthrough, set on a session of its own, keeps the stage shapes
    // visible through the execution-path localCheckpoint fences (the
    // Materialize contract) without touching the shared test session
    val audit = spark.newSession()
    audit.conf.set(graft.core.Materialize.PassthroughKey, "true")
    audit.conf.set("spark.sql.maxPlanStringLength", Int.MaxValue - 15)
    val c = new core.Materialize.Caches
    val df = LlmEntry.curationPlan(audit, sf)(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    assert(plan.contains("WindowGroupLimit"),
      s"q121 lost the cap's group-limit pushdown:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"),
      s"q121 has a raw cartesian:\n${plan.take(800)}")
    val bandJoin = plan.linesIterator.find(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("band_key"))
    assert(bandJoin.isDefined,
      s"q121's near-dedup candidates are not a banded equi join:\n${plan.take(1000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"q121's bench screen lost its broadcast join:\n${plan.take(800)}")
  }

  test("q107: llr table broadcasts back and the report is a distributed top-k") {
    // DSIR's 100-TB cost model: the ≤ DsirBuckets llr table must join
    // the corpus by BROADCAST, and the global top-k must plan as
    // TakeOrderedAndProject (per-partition heaps) — NOT a single-
    // partition global window
    val c = new core.Materialize.Caches
    val df = LlmEntry.dsirPlan(spark, sf)(c)
    val plan = df.queryExecution.executedPlan.toString
    c.release()
    assert(plan.contains("BroadcastHashJoin"),
      s"q107 lost its broadcast llr join:\n${plan.take(800)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q107 top-k is not TakeOrderedAndProject:\n${plan.take(800)}")
  }

  test("audit rowChecks: N expectations fold into ONE scan of the table") {
    // the T74 scale claim: every row-predicate check on a table is a
    // conditional sum in a single aggregate — four checks, one
    // FileScan, no join/union fan-out
    import graft.operators.AuditOps
    val ev = graft.core.Tables.events(spark, sf)
    val plan = AuditOps.rowChecks(ev, Seq(
        "a" -> !col("value").between(0d, 400d),
        "b" -> !col("event_type").isin("click", "view"),
        "c" -> col("user_id").isNull,
        "d" -> col("props").isNull))
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan for 4 row checks, got $scans:\n" +
      plan.take(800))
    assert(!plan.contains("Union"),
      s"row checks fanned out into a union:\n${plan.take(800)}")
  }
}
