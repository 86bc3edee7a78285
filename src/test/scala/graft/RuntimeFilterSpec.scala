package graft

import org.apache.spark.sql.functions._

/** T29: runtime bloom-filter pushdown — the shuffle-side twin of T10's
  * static pushdown. When a fact table shuffle-joins a dimension that
  * carries a selective predicate, Catalyst's InjectRuntimeFilter builds a
  * bloom filter over the dimension's join keys at runtime and applies it
  * to the fact side BEFORE the exchange, so the shuffle moves only rows
  * that can possibly match — at 100 TB this is the difference between
  * shuffling the whole fact table and shuffling the ~matching fraction.
  *
  * This is a plan/feature property, not new result semantics (the filter
  * is semantically transparent), so it is pinned as a spec rather than an
  * oracle query: the filter must INJECT under fact-scale settings, and
  * the filtered join must return exactly the unfiltered result.
  */
class RuntimeFilterSpec extends SparkTestBase {

  private def factDimJoin() = {
    val li = core.Tables.lineitem(spark, sf)
    // selective dimension: one order status (equality predicates are what
    // InjectRuntimeFilter's isLikelySelective looks for)
    val o = core.Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(col("l_quantity").cast("bigint")).as("qty"))
  }

  test("bloom filter injects into the fact side and preserves the result") {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    try {
      // the local fixtures are KBs; plan the 100 TB-representative path —
      // no broadcast (neither side broadcastable at scale) and no
      // application-side size floor (a real fact side is over it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")

      val withFilter = factDimJoin()
      val optimized = withFilter.queryExecution.optimizedPlan.toString
      // creation side: a bloom_filter_agg over the dimension's join keys
      assert(optimized.contains("bloom_filter_agg(xxhash64(o_orderkey"),
        s"runtime bloom filter did not inject a creation aggregate:\n${optimized.take(1500)}")
      // application side: might_contain filtering the FACT key pre-shuffle
      assert(optimized.contains("might_contain") &&
             optimized.contains("xxhash64(l_orderkey"),
        s"bloom filter is not applied to the fact-side key:\n${optimized.take(1500)}")
      val filtered = withFilter.collect().map(_.toSeq).toSet

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = factDimJoin()
      val plainPlan = plain.queryExecution.optimizedPlan.toString
      assert(!plainPlan.contains("might_contain"),
        "control plan unexpectedly carries a bloom filter")
      assert(filtered == plain.collect().map(_.toSeq).toSet,
        "bloom-filtered join changed the result")
    } finally restore()
  }

  test("AQE splits a skewed join partition at runtime, result exact") {
    // the third runtime lever (bloom filters shrink the shuffle, DPP
    // prunes partitions, THIS fixes stragglers): a hash-partitioned
    // join sends every row of a hot key to ONE task — at 100 TB the
    // classic one-task-runs-for-hours pathology. AQE's OptimizeSkewedJoin
    // detects the oversized partition from runtime map statistics and
    // SPLITS it across tasks (duplicating the matching build rows),
    // which is semantically transparent — exactly what this pins: the
    // executed plan carries the skew=true join with a skewed shuffle
    // read, and the result equals the no-AQE reference.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    try {
      // fact-scale settings: no broadcast (forces the shuffle join the
      // skew optimizer targets), thresholds scaled to fixture bytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", "false")

      // one key owns ~half the fact: the canonical hot-key shape. Two
      // mechanical preconditions measured here the hard way: (a) a
      // skewed REDUCE partition splits along MAP-output block
      // boundaries, so a single-mapper input is unsplittable however
      // skewed — the pre-join repartition(16) provides the seams a
      // real multi-mapper fact scan has; (b) the split only happens
      // when the join feeds the RESULT stage directly — a downstream
      // exchange fragment (even a global aggregate) vetoes it, the
      // optimizer preferring a straggler over re-planning the
      // consumer (measured: the same join under agg() never splits,
      // forced or not).
      val fact = spark.range(0, 150000)
        .select(when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id")).as("k"), col("id").as("v"))
        .repartition(16, col("v"))
      val dim = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") % 7).as("w")).repartition(8)
      val joined = fact.join(dim, "k")
      val rows = joined.collect().map(_.toSeq).sortBy(_.toString)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true") && plan.contains("AQEShuffleRead skewed"),
        s"AQE did not split the skewed join:\n${plan.take(1800)}")
      // transparent: equals the broadcast formulation (no skew
      // possible by construction — the dim rides to every task)
      val expect = fact.join(broadcast(dim), "k")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(rows.nonEmpty && (rows sameElements expect),
        "skew-split join changed the result")
    } finally restore()
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    // the partition-level sibling of the bloom filter, and at 100 TB the
    // bigger lever: when the fact table is HIVE-PARTITIONED on the join
    // key and the dim side carries a selective predicate, Catalyst
    // plants a DynamicPruningExpression into the fact scan's
    // PartitionFilters — the pruned partitions' files are never even
    // LISTED into tasks, a zero-IO skip no post-scan filter can match.
    // Static pruning can't do this (the matching keys are only known
    // after the dim's filter runs); DPP reuses the broadcast exchange to
    // learn them at runtime.
    import spark.implicits._
    val dir = tempDir("graft_dpp").toString
    val ev = core.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("user_id"))
    ev.repartition(col("event_type")).write.mode("overwrite")
      .partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // dim with a likely-selective (IN) predicate — what
    // PartitionPruning's hasSelectivePredicate looks for. The dim must
    // be a REAL source: over a LocalRelation the filter constant-folds
    // into the local scan at optimization time and the heuristic never
    // sees a selective Filter node (measured here — no DPP injects)
    val dimDir = tempDir("graft_dppd").toString
    Seq("click", "purchase", "view", "error", "signup").toDF("t")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
      .filter(col("t").isin("click", "purchase"))
    val joined = fact.join(dim, fact("event_type") === dim("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val rows = joined.collect().map(_.toSeq).toSet
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan carries no DynamicPruningExpression:\n${plan.take(1500)}")
    // semantically transparent: equals the static-filter formulation
    val expect = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type").as("t")).agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(rows == expect && rows.nonEmpty,
      s"DPP changed the result: $rows vs $expect")
  }
}
