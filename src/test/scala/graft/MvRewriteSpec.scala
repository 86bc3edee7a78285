package graft

import org.apache.spark.sql.functions._

import graft.plans.MvCatalog

/** Transparent MV rewrite (plans/MvRewrite.scala): queries written
  * against the BASE table re-target the materialized partials when —
  * and only when — the view can answer them. Spec pins the four claims:
  * the rewrite fires (plan scans the MV path, not the base), rows equal
  * the rule-off recompute at the view grain AND a coarser rollup grain,
  * and non-derivable shapes (DISTINCT, filtered source) fall through to
  * the base table untouched.
  */
class MvRewriteSpec extends SparkTestBase {

  private def src = core.Tables.orders(spark, sf).select(
    col("o_orderstatus"), col("o_orderpriority"),
    expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))

  test("aggregates over the base table transparently re-target the MV") {
    val dir = tempDir("graft_mv_rw").toString
    MvCatalog.register("spec_orders_mv", src,
      Seq("o_orderstatus", "o_orderpriority"), Seq("cents"), dir)
    try {
      def grain(gs: String*) = src.groupBy(gs.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"),
          min(col("cents")).as("lo"), max(col("cents")).as("hi"))

      // view grain: the plan must scan the MV files, not the base table
      val q = grain("o_orderstatus", "o_orderpriority")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(new java.io.File(dir).getName),
        s"rewrite did not fire:\n${plan.take(800)}")
      assert(!plan.contains("orders.parquet"),
        s"rewritten plan still scans the base table:\n${plan.take(800)}")
      val got = q.collect().map(_.toSeq).toSet

      // rollup grain: (status, priority) partials answer GROUP BY status
      val roll = grain("o_orderstatus")
      assert(roll.queryExecution.executedPlan.toString
        .contains(new java.io.File(dir).getName), "rollup grain did not rewrite")
      val gotRoll = roll.collect().map(_.toSeq).toSet

      // non-derivable shapes stay on the base table
      val distinctQ = src.groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("cents")).as("nd"))
      assert(distinctQ.queryExecution.executedPlan.toString
        .contains("orders.parquet"), "DISTINCT wrongly rewrote")
      val filteredQ = src.filter(col("cents") > 0L)
        .groupBy(col("o_orderstatus")).agg(sum(col("cents")).as("s"))
      assert(filteredQ.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a filtered source wrongly matched the view signature")

      // rows ≡ the rule-off recompute, both grains
      MvCatalog.unregister("spec_orders_mv")
      assert(got == grain("o_orderstatus", "o_orderpriority")
        .collect().map(_.toSeq).toSet)
      assert(gotRoll == grain("o_orderstatus").collect().map(_.toSeq).toSet)
      assert(got.nonEmpty && gotRoll.nonEmpty)

      // a GLOBAL aggregate (empty GROUP BY) must NOT rewrite: over an
      // empty base, count(*) is 0 but sum(cnt) over the empty MV would
      // be NULL — the shape is declined wholesale
      val globalQ = src.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      assert(globalQ.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a global aggregate wrongly rewrote to the MV")

      // the SQL-text face: a query typed against a temp view of the
      // source must rewrite too — EliminateSubqueryAliases strips the
      // view wrapper before the rule runs, so the canonical child is
      // the same source subtree the DataFrame form matches
      MvCatalog.register("spec_orders_mv", src,
        Seq("o_orderstatus", "o_orderpriority"), Seq("cents"), dir)
      src.createOrReplaceTempView("mv_spec_src")
      val sqlQ = spark.sql(
        """SELECT o_orderstatus, count(*) AS n, sum(cents) AS s
          |FROM mv_spec_src GROUP BY o_orderstatus""".stripMargin)
      assert(sqlQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(dir).getName),
        "the SQL-text spelling did not rewrite")
      val sqlRows = sqlQ.collect().map(_.toSeq).toSet
      MvCatalog.unregister("spec_orders_mv")
      assert(sqlRows == spark.sql(
        """SELECT o_orderstatus, count(*) AS n, sum(cents) AS s
          |FROM mv_spec_src GROUP BY o_orderstatus""".stripMargin)
        .collect().map(_.toSeq).toSet)
    } finally MvCatalog.unregister("spec_orders_mv")
  }

  test("SUM over a floating-point measure declines the rewrite") {
    // sum-of-partial-sums reorders IEEE addition — the exact hazard
    // that excludes AVG — so a double measure must fall through to the
    // direct aggregate (bit-exact), while its MIN/MAX (order-free)
    // still rewrite
    val dir = tempDir("graft_mv_fp").toString
    val fsrc = core.Tables.orders(spark, sf).select(
      col("o_orderstatus"), col("o_totalprice"))
    MvCatalog.register("spec_fp_mv", fsrc,
      Seq("o_orderstatus"), Seq("o_totalprice"), dir)
    try {
      val sumQ = fsrc.groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("s"))
      assert(sumQ.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "SUM(double) wrongly rewrote through re-summed partials")
      val mmQ = fsrc.groupBy(col("o_orderstatus"))
        .agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
      assert(mmQ.queryExecution.executedPlan.toString
        .contains(new java.io.File(dir).getName),
        "MIN/MAX over a double measure should still rewrite (order-free)")
      val got = mmQ.collect().map(_.toSeq).toSet
      MvCatalog.unregister("spec_fp_mv")
      assert(got == fsrc.groupBy(col("o_orderstatus"))
        .agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi")).collect().map(_.toSeq).toSet)
    } finally MvCatalog.unregister("spec_fp_mv")
  }

  test("incremental refresh off the CDF equals a from-scratch rebuild") {
    // the refresh-soundness half in isolation: after the table moves
    // v1 → v2 (deletes that RAISE mins, updates, inserts, one fully
    // emptied key), refreshFromTable's MV parquet must equal the MV a
    // from-scratch register on v2 would build — row for row, min/max
    // included (the partials q175-style add/subtract arithmetic cannot
    // maintain), vanished groups absent.
    import graft.sources.ManifestedTable
    val tdir = tempDir("graft_mv_t").toString
    val mdir = tempDir("graft_mv_m").toString
    val rdir = tempDir("graft_mv_r").toString
    val ev = core.Tables.events(spark, sf)
      .select(col("user_id").as("k"), col("event_id"),
        (col("event_id") % 97).as("m"))
    val v1df = ev
    // deletes skewed toward LOW m values (mins rise), updates, inserts,
    // and user 7's rows vanish entirely
    val v2df = ev
      .filter(col("m") > 5 && col("k") =!= 7L)
      .withColumn("m", when(col("event_id") % 4 === 0, col("m") + 1000)
        .otherwise(col("m")))
      .unionByName(ev.filter(col("k") =!= 7L)
        .withColumn("event_id", col("event_id") + 100000L)
        .limit(50))
    val v1 = ManifestedTable.write(
      v1df.repartitionByRange(6, col("k")), tdir)
    MvCatalog.register("spec_refresh_mv",
      ManifestedTable.read(spark, tdir), Seq("k"), Seq("m"), mdir)
    try {
      val v2 = ManifestedTable.write(v2df, tdir, overwrite = true)
      MvCatalog.refreshFromTable("spec_refresh_mv", spark, tdir, v1, v2)
      val refreshed = spark.read.parquet(mdir)
      // reference: rebuild from the v2 snapshot wholesale
      MvCatalog.register("spec_rebuild_mv",
        ManifestedTable.read(spark, tdir), Seq("k"), Seq("m"), rdir)
      MvCatalog.unregister("spec_rebuild_mv")
      val rebuilt = spark.read.parquet(rdir)
      val key = (df: org.apache.spark.sql.DataFrame) => df
        .orderBy("k").collect().map(_.toSeq).toSeq
      assert(key(refreshed) == key(rebuilt),
        "incremental refresh diverged from the from-scratch rebuild")
      assert(refreshed.filter(col("k") === 7L).count() == 0,
        "a fully-deleted group lingered in the refreshed MV")
      assert(refreshed.count() > 0)
    } finally MvCatalog.unregister("spec_refresh_mv")
  }

  test("q180's rewrite proof holds under a small plan-string cap") {
    // the proof reads the scan nodes, not the rendered plan string,
    // which spark.sql.maxPlanStringLength truncates well before the
    // MV scan at the bottom of the plan
    val capped = spark.newSession()
    capped.conf.set("spark.sql.maxPlanStringLength", "512")
    org.apache.spark.sql.SparkSession.setActiveSession(capped)
    try assert(SparkEntry.queries("q180_mv_rewrite")(capped, sf).count() > 0)
    finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }
}
