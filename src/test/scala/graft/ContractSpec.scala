package graft

/** Guards the driver-facing contract: every query is one registry record
  * that carries its own oracle SQL (since r11 even q59 — its sketch
  * estimates are engine-specific, but its exact columns and
  * in-plan-enforced bound verdicts are oracle-checked, so no null row
  * remains in the round artifact), and no name appears twice in the
  * merged registry (a duplicate would make a query vanish from the
  * driver's loop without any error).
  */
class ContractSpec extends SparkTestBase {

  test("single-pass observability: attrition metrics ride the job, no rescan") {
    // the production affordance a 100-TB curation run needs for its
    // per-stage accounting (q121's attrition table): df.observe()
    // collects numeric metrics DURING the action — no second scan, no
    // cache — via an accumulator the driver reads after completion.
    // Pinned: the observed counts equal independently recomputed
    // aggregates, and the observe node is metrics-only (the surviving
    // row set is untouched).
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation("ingest")
    val ev = graft.core.Tables.events(spark, sf)
    val kept = ev.observe(obs,
        count(lit(1)).as("n_in"),
        sum(when(col("value") > 150, 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"))
      .filter(col("value") > 150)
    val nKept = kept.count()
    val m = obs.get
    assert(m("n_hi") == nKept,
      s"observed n_hi ${m("n_hi")} != surviving rows $nKept")
    assert(m("n_in") == ev.count(), s"observed n_in ${m("n_in")}")
    assert(m("n_null_props") ==
      ev.filter(col("props").isNull).count(), m.toString)
  }

  test("the merged registry names each query once, densely numbered") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    // the derived maps hold one entry per record
    assert(SparkEntry.queries.size === names.size)
    assert(SparkEntry.oracleSql.size === names.size)
    // and the merged numbering is dense 1..N (catches duplicate numbers
    // under different suffixes too)
    val ids = SparkEntry.queries.keySet.map(_.drop(1).takeWhile(_.isDigit).toInt)
    assert(ids === (1 to SparkEntry.queries.size).toSet,
      s"query numbering not dense 1..${SparkEntry.queries.size}: " +
        ((1 to SparkEntry.queries.size).toSet -- ids).mkString(","))
  }

  test("a registry that names a query twice is rejected when it is built") {
    val q = SparkEntry.registry.head
    val err = intercept[IllegalArgumentException](
      SparkEntry.checked(Seq(q, q.copy(oracle = "SELECT 1"))))
    assert(err.getMessage.contains(q.name), err.getMessage)
  }

  test("query names follow the driver's qNN_ naming and are well-formed") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("q\\d{2,}_[a-z0-9_]+"), s"bad query name: $k")
    }
  }

  test("Verify writes an error marker a failing query's slot can't hide in") {
    // A query that raises must leave a VISIBLE failure in its output
    // slot, not an absent directory the driver's compare silently skips
    // (round 11 read all-green with 7 broken queries). The marker's
    // single `_graft_error` column can never match an oracle schema.
    val out = tempDir("graft_vfail").toString
    Verify.writeErrorMarker(spark, out, "q00_boom",
      new RuntimeException("DATATYPE_MISMATCH: something broke"))
    val marker = spark.read.parquet(s"$out/q00_boom")
    assert(marker.columns.toSeq === Seq("_graft_error"))
    val msg = marker.collect().map(_.getString(0))
    assert(msg.length === 1 && msg.head.contains("DATATYPE_MISMATCH"))
  }
}
