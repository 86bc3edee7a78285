package graft

/** Guards the driver-facing contract: EVERY query has an oracle (since
  * r11 even q59 — its sketch estimates are engine-specific, but its
  * exact columns and in-plan-enforced bound verdicts are oracle-checked,
  * so no null row remains in the round artifact), no oracle SQL is
  * orphaned, and the four query maps never shadow each other's keys
  * (Map ++ overwrites silently — a duplicate key would make a query
  * vanish from the driver's loop without any error).
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

  test("query and oracle maps line up (every query is oracle-checked)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${o -- q}")
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
  }

  test("no key shadowing across the four query maps") {
    val maps = Seq(
      "SparkEntry.base" -> SparkEntry.baseQueries.keySet,
      "LlmEntry" -> LlmEntry.queries.keySet,
      "StreamEntry" -> StreamEntry.queries.keySet,
      "RelEntry" -> RelEntry.queries.keySet)
    for {
      (na, a) <- maps; (nb, b) <- maps if na < nb
    } assert((a & b).isEmpty, s"$na and $nb share keys: ${a & b}")
    // sizes must add up — Map ++ would silently drop a shadowed key
    assert(SparkEntry.queries.size === maps.map(_._2.size).sum)
    // and the merged numbering is dense 1..N (catches duplicate numbers
    // under different suffixes too)
    val ids = SparkEntry.queries.keySet.map(_.drop(1).takeWhile(_.isDigit).toInt)
    assert(ids === (1 to SparkEntry.queries.size).toSet,
      s"query numbering not dense 1..${SparkEntry.queries.size}: " +
        ((1 to SparkEntry.queries.size).toSet -- ids).mkString(","))
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
