package graft

import org.apache.spark.sql.functions._

/** Column-level statistics through the DSv2 face: the manifest's
  * per-file HLL NDV partials (register-max merged at plan time) and
  * exact per-column NULL counts surface via
  * `Scan.estimateStatistics().columnStats()`, so Spark's COST-BASED
  * optimizer can size join cardinalities and REORDER multi-way joins —
  * the thing a 100-TB star query needs before its first shuffle is
  * planned. ANALYZE-free: the stats ride the manifest, refreshed by
  * every commit.
  */
class CboStatsSpec extends SparkTestBase {

  private val wh = tempDir("graft_cbo").toString

  test("HLL NDV and exact null counts reach the optimizer's column stats") {
    spark.conf.set("spark.sql.catalog.gm_cbo",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_cbo.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_cbo.fact (k BIGINT, d BIGINT, v BIGINT)
        TBLPROPERTIES ('graft.bloom-columns' = 'k,d')""")
      // two commits (two files) — the NDV must MERGE partials, not sum
      // them: both halves share the same 2000 d values
      spark.sql("""INSERT INTO gm_cbo.fact
        SELECT id, id % 2000, id * 3 FROM range(20000)""")
      spark.sql("""INSERT INTO gm_cbo.fact
        SELECT id, id % 2000,
               CASE WHEN id % 100 = 0 THEN NULL ELSE id END
        FROM range(20000, 40000)""")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("gm_cbo.fact")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 40000L),
        s"row count missing/wrong: ${stats.rowCount}")
      val byName = stats.attributeStats.toSeq
        .map { case (a, cs) => a.name -> cs }.toMap
      // k is unique: HLL at p=8 is ±~6.5%
      val kNdv = byName.get("k").flatMap(_.distinctCount)
        .map(_.toLong).getOrElse(0L)
      assert(kNdv > 34000 && kNdv < 46000,
        s"k NDV $kNdv is not ~40000")
      // d repeats: the merged estimate must see ~2000, NOT ~4000
      // (summing per-file counts would double)
      val dNdv = byName.get("d").flatMap(_.distinctCount)
        .map(_.toLong).getOrElse(0L)
      assert(dNdv > 1700 && dNdv < 2300, s"d NDV $dNdv is not ~2000")
      // null counts are EXACT (chunk metadata, no sketch): 200 null v
      assert(byName.get("v").flatMap(_.nullCount)
        .exists(_.toLong == 200L),
        s"v nullCount: ${byName.get("v").flatMap(_.nullCount)}")
      assert(byName.get("k").flatMap(_.nullCount).exists(_.toLong == 0L))
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.sql("DROP TABLE IF EXISTS gm_cbo.fact")
    }
  }

  test("a 3-table join reorders under CBO with manifest stats on") {
    spark.conf.set("spark.sql.catalog.gm_cbo",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_cbo.root", wh)
    try {
      // classic star shape, written in the WORST order (fact ⋈ wide
      // dim first): the cost model needs per-key NDV to see that
      // joining the tiny filter first collapses the intermediate
      spark.sql("""CREATE TABLE gm_cbo.f (k BIGINT, d BIGINT, v BIGINT)
        TBLPROPERTIES ('graft.bloom-columns' = 'k,d')""")
      spark.sql("""CREATE TABLE gm_cbo.m (d BIGINT, tag BIGINT)
        TBLPROPERTIES ('graft.bloom-columns' = 'd')""")
      spark.sql("""CREATE TABLE gm_cbo.t (d BIGINT, grp BIGINT)
        TBLPROPERTIES ('graft.bloom-columns' = 'd')""")
      spark.sql(
        "INSERT INTO gm_cbo.f SELECT id, id % 2000, id FROM range(40000)")
      spark.sql(
        "INSERT INTO gm_cbo.m SELECT id, id % 7 FROM range(2000)")
      spark.sql("INSERT INTO gm_cbo.t SELECT id * 100, id FROM range(20)")

      val q = """SELECT f.k, m.tag, t.grp
        FROM gm_cbo.f f
        JOIN gm_cbo.m m ON f.d = m.d
        JOIN gm_cbo.t t ON m.d = t.d"""
      def leafOrder(): Seq[String] = spark.sql(q)
        .queryExecution.optimizedPlan.collectLeaves()
        .map(_.toString.split('\n').head)
        .map(l => Seq("gm_cbo.f", "gm_cbo.m", "gm_cbo.t")
          .find(l.contains).getOrElse("?"))
      val baseline = leafOrder()
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val reordered = leafOrder()
      assert(reordered != baseline,
        s"CBO did not reorder: $baseline vs $reordered")
      // the 20-row filter joins before the 2000-row dim meets the fact
      assert(reordered.indexOf("gm_cbo.t") < reordered.indexOf("gm_cbo.m")
        || reordered.take(2).contains("gm_cbo.t"),
        s"tiny table not pulled forward: $reordered")
      // reorder is a COST move, not a semantic one
      val rows = spark.sql(q).collect()
      assert(rows.length == 20 * 20, s"got ${rows.length} rows")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      Seq("f", "m", "t").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS gm_cbo.$t"))
    }
  }

  test("ANALYZE TABLE feeds row-count stats into the optimizer (CBO)") {
    // the in-memory catalog forgets tables across sessions but the
    // managed location survives — clear it or the CTAS refuses
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "ord_stats")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    core.Tables.orders(spark, sf).write.mode("overwrite")
      .saveAsTable("ord_stats")
    spark.sql("ANALYZE TABLE ord_stats COMPUTE STATISTICS")
    // catalog row counts reach plan Statistics only under CBO
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("ord_stats").queryExecution.optimizedPlan.stats
      val expected = core.Tables.orders(spark, sf).count()
      assert(stats.rowCount.exists(_.toLong == expected),
        s"catalog stats missing/wrong: ${stats.rowCount}")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.sql("DROP TABLE IF EXISTS ord_stats")
    }
  }
}
