package graft

import org.apache.spark.sql.functions._

/** IDENTITY and GENERATED columns on the manifested catalog — the
  * Delta division of labor: the engine VALIDATES the DDL (capability
  * gated), the declared metadata rides the manifest schema, and the
  * CONNECTOR enforces values at write: identity cells mint
  * `start + k·step` from an OCC-guarded high-water mark (a concurrent
  * feed re-mints from the winner's mark — uniqueness by construction,
  * not by luck), generated cells compute their expression and refuse
  * mismatched explicit values inline in the write projection.
  */
class IdentityColumnsSpec extends SparkTestBase {

  private val wh = tempDir("graft_idc").toString

  test("identity + generated columns mint/compute on insert; explicit values follow ALWAYS/BY DEFAULT") {
    spark.conf.set("spark.sql.catalog.gm_idc",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_idc.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_idc.t (
        id BIGINT GENERATED ALWAYS AS IDENTITY,
        k BIGINT, cents BIGINT,
        mag BIGINT GENERATED ALWAYS AS (cents % 97))""")
      spark.sql("""INSERT INTO gm_idc.t (k, cents)
        SELECT id, id * 7 FROM range(1000)""")
      spark.sql("""INSERT INTO gm_idc.t (k, cents)
        SELECT id, id * 3 FROM range(1000, 1500)""")
      val t = () => spark.table("gm_idc.t")
      assert(t().count() == 1500)
      assert(t().select("id").distinct().count() == 1500,
        "identity values collided across commits")
      assert(t().filter(col("mag") =!= col("cents") % 97).isEmpty,
        "generated column diverged from its expression")

      // GENERATED ALWAYS refuses explicit identity values...
      intercept[Exception] {
        spark.sql("INSERT INTO gm_idc.t VALUES (999999, 1, 1, 0)")
      }
      // ...and a generated column accepts a MATCHING explicit value
      // but refuses a mismatched one (the Delta contract)
      spark.sql("INSERT INTO gm_idc.t (k, cents, mag) VALUES (2, 194, 0)")
      intercept[Exception] {
        spark.sql("INSERT INTO gm_idc.t (k, cents, mag) VALUES (2, 194, 5)")
      }
      assert(t().count() == 1501)

      // BY DEFAULT keeps explicit values and mints on the declared
      // (start, step) lattice otherwise
      spark.sql("""CREATE TABLE gm_idc.d (
        id BIGINT GENERATED BY DEFAULT AS IDENTITY
          (START WITH 100 INCREMENT BY 5),
        v BIGINT)""")
      spark.sql("INSERT INTO gm_idc.d VALUES (7, 1)")
      spark.sql("INSERT INTO gm_idc.d (v) VALUES (2)")
      val ids = spark.table("gm_idc.d")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.contains(7L), "explicit BY DEFAULT value lost")
      val minted = ids.filterNot(_ == 7L)
      assert(minted.size == 1 && minted.head >= 100L &&
        (minted.head - 100L) % 5L == 0L,
        s"minted $minted off the (100, 5) lattice")

      // identity + cluster-by refuses at CREATE (minting rides the
      // batch append path, not the DSv2 task writers)
      intercept[Exception] {
        spark.sql("""CREATE TABLE gm_idc.bad (
          id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)
          TBLPROPERTIES ('graft.cluster-by' = 'v')""")
      }
    } finally {
      Seq("t", "d", "bad").foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS gm_idc.$x"))
    }
  }

  test("concurrent identity feeds stay unique: the loser re-mints from the winner's high-water mark") {
    import graft.sources.ManifestedTable
    spark.conf.set("spark.sql.catalog.gm_idc",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_idc.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_idc.r (
        id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT)""")
      spark.sql("INSERT INTO gm_idc.r (k) SELECT id FROM range(50)")
      // interleave a full identity INSERT between the outer insert's
      // staging (hwm already read and assigned from) and its publish —
      // the OCC pin fires, the outer insert re-mints, nothing collides
      ManifestedTable.beforePublish = () =>
        spark.sql("INSERT INTO gm_idc.r (k) SELECT id FROM range(100, 170)")
      spark.sql("INSERT INTO gm_idc.r (k) SELECT id FROM range(200, 260)")
      val t = spark.table("gm_idc.r")
      assert(t.count() == 50 + 70 + 60)
      assert(t.select("id").distinct().count() == 180,
        "racing identity feeds double-assigned")
      // every row got a value (GENERATED ALWAYS never leaves NULLs)
      assert(t.filter(col("id").isNull).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_idc.r")
    }
  }
}
