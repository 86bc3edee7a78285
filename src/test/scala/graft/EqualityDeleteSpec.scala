package graft

import org.apache.spark.sql.functions._

/** EQUALITY DELETES — the Iceberg-v2 / Flink-writer CDC construction:
  * a delete is one key-tuple sidecar written with ZERO base files read
  * or rewritten (O(batch) at any table size), scoped to the files of
  * its base snapshot, applied at read by anti-join, ABSORBED by
  * compaction. While deletes are pending, row-level DML and the
  * entry-diff streams refuse loudly (compaction owns resolution) —
  * every refusal is pinned here alongside the happy paths.
  */
class EqualityDeleteSpec extends SparkTestBase {
  import graft.sources.ManifestedTable

  private val wh = tempDir("graft_eq").toString

  test("eq-delete lifecycle: masked reads on every face, scoping, absorb, guards") {
    spark.conf.set("spark.sql.catalog.gm_eq",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_eq.root", wh)
    import spark.implicits._
    try {
      spark.sql("CREATE TABLE gm_eq.t (k BIGINT, v BIGINT)")
      spark.sql("INSERT INTO gm_eq.t SELECT id, id * 10 FROM range(1000)")
      spark.sql(
        "INSERT INTO gm_eq.t SELECT id, id * 10 FROM range(1000, 2000)")
      val dir = s"$wh/t"
      // a positional (DV) delete first — the two mask kinds compose
      ManifestedTable.deleteWhere(spark, dir, col("k") === 5L,
        dvMaxFraction = 1.0)

      def manifestRels(): Set[String] = spark.sql(
        "SELECT file FROM gm_eq.t.files").collect()
        .map(_.getString(0)).toSet
      val before = manifestRels()

      // UPSERT: keys 100..199 get fresh rows, keys 1500..1599 DELETE —
      // one commit, no base file rewritten (old entries ride verbatim)
      val vAfter = ManifestedTable.eqUpsert(spark, dir,
        (100L until 200L).map(k => (k, k * 1000L)).toDF("k", "v"),
        Seq("k"),
        deletes = Some((1500L until 1600L).toDF("k")))
      val after = manifestRels()
      assert(before.subsetOf(after),
        "eq-upsert rewrote or dropped base files")

      val expect: Map[Long, Long] =
        ((0L until 2000L).filterNot(_ == 5L)
          .map(k => k -> k * 10L).toMap --
          (1500L until 1600L)) ++
          (100L until 200L).map(k => k -> k * 1000L)
      def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // object API and SQL face agree, and both mask
      assert(asMap(ManifestedTable.read(spark, dir)
        .select("k", "v")) == expect)
      assert(asMap(spark.table("gm_eq.t").select("k", "v")) == expect)
      // column pruning that DROPS the key column still masks (the
      // reader projects the key internally)
      assert(spark.table("gm_eq.t").select("v").as[Long]
        .collect().sorted.toSeq == expect.values.toSeq.sorted)
      // count(*) cannot take the footer shortcut under masks
      assert(spark.table("gm_eq.t").count() == expect.size)
      // filters compose (including on the masked key space)
      assert(spark.table("gm_eq.t")
        .filter(col("k") >= 1400L && col("k") < 1700L).count() ==
        (1400L until 1700L).count(k => k < 1500L || k >= 1600L))
      // aggregate pushdown declines under masks: max(k) of 1500..1599
      // is deleted content and must not leak from the manifest fold
      assert(spark.table("gm_eq.t").agg(max("v")).head.getLong(0) ==
        expect.values.max)

      // TIME TRAVEL: the pre-delete snapshot shows the old world; the
      // eq commit's own snapshot applies its mask
      assert(ManifestedTable.readAt(spark, dir, vAfter - 1)
        .filter(col("k") === 1550L).count() == 1)
      assert(ManifestedTable.readAt(spark, dir, vAfter)
        .filter(col("k") === 1550L).isEmpty)

      // SCOPING: a later plain insert RE-ADDS a deleted key — files
      // newer than the delete are never masked by it
      spark.sql("INSERT INTO gm_eq.t VALUES (1550, 42)")
      assert(spark.table("gm_eq.t").filter(col("k") === 1550L)
        .select("v").head.getLong(0) == 42L)
      // ...and a SECOND eq-delete masks the re-add (sequence order)
      ManifestedTable.eqDelete(spark, dir, Seq(1550L).toDF("k"))
      assert(spark.table("gm_eq.t").filter(col("k") === 1550L).isEmpty)

      // GUARDS while pending: row-level DML, streams, CDF, ALTER of a
      // key column — all refuse with a pointer at compact
      def refuses(f: => Any): Unit = {
        val e = intercept[Exception](f)
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(m => m.contains("compact")),
          s"refusal without the compact pointer: ${e.getMessage}")
      }
      refuses(ManifestedTable.deleteWhere(spark, dir, col("k") === 1L))
      refuses(ManifestedTable.deleteMatching(spark, dir, Seq(1L).toDF("k")))
      refuses(ManifestedTable.merge(spark, dir,
        Seq((1L, 1L)).toDF("k", "v"), Seq("k")))
      refuses(spark.sql("UPDATE gm_eq.t SET v = 0 WHERE k = 1"))
      refuses(ManifestedTable.tableChanges(spark, dir, vAfter - 1,
        vAfter).collect())
      refuses(spark.read.format("graft-manifest")
        .option("readChangeFeed", true)
        .option("startingVersion", vAfter - 1).load(dir).collect())
      refuses(spark.sql("ALTER TABLE gm_eq.t RENAME COLUMN k TO kk"))
      refuses(ManifestedTable.restore(spark, dir, vAfter - 1))

      // VACUUM retains the sidecars (they are the masks)
      ManifestedTable.vacuum(spark, dir, keepLast = 1, minAgeMillis = 0)
      assert(spark.table("gm_eq.t").filter(col("k") === 1550L).isEmpty)
      assert(spark.table("gm_eq.t").count() == expect.size)

      // COMPACT absorbs: masks turn physical, tombstones land, DML
      // works again, content identical
      ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
      assert(asMap(spark.table("gm_eq.t").select("k", "v")) == expect)
      spark.sql("UPDATE gm_eq.t SET v = 7 WHERE k = 0") // no refusal
      assert(spark.table("gm_eq.t").filter(col("k") === 0L)
        .select("v").head.getLong(0) == 7L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_eq.t")
    }
  }

  test("streaming CDC upsert sink: update-mode epochs land exactly-once, equal a batch merge replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.gm_eqs",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_eqs.root", wh)
    try {
      spark.sql("CREATE TABLE gm_eqs.s (k BIGINT, v BIGINT)")
      val dir = s"$wh/s"
      val chk = tempDir("graft_eqs_chk").toString
      val in = MemoryStream[(Long, Long, String)]
      def start() = in.toDF().toDF("k", "v", "op").writeStream
        .format("graft-manifest")
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", chk)
        .option("upsertKeys", "k")
        .option("cdcTypeColumn", "op")
        .start(dir)
      // epoch 1: inserts; epoch 2: upserts + a delete
      val q = start()
      in.addData((0L until 10L).map(k => (k, k, "I")): _*)
      q.processAllAvailable()
      in.addData((3L, 333L, "U"), (4L, 444L, "U"), (7L, 0L, "D"))
      q.processAllAvailable()
      q.stop()
      // restart on the same checkpoint: epoch 3 lands once, nothing
      // replays
      val q2 = start()
      in.addData((7L, 777L, "I"), (2L, 0L, "D"))
      q2.processAllAvailable()
      q2.stop()

      // the batch MERGE replay of the same CDC feed
      val expect: Map[Long, Long] =
        ((0L until 10L).map(k => k -> k).toMap +
          (3L -> 333L) + (4L -> 444L) - 7L) + (7L -> 777L) - 2L
      assert(spark.table("gm_eqs.s").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect,
        "streamed CDC diverged from the merge replay")

      // the masks absorbed by compact keep the same content and make
      // the table streamable again
      graft.sources.ManifestedTable.compact(spark, dir, 1L << 30)
      assert(spark.table("gm_eqs.s").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_eqs.s")
    }
  }
}
