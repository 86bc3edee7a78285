package graft

import org.apache.spark.sql.functions._

/** Storage-partitioned joins over the graft-manifest lakehouse tier:
  * two tables `PARTITIONED BY (bucket(n, k))` joined on `k` must plan
  * with ZERO Exchange — the scans report KeyGroupedPartitioning, the
  * transforms resolve through the catalog's FunctionCatalog face, and
  * EnsureRequirements proves co-partitioning from the layout alone
  * (SPARK-37377). The BucketedJoinSpec discipline, earned by the
  * connector's own hidden-partitioning layout instead of Spark's
  * bucketed-table metadata. At 100 TB this is THE fact-fact shuffle
  * eliminator: the shuffle both sides would pay is already on disk.
  */
class StoragePartitionedJoinSpec extends SparkTestBase {

  private val wh = tempDir("graft_spj").toString

  private def withCat[A](body: => A): A = {
    spark.conf.set("spark.sql.catalog.gm_spj",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_spj.root", wh)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    // both sides are FACTS at scale — disable broadcast to plan the
    // 100 TB-representative path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body finally {
      saved match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("co-bucketed manifested tables join with zero Exchange") {
    withCat {
      try {
        spark.sql("""CREATE TABLE gm_spj.fact_a (k BIGINT, va BIGINT)
          PARTITIONED BY (bucket(8, k))""")
        spark.sql("""CREATE TABLE gm_spj.fact_b (k BIGINT, vb BIGINT)
          PARTITIONED BY (bucket(8, k))""")
        // several commits → several files per bucket: grouping must
        // co-locate same-key FILES, not assume one file per key
        spark.sql(
          "INSERT INTO gm_spj.fact_a SELECT id, id * 2 FROM range(4000)")
        spark.sql("INSERT INTO gm_spj.fact_a " +
          "SELECT id, id * 3 FROM range(4000, 6000)")
        spark.sql(
          "INSERT INTO gm_spj.fact_b SELECT id, id * 5 FROM range(5000)")
        spark.sql("INSERT INTO gm_spj.fact_b " +
          "SELECT id, id * 7 FROM range(1000, 3000)")

        val joined = spark.sql("""SELECT a.k, a.va, b.vb
          FROM gm_spj.fact_a a JOIN gm_spj.fact_b b ON a.k = b.k""")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"co-bucketed manifested join should not shuffle:\n" +
            plan.take(1500))

        // control: the SAME data through unpartitioned manifested
        // tables shuffles both sides
        spark.sql("CREATE TABLE gm_spj.flat_a AS SELECT * FROM gm_spj.fact_a")
        spark.sql("CREATE TABLE gm_spj.flat_b AS SELECT * FROM gm_spj.fact_b")
        val control = spark.sql("""SELECT a.k, a.va, b.vb
          FROM gm_spj.flat_a a JOIN gm_spj.flat_b b ON a.k = b.k""")
        assert(control.queryExecution.executedPlan.toString
          .contains("Exchange"),
          "control: the unpartitioned join was expected to exchange")

        // results identical — co-location is a layout fact, not a
        // semantic change
        def key(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(joined.collect().map(key).sorted.toSeq ==
          control.collect().map(key).sorted.toSeq)

        // grouped partition count == number of live buckets: each
        // bucket's files fused into ONE partition on each side
        assert(joined.rdd.getNumPartitions == 8,
          s"expected 8 key-grouped partitions, got " +
            s"${joined.rdd.getNumPartitions}")
      } finally {
        Seq("fact_a", "fact_b", "flat_a", "flat_b").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS gm_spj.$t"))
      }
    }
  }

  test("identity-partitioned join groups by the source column; evolution in flight declines soundly") {
    withCat {
      try {
        spark.sql("""CREATE TABLE gm_spj.dim_a (g INT, va BIGINT)
          PARTITIONED BY (identity(g))""")
        spark.sql("""CREATE TABLE gm_spj.dim_b (g INT, vb BIGINT)
          PARTITIONED BY (identity(g))""")
        spark.sql("INSERT INTO gm_spj.dim_a " +
          "SELECT CAST(id % 6 AS INT), id FROM range(3000)")
        spark.sql("INSERT INTO gm_spj.dim_b " +
          "SELECT CAST(id % 6 AS INT), id * 10 FROM range(600)")
        val j = spark.sql("""SELECT a.g, count(*) AS n
          FROM gm_spj.dim_a a JOIN gm_spj.dim_b b ON a.g = b.g
          GROUP BY a.g""")
        val plan = j.queryExecution.executedPlan.toString
        // the plan prints top-down: anything AFTER the join node is
        // its input subtree — an aggregate exchange above is fine, an
        // exchange under the join is the shuffle SPJ must eliminate
        val joinAt = plan.indexOf("Join")
        assert(joinAt >= 0 && !plan.substring(joinAt).contains("Exchange"),
          s"identity SPJ shuffled under the join:\n${plan.take(1500)}")
        assert(j.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
          (0 until 6).map(g => g -> 500L * 100L).toMap)

        // PARTITION EVOLUTION in flight: files written under an older
        // spec make key-grouping unprovable — the scan must decline
        // (plan shuffles) and stay CORRECT, never group under the
        // wrong layout
        spark.sql(
          "CALL gm_spj.system.set_partition_spec('dim_b', 'bucket(4, g)')")
        spark.sql("INSERT INTO gm_spj.dim_b " +
          "SELECT CAST(id % 6 AS INT), id FROM range(60)")
        val mixed = spark.sql("""SELECT a.g, count(*) AS n
          FROM gm_spj.dim_a a JOIN gm_spj.dim_b b ON a.g = b.g
          GROUP BY a.g""")
        assert(mixed.queryExecution.executedPlan.toString
          .contains("Exchange"),
          "an evolution-mixed snapshot must not claim key grouping")
        assert(mixed.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
          (0 until 6).map(g => g -> (500L * 100L + 500L * 10L)).toMap)
      } finally {
        Seq("dim_a", "dim_b").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS gm_spj.$t"))
      }
    }
  }

  test("DSv2 writes land tuple-stamped: clustered ingest bounds files-per-tuple; UPDATE and streamed epochs keep tokens") {
    withCat {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      try {
        // partitioned AND clustered: the write face is the DSv2
        // clustered write — its compound (partition sources, cluster
        // key) range distribution makes tuples contiguous, and the
        // tuple-splitting task writers stamp ps:/pt: like the V1 stage
        spark.sql("""CREATE TABLE gm_spj.wd (k BIGINT, g INT, v BIGINT)
          PARTITIONED BY (identity(g))
          TBLPROPERTIES ('graft.cluster-by' = 'k',
                         'graft.write-partitions' = '8')""")
        spark.sql("""INSERT INTO gm_spj.wd
          SELECT id, CAST(id % 6 AS INT), id * 3 FROM range(6000)""")
        def files() = spark.sql(
          "SELECT file, partition, spec_id FROM gm_spj.wd.files").collect()
        val f1 = files()
        assert(f1.forall(r => !r.isNullAt(1) && r.getInt(2) == 0),
          "clustered ingest lost tuple tokens")
        // files-per-tuple bounded by RANGE CONTIGUITY, not task count:
        // a tuple's rows are contiguous in the compound sort, so it
        // spans only the partitions its boundary straddles (here ≤ 3
        // of 8) — per-task×per-tuple fragmentation would put every
        // tuple in ~8 files and the table at ~48
        val perTuple = f1.groupBy(_.getString(1)).map(_._2.length)
        assert(perTuple.max <= 3,
          s"files-per-tuple ${perTuple.max} — fragmentation is back")
        assert(f1.length <= 8 + 6,
          s"${f1.length} files for 6 tuples × 8 partitions — " +
            "fragmentation is back")
        // the tokens PRUNE: a one-group probe plans a strict minority
        val one = spark.table("gm_spj.wd").filter(col("g") === 3)
        assert(one.count() == 1000)
        assert(one.rdd.getNumPartitions * 2 < f1.length,
          s"identity pruning planned ${one.rdd.getNumPartitions} of " +
            s"${f1.length}")

        // an engine-planned UPDATE's rewrite output keeps the tokens
        spark.sql("UPDATE gm_spj.wd SET v = v + 1 WHERE g = 2")
        assert(files().forall(r => !r.isNullAt(1) && r.getInt(2) == 0),
          "the row-level rewrite dropped tuple tokens")
        assert(spark.table("gm_spj.wd").filter(col("g") === 2)
          .agg(sum("v")).head.getLong(0) ==
          (0 until 6000).filter(_ % 6 == 2).map(_ * 3L + 1L).sum)

        // STREAMED epochs stamp too: the native sink's task writers
        // split by tuple, so a continuously-fed table keeps pruning
        spark.sql("""CREATE TABLE gm_spj.ws (k BIGINT, g INT)
          PARTITIONED BY (identity(g))""")
        val chk = tempDir("graft_spj_chk").toString
        val in = MemoryStream[Long]
        val q = in.toDF().select(col("value").as("k"),
          (col("value") % 3).cast("int").as("g")).writeStream
          .format("graft-manifest")
          .option("checkpointLocation", chk)
          .start(s"$wh/ws")
        in.addData(0L until 300L: _*)
        q.processAllAvailable()
        in.addData(300L until 450L: _*)
        q.processAllAvailable()
        q.stop()
        val sf = spark.sql(
          "SELECT partition, spec_id FROM gm_spj.ws.files").collect()
        assert(sf.nonEmpty && sf.forall(r => !r.isNullAt(0)),
          "streamed epochs lost tuple tokens")
        val oneG = spark.table("gm_spj.ws").filter(col("g") === 1)
        assert(oneG.count() == 150)
        assert(oneG.rdd.getNumPartitions * 2 < sf.length,
          s"streamed-tuple pruning planned ${oneG.rdd.getNumPartitions} " +
            s"of ${sf.length}")
      } finally {
        Seq("wd", "ws").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS gm_spj.$t"))
      }
    }
  }

  test("catalog V2 functions are bit-identical to the write-side transform derivations") {
    withCat {
      // the SPJ proof rests on canonicalName equality of THESE
      // functions — their semantics must equal derivedExpr's exactly
      val rows = spark.sql("""SELECT
          gm_spj.bucket(8, id)                AS f_bucket,
          pmod(hash(id), 8)                   AS e_bucket,
          gm_spj.bucket(16, CAST(id AS INT))  AS f_bucket_i,
          pmod(hash(CAST(id AS INT)), 16)     AS e_bucket_i,
          gm_spj.bucket(8, concat('s', id))   AS f_bucket_s,
          pmod(hash(concat('s', id)), 8)      AS e_bucket_s,
          gm_spj.days(d)                      AS f_days,
          datediff(d, DATE'1970-01-01')       AS e_days,
          gm_spj.months(d)                    AS f_months,
          (year(d) - 1970) * 12 + month(d) - 1 AS e_months,
          gm_spj.years(d)                     AS f_years,
          year(d) - 1970                      AS e_years,
          gm_spj.hours(ts)                    AS f_hours,
          CAST((unix_seconds(ts) - pmod(unix_seconds(ts), 3600)) / 3600
            AS BIGINT)                        AS e_hours,
          gm_spj.truncate(7, id - 5000)       AS f_trunc,
          (id - 5000) - pmod(id - 5000, 7)    AS e_trunc,
          gm_spj.truncate(3, concat('abcdef', id)) AS f_trunc_s,
          substring(concat('abcdef', id), 1, 3)    AS e_trunc_s
        FROM (SELECT id,
                date_add(DATE'2021-03-30', CAST(id % 900 AS INT)) AS d,
                timestamp_seconds(id * 7919) AS ts
              FROM range(2000))""").collect()
      rows.foreach { r =>
        (0 until r.length by 2).foreach { i =>
          assert(r.get(i) == r.get(i + 1),
            s"function/derivation mismatch at field $i: " +
              s"${r.get(i)} vs ${r.get(i + 1)}")
        }
      }
    }
  }
}
