package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Source/sink format coverage beyond parquet+CSV: JSON-lines and ORC
  * round-trips with explicit schemas (schema-on-read, never inference — at
  * 100 TB an inference pass is a full extra scan), preserving timestamp
  * micros across the write/read boundary.
  */
class SourceFormatsSpec extends SparkTestBase {

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private def sample = Tables.events(spark, sf)
    .select("event_id", "ts", "user_id", "event_type", "value")
    .filter(col("event_id") < 200)

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select(col("event_id"), unix_micros(col("ts")).as("us"),
      col("user_id"), col("event_type"), col("value"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getDouble(4)))
    .sortBy(t => t._1).toSeq

  test("JSON-lines round-trip with explicit schema keeps micros + types") {
    val dir = tempDir("graft_json").toString
    val src = sample
    src.write.mode("overwrite").option("timestampFormat", TsFmt).json(dir)
    val back = spark.read.schema(src.schema)
      .option("timestampFormat", TsFmt).json(dir)
    assert(back.schema === src.schema)
    assert(key(back) === key(src) && key(back).nonEmpty)
  }

  test("ORC round-trip preserves rows and schema") {
    val dir = tempDir("graft_orc").toString
    val src = sample
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(src.schema).orc(dir)
    assert(key(back) === key(src) && key(back).nonEmpty)
  }

  test("XML round-trip with explicit schema keeps micros + types") {
    // Spark 4 upstreamed the XML source into core — the semi-structured
    // feed format (sitemaps, legacy enterprise exports) with no extra
    // dependency; same discipline as the other formats: explicit
    // schema, never inference
    val dir = tempDir("graft_xml").toString
    val src = sample
    src.write.mode("overwrite").option("rowTag", "event")
      .option("timestampFormat", TsFmt).xml(dir)
    val back = spark.read.schema(src.schema).option("rowTag", "event")
      .option("timestampFormat", TsFmt).xml(dir)
    assert(back.schema === src.schema)
    assert(key(back) === key(src) && key(back).nonEmpty)
  }

  test("Avro container round-trip keeps micros + types; logical type declared") {
    // spark-avro (the external module) isn't deployed here, so the
    // container format runs through AvroFiles — avro CORE + the Hadoop
    // FileSystem API; explicit schema both ways like every other format
    val dir = tempDir("graft_avro").toString
    val src = sample
    graft.sources.AvroFiles.write(src, dir)
    val back = graft.sources.AvroFiles.read(spark, dir, src.schema)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(key(back) === key(src) && key(back).nonEmpty)
    // the FILE schema declares timestamp-micros — interop contract: any
    // plain Avro reader sees a logical timestamp, not a bare long
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".avro")).findFirst().get()
    val rdr = new org.apache.avro.file.DataFileStream(
      java.nio.file.Files.newInputStream(f),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val tsField = rdr.getSchema.getField("ts").schema()
    rdr.close()
    import scala.jdk.CollectionConverters._
    val nonNull = tsField.getTypes.asScala
      .find(_.getType != org.apache.avro.Schema.Type.NULL).get
    assert(nonNull.getLogicalType != null &&
      nonNull.getLogicalType.getName == "timestamp-micros", tsField.toString)
    // by-name resolution: a projecting, reordered reader schema works
    val proj = org.apache.spark.sql.types.StructType(Seq(
      src.schema("event_type"), src.schema("event_id")))
    val narrow = graft.sources.AvroFiles.read(spark, dir, proj)
    assert(narrow.columns.toSeq == Seq("event_type", "event_id"))
    assert(narrow.count() == src.count())
  }

  test("graft-avro DSv2: header-only inference, pruned scan, rows match the RDD reader") {
    // the connector-API face of AvroFiles: format("graft-avro") resolves
    // through DataSourceRegister, infers the schema from ONE container
    // header (no row read — unlike JSON/CSV inference's full pass), and
    // its ScanBuilder receives Catalyst's column pruning
    val dir = tempDir("graft_avro2").toString
    val src = sample
    graft.sources.AvroFiles.write(src, dir)
    val v2 = spark.read.format("graft-avro").load(dir)
    // inferred schema round-trips types incl. timestamp-micros
    assert(v2.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(key(v2) === key(src) && key(v2).nonEmpty)
    // pruning reaches the scan: a two-column projection's BatchScan must
    // output exactly those columns (row-major Avro can't skip IO, but
    // the pruned schema skips per-field conversion — the description
    // carries the field list)
    val narrow = v2.select(col("event_type"), col("user_id"))
    narrow.collect()
    val scan = narrow.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("graft-avro") &&
      scan.contains("event_type") && scan.contains("user_id"),
      s"pruned schema did not reach the scan:\n$scan")
    assert(!scan.contains("event_id") && !scan.contains("value") &&
      !scan.contains("ts"),
      s"unpruned column leaked into the scan:\n$scan")
    // one partition per container file — the planning contract
    assert(v2.rdd.getNumPartitions ==
      graft.sources.AvroDataSource.listFiles(dir).size)
  }

  test("graft-avro DSv2 filter pushdown: accepted predicates vanish from the plan, rows exact") {
    // SupportsPushDownFilters with AUTHORITATIVE evaluation: the
    // builder keeps comparison/null filters on primitive columns and
    // returns only the rest, so Catalyst plans NO post-scan Filter for
    // them — the reader drops rows against the raw record before any
    // conversion. Exactness is therefore load-bearing (nothing
    // re-checks), which is exactly what this test holds it to.
    val dir = tempDir("graft_avro_f").toString
    val src = sample
    graft.sources.AvroFiles.write(src, dir)
    val v2 = spark.read.format("graft-avro").load(dir)
      .filter(col("user_id") < 50 && col("event_type") === "click")
    val got = key(v2)
    val want = key(src.filter(col("user_id") < 50 &&
      col("event_type") === "click"))
    assert(got === want && got.nonEmpty)
    // the predicate really moved into the scan: no FilterExec survives
    // (IsNotNull legs included — all accepted), and the scan
    // description advertises the pushed set
    val plan = v2.queryExecution.executedPlan
    assert(!plan.toString.contains("Filter ("),
      s"post-scan Filter survived pushdown:\n${plan.toString.take(800)}")
    assert(plan.toString.contains("PushedFilters: ["),
      s"scan does not advertise pushed filters:\n${plan.toString.take(800)}")
    // boundary semantics: a comparison against NULL drops the row (SQL
    // not-true), IsNull keeps exactly the null rows
    import spark.implicits._
    val ndir = tempDir("graft_avro_n").toString
    graft.sources.AvroFiles.write(
      Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
        .toDF("id", "s"), ndir)
    val nv2 = spark.read.format("graft-avro").load(ndir)
    assert(nv2.filter(col("s") > "a").collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    assert(nv2.filter(col("s").isNull).collect().map(_.getLong(0)).toSeq
      == Seq(2L))
  }

  test("graft-avro DSv2 write: commit protocol — overwrite replaces, append adds, temps invisible") {
    // the write half of the V2 face: tasks write dot-prefixed
    // .inprogress temps, the DRIVER renames on job commit (and under
    // truncate deletes the files it replaces) — so a reader never sees
    // a half-written table and SaveMode semantics hold exactly
    val dir = tempDir("graft_avro_w").toString
    val src = sample
    src.write.format("graft-avro").mode("overwrite").save(dir)
    val back1 = spark.read.format("graft-avro").load(dir)
    assert(key(back1) === key(src) && key(back1).nonEmpty)
    // no temp debris after commit
    import scala.jdk.CollectionConverters._
    def entries() = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toList
    // visible files are all containers; no .inprogress debris anywhere
    // (dot-prefixed .crc sidecars are the local ChecksumFileSystem's,
    // _-prefixed is the stats manifest — both hidden by the Hadoop
    // convention, like _SUCCESS)
    assert(entries().filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .forall(_.endsWith(".avro")), entries().toString)
    assert(entries().forall(!_.contains("inprogress")), entries().toString)
    // overwrite replaces (same count), append doubles
    src.write.format("graft-avro").mode("overwrite").save(dir)
    assert(spark.read.format("graft-avro").load(dir).count() == src.count())
    src.write.format("graft-avro").mode("append").save(dir)
    assert(spark.read.format("graft-avro").load(dir).count() == 2 * src.count())
    // interop both directions: the RDD reader consumes V2-written files
    val viaRdd = graft.sources.AvroFiles.read(spark, dir, src.schema)
    assert(viaRdd.count() == 2 * src.count())
  }

  test("graft-avro DSv2 abort: a failing job leaves no debris, prior table intact") {
    // the abort leg of the commit protocol: a job that dies mid-write
    // must rename NOTHING — the pre-existing table stays byte-intact
    // and no .inprogress temp survives (task abort deletes its own)
    import org.apache.spark.sql.functions.{expr => sexpr}
    val dir = tempDir("graft_avro_a").toString
    val src = sample
    src.write.format("graft-avro").mode("overwrite").save(dir)
    val before = spark.read.format("graft-avro").load(dir).count()
    // a row-level bomb: evaluation throws mid-partition on the writer
    intercept[Exception] {
      src.withColumn("event_id",
        sexpr("CASE WHEN event_id = 100 THEN " +
          "CAST(assert_true(false, 'boom') AS BIGINT) ELSE event_id END"))
        .write.format("graft-avro").mode("overwrite").save(dir)
    }
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(files.forall(!_.contains("inprogress")), files.toString)
    assert(spark.read.format("graft-avro").load(dir).count() == before,
      "failed overwrite damaged the existing table")
    // empty-input behavior: zero rows commit cleanly (lazy writers leave
    // no files), and the RDD reader returns an empty frame while DSv2
    // inference — which needs one header — refuses loudly
    val edir = tempDir("graft_avro_e").toString
    graft.sources.AvroFiles.write(src.limit(0), edir)
    assert(graft.sources.AvroFiles.read(spark, edir, src.schema).count() == 0L)
    intercept[Exception] {
      spark.read.format("graft-avro").load(edir).collect()
    }
  }

  test("graft-avro file skipping: the stats manifest prunes non-matching containers at planning") {
    // the move that turns pushdown into IO savings: each DSv2 writer
    // tracks per-numeric-column (lo,hi) while streaming rows, job
    // commit publishes a rename-swapped `_graft_stats` sidecar, and
    // planInputPartitions refutes pushed range/equality predicates
    // against each file's interval — files that cannot match are never
    // opened. On a range-clustered layout a selective range predicate
    // must plan strictly fewer partitions than there are containers,
    // with the answer unchanged (T38's selectivity assert, now inside
    // the connector).
    val dir = tempDir("graft_avro_s").toString
    val src = sample
    src.repartitionByRange(8, col("user_id"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val files = graft.sources.AvroDataSource.listFiles(dir).size
    assert(files >= 4, s"layout too coarse to test skipping: $files files")
    val cut = src.selectExpr("percentile_approx(user_id, 0.25)")
      .head.getLong(0)
    val filtered = spark.read.format("graft-avro").load(dir)
      .filter(col("user_id") <= cut)
    val planned = filtered.rdd.getNumPartitions
    assert(planned < files,
      s"range predicate on a range-clustered layout planned all $files files")
    assert(planned > 0 && key(filtered) === key(src.filter(col("user_id") <= cut)))
    // equality on a clustered key: at most the covering file(s) plan
    val point = spark.read.format("graft-avro").load(dir)
      .filter(col("user_id") === cut)
    assert(point.rdd.getNumPartitions < files)
    assert(point.count() == src.filter(col("user_id") === cut).count())
    // skipping is an optimization, never a dependency: a directory
    // with NO manifest (utility-written containers) plans every file
    // and still answers exactly
    val udir = tempDir("graft_avro_u").toString
    graft.sources.AvroFiles.write(
      src.repartitionByRange(4, col("user_id")), udir)
    val uf = spark.read.format("graft-avro").load(udir)
      .filter(col("user_id") <= cut)
    assert(uf.rdd.getNumPartitions ==
      graft.sources.AvroDataSource.listFiles(udir).size)
    assert(key(uf) === key(src.filter(col("user_id") <= cut)))
    // append preserves surviving manifest lines: after an append the
    // ORIGINAL files still skip (their lines were carried over)
    src.write.format("graft-avro").mode("append").save(dir)
    val after = spark.read.format("graft-avro").load(dir)
      .filter(col("user_id") <= cut)
    val filesAfter = graft.sources.AvroDataSource.listFiles(dir).size
    assert(after.rdd.getNumPartitions < filesAfter,
      "append lost the surviving files' manifest lines")
  }

  test("graft-avro bloom skipping: equality prunes interleaved keys and string columns") {
    // the complement of interval skipping: when key ranges OVERLAP
    // (here: evens [0,198] vs odds [1,199] — every interval covers
    // every probe) intervals prune nothing, and string columns have no
    // interval at all; the per-file-column bloom is what turns point
    // predicates into file skips. A bloom false positive only keeps a
    // file, so pruning is never a correctness dependency.
    import spark.implicits._
    val dir = tempDir("graft_avro_b").toString
    val evens = (0L until 200L by 2).map(i => (i, s"alpha_$i")).toDF("k", "s")
    val odds = (1L until 200L by 2).map(i => (i, s"beta_$i")).toDF("k", "s")
    evens.coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    odds.coalesce(1).write.format("graft-avro").mode("append").save(dir)
    assert(graft.sources.AvroDataSource.listFiles(dir).size == 2)
    val rd = spark.read.format("graft-avro").load(dir)
    // numeric key inside BOTH intervals: only the bloom can prune
    val hit = rd.filter(col("k") === 42L)
    assert(hit.rdd.getNumPartitions == 1,
      "bloom failed to prune the odd-keys file on an interleaved key")
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((42L, "alpha_42")))
    // string equality: no interval exists; the bloom is the only pruner
    val sf2 = rd.filter(col("s") === "beta_101")
    assert(sf2.rdd.getNumPartitions == 1,
      "bloom failed to prune on a string key")
    assert(sf2.collect().map(_.getLong(0)).toSeq == Seq(101L))
    // absent value: every file refuted — empty scan, exact answer
    val none = rd.filter(col("k") === 1000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("graft-avro runtime filtering: a filtered dim prunes container files at runtime") {
    // the DSv2 face of dynamic partition pruning, completing the
    // pushdown story: static predicates skip files at planning (above),
    // but a JOIN's matching keys only exist at runtime — the scan
    // declares its stats-tracked columns via SupportsRuntimeFiltering,
    // Catalyst plants a DynamicPruning subquery on the fact side,
    // executes the dim FIRST, and hands the observed join keys in as an
    // In filter before input partitions are planned: container files
    // whose interval+bloom refute every probed key are never opened.
    // At 100 TB this is scanning the matching slice of the fact table
    // instead of all of it, driven by information no static plan has.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // classic (non-AQE) DPP path so the executed plan is directly
      // traversable; the pruning itself is planner-level either way
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val dir = tempDir("graft_avro_rf").toString
      val src = sample
      src.repartitionByRange(8, col("user_id"))
        .write.format("graft-avro").mode("overwrite").save(dir)
      val files = graft.sources.AvroDataSource.listFiles(dir).size
      assert(files >= 4, s"layout too coarse: $files files")
      // dim over a REAL source (a LocalRelation's filter constant-folds
      // away and the DPP heuristic never sees it — the q-T57 gotcha)
      val dimDir = tempDir("graft_avro_rfd").toString
      src.select(col("user_id").as("u")).distinct()
        .write.mode("overwrite").parquet(dimDir)
      val probes = src.select("user_id").distinct().orderBy("user_id")
        .limit(2).collect().map(_.getLong(0))
      val dim = spark.read.parquet(dimDir)
        .filter(col("u").isin(probes.toIndexedSeq: _*))
      val fact = spark.read.format("graft-avro").load(dir)
      val joined = fact.join(dim, col("user_id") === col("u"))
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        s"no DynamicPruning planted on the fact scan:\n${plan.toString.take(1500)}")
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("graft-avro") => b
      }
      assert(scans.size == 1, s"expected one graft-avro scan, got $scans")
      val planned = scans.head.inputRDD.partitions.length
      assert(planned < files,
        s"runtime filter pruned nothing: planned $planned of $files files")
      // semantically transparent: equals the static formulation
      val expect = src.filter(col("user_id").isin(probes.toIndexedSeq: _*))
      assert(rows.length == expect.count(),
        s"runtime filtering changed the result: ${rows.length} rows")
      assert(rows.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("graft-avro aggregate pushdown: MIN/MAX/COUNT answer from the stats manifest") {
    // the third pushdown tier: the writers already record exact
    // per-file (lo,hi) intervals and row counts, so a global
    // MIN/MAX/COUNT(*) needs |files| manifest lines and ZERO data IO —
    // the scan the builder plans (agg-from-stats) returns one partial
    // row per file from the driver-loaded manifest and never opens a
    // container. Partial pushdown: Spark still merges min-of-mins /
    // sum-of-counts, so a missing manifest degrades to a real scan,
    // never a wrong answer — the fallback legs are pinned below.
    val dir = tempDir("graft_avro_g").toString
    val src = sample
    src.repartitionByRange(4, col("user_id"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val rd = spark.read.format("graft-avro").load(dir)
    val agg = rd.agg(min(col("user_id")).as("lo"), max(col("value")).as("hi"),
      count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("agg-from-stats"),
      s"aggregate did not push into the scan:\n${agg.queryExecution.executedPlan.toString.take(900)}")
    val got = agg.head
    val want = src.agg(min(col("user_id")), max(col("value")),
      count(lit(1))).head
    assert(got.getLong(0) == want.getLong(0) &&
      got.getDouble(1) == want.getDouble(1) &&
      got.getLong(2) == want.getLong(2))
    // a filter forces real rows: pushdown declines, answer exact
    val filt = rd.filter(col("user_id") < 50)
      .agg(count(lit(1)).as("n"), min(col("user_id")).as("lo"))
    assert(!filt.queryExecution.executedPlan.toString.contains("agg-from-stats"))
    assert(filt.head.getLong(0) ==
      src.filter(col("user_id") < 50).count())
    // a string MIN has no interval: pushdown declines, answer exact
    val sm = rd.agg(min(col("event_type")).as("m"))
    assert(!sm.queryExecution.executedPlan.toString.contains("agg-from-stats"))
    assert(sm.head.getString(0) ==
      src.agg(min(col("event_type"))).head.getString(0))
    // GROUP BY is not answerable from global stats: declines, exact
    val gb = rd.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(!gb.queryExecution.executedPlan.toString.contains("agg-from-stats"))
    assert(gb.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      src.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    // a manifest-less dir (utility-written containers): declines, exact
    val udir = tempDir("graft_avro_gu").toString
    graft.sources.AvroFiles.write(src, udir)
    val u = spark.read.format("graft-avro").load(udir)
      .agg(count(lit(1)).as("n"))
    assert(!u.queryExecution.executedPlan.toString.contains("agg-from-stats"))
    assert(u.head.getLong(0) == src.count())
  }

  test("graft-avro streaming source: tailing, deterministic assignment, restart resumes") {
    // the SOURCE half of the connector's streaming story (T78's
    // appendBatch is the exactly-once sink): a micro-batch stream
    // tails the container directory; new files are assigned to a
    // batch by a rename-published checkpoint-local log, planning
    // resolves batches FROM THE LOG (deterministic replay), and a
    // restarted query resumes from its committed offset instead of
    // re-reading history.
    val dir = tempDir("graft_avro_t").toString
    val chk = tempDir("graft_avro_tc").toString
    val src = sample
    graft.sources.AvroFiles.write(src.filter(col("event_id") < 100), dir)

    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def start() = spark.readStream.format("graft-avro").load(dir)
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.add(b.select("event_id").collect().map(_.getLong(0)).toSeq.sorted)
        ()
      }
      .start()
    def drained(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.flatten.sorted
    }
    def expect(p: org.apache.spark.sql.Column): Seq[Long] =
      src.filter(p).select("event_id").collect().map(_.getLong(0)).sorted.toSeq

    val q = start()
    q.processAllAvailable()
    assert(drained() == expect(col("event_id") < 100))

    // new containers land (DSv2 append → job-unique names + stats):
    // the next batch covers exactly the new files, nothing replays
    src.filter(col("event_id") >= 100 && col("event_id") < 150)
      .write.format("graft-avro").mode("append").save(dir)
    q.processAllAvailable()
    assert(drained() == expect(col("event_id") < 150))
    q.stop()

    // files arriving while the query is DOWN; restart from the same
    // checkpoint picks them up without re-reading committed history
    src.filter(col("event_id") >= 150)
      .write.format("graft-avro").mode("append").save(dir)
    buf.clear()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(drained() == expect(col("event_id") >= 150),
      s"restart replayed committed batches: ${drained().take(10)}...")
  }

  test("graft-avro limit pushdown: readers stop decoding at the pushed limit") {
    // the last cell of the pushdown matrix (columns, static filters,
    // runtime filters, aggregates, LIMIT): a pushed limit caps each
    // per-file reader at n decoded records — a LIMIT n probe over a
    // row-major container costs n records per file, not the container
    // — while staying PARTIAL (Spark's GlobalLimit still trims across
    // partitions, so correctness never depends on the source).
    val dir = tempDir("graft_avro_l").toString
    val src = sample
    src.repartitionByRange(4, col("user_id"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val rd = spark.read.format("graft-avro").load(dir)
    val lim = rd.limit(5)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 5"),
      s"limit did not push:\n${lim.queryExecution.executedPlan.toString.take(600)}")
    assert(lim.count() == 5)
    // a limit past the table returns everything, exactly
    assert(rd.limit(1000000).count() == src.count())
    // pushed limit composes with pushed filters: rows still exact
    val both = rd.filter(col("event_type") === "click").limit(3)
    assert(both.collect().length ==
      math.min(3, src.filter(col("event_type") === "click").count()))
  }

  test("end-to-end exactly-once: avro stream source into the manifested sink across a restart") {
    // this round's source and sink composed into the pipeline they
    // exist for: containers land in a directory (upstream producers),
    // the graft-avro stream tails it, and every micro-batch commits
    // into a ManifestedTable through appendBatch's txn marker — so the
    // at-least-once redelivery seams on BOTH sides (source log replay,
    // sink batch-id check) cancel into exactly-once END TO END, proven
    // the only way that means anything: kill the query mid-pipeline,
    // add data, restart from the checkpoint, and the table holds every
    // row exactly once.
    import graft.sources.ManifestedTable
    val src = tempDir("graft_e2e_s").toString
    val tbl = tempDir("graft_e2e_t").toString
    val chk = tempDir("graft_e2e_c").toString
    val data = sample
    def land(p: org.apache.spark.sql.Column): Unit =
      data.filter(p).write.format("graft-avro").mode("append").save(src)
    def start() = spark.readStream.format("graft-avro").load(src)
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        ManifestedTable.appendBatch(b, tbl, id); ()
      }
      .start()
    def tableIds(): Seq[Long] = ManifestedTable.read(spark, tbl)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    def want(p: org.apache.spark.sql.Column): Seq[Long] =
      data.filter(p).select("event_id").collect().map(_.getLong(0)).sorted.toSeq

    land(col("event_id") < 80)
    val q = start()
    q.processAllAvailable()
    land(col("event_id") >= 80 && col("event_id") < 140)
    q.processAllAvailable()
    assert(tableIds() == want(col("event_id") < 140))
    q.stop()
    // data arrives while the pipeline is down; restart must pick up
    // exactly the gap — no replay into the table, no loss
    land(col("event_id") >= 140)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(tableIds() == want(lit(true)),
      "restart lost or duplicated rows across the source/sink seam")
    // and the sink's marker survived the whole run
    assert(ManifestedTable.lastBatchId(spark, tbl).isDefined)
  }

  test("graft-avro filter eval matches engine semantics: -0.0 and supplementary code points") {
    // pushed filters are AUTHORITATIVE (nothing re-checks), so their
    // evaluation must match Spark's exactly at the two classic
    // divergence points: IEEE -0.0 (Spark normalizes; plain
    // Double.compareTo would drop -0.0 rows from EqualTo(0.0)) and
    // string order (Spark compares UTF-8 bytes = codepoints; Java
    // String.compareTo compares UTF-16 code units, which ranks
    // supplementary chars BELOW high-BMP ones)
    import spark.implicits._
    val zdir = tempDir("graft_avro_z").toString
    Seq((1L, -0.0), (2L, 0.0), (3L, 1.5)).toDF("id", "v")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(zdir)
    val zv = spark.read.format("graft-avro").load(zdir)
    assert(zv.filter(col("v") === 0.0).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L), "-0.0 must satisfy EqualTo(0.0) like the engine")
    assert(zv.filter(col("v") < 1.0).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
    // U+1F600 (supplementary, UTF-8 F0 9F 98 80) vs U+FFFD (high BMP,
    // EF BF BD): codepoint order says emoji > U+FFFD; UTF-16 code-unit
    // order says the opposite (D83D < FFFD)
    val sdir = tempDir("graft_avro_cp").toString
    Seq((1L, "�"), (2L, "😀")).toDF("id", "s")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(sdir)
    val sv = spark.read.format("graft-avro").load(sdir)
    assert(sv.filter(col("s") > "�").collect().map(_.getLong(0))
      .toSeq == Seq(2L),
      "string pushdown must use UTF-8 binary order, not UTF-16 code units")
    assert(sv.filter(col("s") <= "�").collect().map(_.getLong(0))
      .toSeq == Seq(1L))
  }

  test("ORC scan pushes predicates like parquet") {
    val dir = tempDir("graft_orc2").toString
    sample.write.mode("overwrite").orc(dir)
    val plan = spark.read.schema(sample.schema).orc(dir)
      .filter(col("event_id") < 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(event_id"),
      s"ORC lost pushdown:\n${plan.take(600)}")
  }

  test("events.ts shapes: micros-NTZ and nanos-Long both normalize to LTZ") {
    // The testdata has shipped events.ts as TIMESTAMP(NANOS) (read as a
    // Long under nanosAsLong) and as timestamp[us] NTZ (Spark 4 infers
    // NTZ from isAdjustedToUTC=false). unix_micros and friends REJECT
    // NTZ input (the round-11 analysis error that broke 7 queries), so
    // Tables.normalizeTs must fold both shapes into session-zoned
    // TimestampType. This pins both paths with one dataset.
    import spark.implicits._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val micros = Seq(
      (1L, 1717200000000000L, 10L, "view", 1.0),
      (2L, 1717203600000000L, 10L, "click", 2.0),
      (3L, 1717210800000000L, 11L, "view", 3.0))
    def dump(shapeNtz: Boolean): String = {
      val dir = tempDir("graft_ts").toString
      val base = micros.toDF("event_id", "us", "user_id", "event_type", "value")
      val shaped =
        if (shapeNtz) base.withColumn("ts",
          timestamp_micros(col("us")).cast("timestamp_ntz"))
        else base.withColumn("ts", col("us") * 1000L) // nanos-as-Long
      shaped.select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val (ntzDir, longDir) = (dump(true), dump(false))
    // the NTZ dump really is NTZ on disk — otherwise this test pins nothing
    assert(spark.read.parquet(s"$ntzDir/events.parquet")
      .schema("ts").dataType === TimestampNTZType)
    val (evN, evL) = (Tables.events(spark, ntzDir), Tables.events(spark, longDir))
    for (ev <- Seq(evN, evL))
      assert(ev.schema("ts").dataType === TimestampType)
    def us(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(us(evN) === us(evL) && us(evN).map(_._2) === micros.map(_._2))
    // the operators ADVICE r11 flagged must analyze on a RAW NTZ frame too
    val rawNtz = spark.read.parquet(s"$ntzDir/events.parquet")
    val sess = graft.operators.TemporalOps.sessionize(
      rawNtz, "user_id", "ts", "event_id", gapSec = 1800)
    // user 10's two events are 3600s apart > 1800s gap ⇒ sessions 1,2;
    // user 11's single event ⇒ session 1
    assert(sess.select("session_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 1L, 2L))
    ()
  }

  test("eventsRange pushes the time predicate on the NTZ shape") {
    import spark.implicits._
    val dir = tempDir("graft_tsp").toString
    Seq((1L, 1717200000000000L), (2L, 1717286400000000L))
      .toDF("event_id", "us")
      .withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
      .select("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ranged = Tables.eventsRange(spark, dir,
      graft.core.TimeRange("2024-06-01 00:00:00", "2024-06-01 23:59:59"))
    assert(ranged.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(ranged.select("event_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts")
      && plan.contains("LessThanOrEqual(ts"),
      s"NTZ time predicate lost pushdown:\n${plan.take(800)}")
  }

  test("parquet schema evolution: mergeSchema unifies, old rows read NULL") {
    // A 100-TB lake is written over years — columns get added. The
    // contract a pipeline relies on: mergeSchema reconciles the footer
    // schemas, pre-evolution files surface the new column as NULL, and
    // projection pruning still reaches the scan on the merged schema.
    import spark.implicits._
    val dir = tempDir("graft_evo").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "score")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.select(col("id"), col("score"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty, "pre-evolution rows must be NULL")
    assert(rows(3L).contains(30L) && rows(4L).contains(40L))
    val plan = merged.select(col("id")).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"projection pruning lost on merged schema:\n${plan.take(600)}")
  }

  test("graft-manifest DSv2: SQL face — snapshot reads, versionAsOf, pruning, skipping") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_mface").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    val v1 = ManifestedTable.write(
      ev.repartitionByRange(8, col("event_id")), dir)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "user_id", "event_type", "value")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq

    // the face resolves the snapshot through the manifest, exactly the
    // object API's rows — and a rogue file in the dir stays invisible
    ev.limit(7).coalesce(1).write
      .parquet(new java.io.File(dir, "data-rogue").toString)
    val face = spark.read.format("graft-manifest").load(dir)
    assert(face.schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "event_type", "value"))
    assert(keyed(face) == keyed(ManifestedTable.read(spark, dir)),
      "the DSv2 face diverged from the object-API read")

    // count(*): the empty projection answers from footer row counts
    assert(face.count() == ev.count())

    // DML moves the table; the face tracks the CURRENT snapshot and
    // versionAsOf reaches the retained past
    val src = ev.filter(col("event_id") < 100)
      .withColumn("value", col("value") + 1000d)
    ManifestedTable.merge(spark, dir, src, Seq("event_id"))
    val cur = spark.read.format("graft-manifest").load(dir)
    assert(keyed(cur) == keyed(ManifestedTable.read(spark, dir)))
    assert(cur.filter(col("event_id") < 100 && col("value") >= 1000d)
      .count() == src.count())
    val past = spark.read.format("graft-manifest")
      .option("versionAsOf", v1.toString).load(dir)
    assert(keyed(past) == keyed(ev), "versionAsOf did not time travel")

    // column pruning reaches the scan (projected parquet read schema)
    val pruned = cur.select("event_type")
    val scan = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().startsWith("graft-manifest") => b
    }
    assert(scan.size == 1 &&
      scan.head.scan.description().contains("[event_type]"),
      s"pruning lost: ${scan.headOption.map(_.scan.description())}")
    assert(pruned.distinct().collect().map(_.getString(0)).sorted.toSeq ==
      ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)

    // file skipping from the manifest's embedded intervals: a narrow
    // band on the clustered key plans a strict minority of partitions
    val files = ManifestedTable.currentFiles(spark, dir).size
    val band = cur.filter(col("event_id") >= 300L && col("event_id") <= 399L)
    assert(band.rdd.getNumPartitions < files,
      s"interval skipping planned all $files files")
    assert(keyed(band) == keyed(ManifestedTable.read(spark, dir)
      .filter(col("event_id") >= 300L && col("event_id") <= 399L)))

    // plain SQL DDL reaches it, time travel included
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mani_spec_v " +
      s"USING `graft-manifest` OPTIONS (path '$dir', versionAsOf '$v1')")
    assert(spark.sql("SELECT count(*) AS n FROM mani_spec_v")
      .head.getLong(0) == ev.count())
    assert(spark.sql(
      "SELECT count(*) AS n FROM mani_spec_v WHERE value >= 1000")
      .head.getLong(0) ==
      ev.filter(col("value") >= 1000d).count(),
      "the v1 view leaked post-merge rows")
  }

  test("graft-manifest aggregate pushdown + statistics: the manifest answers, data stays closed") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_magg").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), dir)
    val face = spark.read.format("graft-manifest").load(dir)

    // global MIN/MAX/COUNT fold to ONE literal partition served from
    // the manifest's embedded stats — the plan shows the pushed scan
    val agg = face.agg(count(lit(1)).as("n"),
      min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
      min(col("event_type")).as("t_lo"), max(col("value")).as("v_hi"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        => b.scan.description()
    }
    assert(scans.exists(_.contains("aggregate pushdown")),
      s"aggregate did not push: $scans")
    val got = agg.head
    val want = ev.agg(count(lit(1)), min(col("event_id")),
      max(col("event_id")), min(col("event_type")),
      max(col("value"))).head
    assert(got == want, s"pushed aggregate answered wrong: $got vs $want")

    // decline legs — a pushed filter and a deletion vector both make
    // the manifest fold unsound, so the scan answers (rows still exact)
    val filtered = face.filter(col("user_id") >= 3)
      .agg(max(col("event_id")).as("hi"))
    assert(!filtered.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        => b.scan.description()
    }.exists(_.contains("aggregate pushdown")),
      "a filtered aggregate wrongly pushed down")
    assert(filtered.head.getLong(0) ==
      ev.filter(col("user_id") >= 3).agg(max(col("event_id")))
        .head.getLong(0))
    val hiKey = ev.agg(max(col("event_id"))).head.getLong(0)
    ManifestedTable.deleteMatching(spark, dir,
      { import spark.implicits._; Seq(hiKey).toDF("event_id") },
      dvMaxFraction = 1.0)
    val afterDv = spark.read.format("graft-manifest").load(dir)
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("hi")).head
    assert(afterDv.getLong(0) == ev.count() - 1,
      "COUNT ignored the deletion vector")
    assert(afterDv.getLong(1) ==
      ev.filter(col("event_id") =!= hiKey).agg(max(col("event_id")))
        .head.getLong(0),
      "MAX served a DV-deleted extreme from stale stats")

    // statistics: the optimizer sees manifest-derived sizes (post-
    // filter-skipping), not the unknown-source default — the number
    // that drives broadcast decisions through this face
    val band = spark.read.format("graft-manifest").load(dir)
      .filter(col("event_id") >= 0L && col("event_id") <= 99L)
    val sz = band.queryExecution.optimizedPlan.stats.sizeInBytes
    val allBytes = ManifestedTable.currentFiles(spark, dir)
      .map(f => new java.io.File(dir, f).length()).sum
    assert(sz > 0 && sz < BigInt(allBytes) / 2,
      s"band stats not manifest-served: $sz vs table $allBytes")
  }

  test("graft-manifest catalog: SQL-only lifecycle — CREATE/INSERT/DELETE/time travel/interop") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_cat").toString
    spark.conf.set("spark.sql.catalog.gm_spec",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_spec.root", wh)
    try {
      // CREATE TABLE: an empty table is queryable and insertable —
      // the declared schema rides the manifest meta
      spark.sql(
        "CREATE TABLE gm_spec.book (k BIGINT, tag STRING, v DOUBLE)")
      assert(spark.sql("SELECT * FROM gm_spec.book").count() == 0)
      assert(spark.sql("SELECT * FROM gm_spec.book").columns.toSeq ==
        Seq("k", "tag", "v"))

      // INSERT INTO through the V1Write face; versions advance
      spark.sql("""INSERT INTO gm_spec.book
        SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END,
               CAST(id AS DOUBLE) FROM range(100)""")
      val tsAfterInsert = new java.sql.Timestamp(
        System.currentTimeMillis()).toString
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book")
        .head.getLong(0) == 100)
      spark.sql("""INSERT INTO gm_spec.book
        SELECT id + 100, 'late', CAST(id AS DOUBLE) FROM range(50)""")

      // DELETE FROM via SupportsDelete → copy-on-write deleteWhere
      spark.sql("DELETE FROM gm_spec.book WHERE tag = 'odd'")
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book")
        .head.getLong(0) == 100)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book WHERE tag = 'odd'")
        .head.getLong(0) == 0)

      // time travel: VERSION AS OF (v1 create, v2 insert, v3 insert,
      // v4 delete) and TIMESTAMP AS OF through the in-manifest #ts=
      // commit clock
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book VERSION AS OF 2")
        .head.getLong(0) == 100)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book VERSION AS OF 3")
        .head.getLong(0) == 150)
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book " +
        s"TIMESTAMP AS OF '$tsAfterInsert'").head.getLong(0) == 100)
      // the commit clock is SELF-CONTAINED: scrambling every manifest
      // file's mtime (touch / backup-restore / object-store copy) must
      // not move timestamp resolution — the #ts= meta token is the
      // clock, mtimes are only the pre-#ts fallback
      new java.io.File(s"$wh/book", "_manifests").listFiles()
        .filter(_.getName.startsWith("manifest-"))
        .foreach(f => assert(f.setLastModified(1000L)))
      // v2 has no 'late' rows (v3 inserted them); a resolver that
      // trusts the scrambled mtimes would land on v4, which has 50
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book " +
          s"TIMESTAMP AS OF '$tsAfterInsert' WHERE tag = 'late'")
        .head.getLong(0) == 0,
        "timestamp time travel followed file mtimes, not the commit clock")

      // INSERT OVERWRITE = the blind replace commit
      spark.sql("""INSERT OVERWRITE gm_spec.book
        SELECT id, 'ow', CAST(id AS DOUBLE) FROM range(7)""")
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book")
        .head.getLong(0) == 7)

      // CTAS: create + append in one statement
      spark.sql("""CREATE TABLE gm_spec.book2 AS
        SELECT k, v FROM gm_spec.book WHERE k < 5""")
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book2")
        .head.getLong(0) == 5)

      // interop: the catalog table IS a ManifestedTable directory —
      // an object-API merge is visible to the next SQL read
      import spark.implicits._
      val dir = s"$wh/book2"
      ManifestedTable.merge(spark, dir,
        Seq((0L, 100.0), (90L, 900.0)).toDF("k", "v"), Seq("k"))
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book2")
        .head.getLong(0) == 6)
      assert(spark.sql("SELECT v FROM gm_spec.book2 WHERE k = 0")
        .head.getDouble(0) == 100.0)
      // history records the operations; restore rolls forward to v2's
      // image and SQL sees it
      val hist = ManifestedTable.history(spark, dir)
        .orderBy("version").collect().map(_.getString(2)).toSeq
      assert(hist.take(3) == Seq("create", "append", "merge"), hist)
      ManifestedTable.restore(spark, dir, 2L)
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.book2")
        .head.getLong(0) == 5, "restore did not roll the SQL view back")

      // ALTER TABLE ADD COLUMNS: the declared schema widens as a
      // versioned no-file commit; existing rows read NULL, the next
      // INSERT resolves against the widened shape, DML can use it
      val vPreAlter = ManifestedTable.currentVersion(spark, dir)
      spark.sql("ALTER TABLE gm_spec.book2 ADD COLUMNS (note STRING)")
      val vPostAlter = ManifestedTable.currentVersion(spark, dir)
      assert(spark.sql("SELECT * FROM gm_spec.book2").columns.toSeq ==
        Seq("k", "v", "note"))
      // the declared schema is VERSIONED like data: a versioned read
      // of a pre-ALTER snapshot serves THAT snapshot's own declared
      // schema (no `note` — the ALTER must not leak backwards), and a
      // versioned read AT the ALTER commit keeps the added column even
      // though zero files carry it yet (it reads NULL, not vanishes)
      assert(spark.sql(
        s"SELECT * FROM gm_spec.book2 VERSION AS OF $vPreAlter")
        .columns.toSeq == Seq("k", "v"),
        "an ALTER-added column leaked into an older versioned read")
      val atAlter = spark.sql(
        s"SELECT * FROM gm_spec.book2 VERSION AS OF $vPostAlter")
      assert(atAlter.columns.toSeq == Seq("k", "v", "note"),
        "the ALTER-added column vanished from its own versioned read")
      assert(atAlter.filter("note IS NULL").count() == 5)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book2 WHERE note IS NULL")
        .head.getLong(0) == 5, "pre-ALTER rows must read NULL")
      spark.sql(
        "INSERT INTO gm_spec.book2 VALUES (200, CAST(7 AS DOUBLE), 'x')")
      assert(spark.sql(
        "SELECT note FROM gm_spec.book2 WHERE k = 200").head.getString(0)
        == "x")
      spark.sql("UPDATE gm_spec.book2 SET note = 'old' WHERE k < 2")
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_spec.book2 WHERE note = 'old'")
        .head.getLong(0) == 2)
      // rename/drop are supported via field ids (their own spec);
      // unsupported evolution — a type change — still refuses loudly
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_spec.book2 ALTER COLUMN v TYPE STRING")
      }

      // namespaces are directories: create, list into, drop
      spark.sql("CREATE NAMESPACE gm_spec.teams")
      spark.sql("""CREATE TABLE gm_spec.teams.scores AS
        SELECT id AS k FROM range(3)""")
      assert(spark.sql("SHOW TABLES IN gm_spec.teams")
        .collect().map(_.getString(1)).toSeq == Seq("scores"))
      assert(spark.sql("SELECT count(*) AS n FROM gm_spec.teams.scores")
        .head.getLong(0) == 3)
      spark.sql("DROP TABLE gm_spec.teams.scores")
      spark.sql("DROP NAMESPACE gm_spec.teams")

      // DROP TABLE
      spark.sql("DROP TABLE gm_spec.book2")
      assert(!new java.io.File(dir, "_manifests").exists())
      intercept[Exception] { spark.sql("SELECT * FROM gm_spec.book2") }
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_spec")
      spark.conf.unset("spark.sql.catalog.gm_spec.root")
    }
  }

  test("graft-manifest WAP in SQL: branch writes, VERSION AS OF '<branch>', CALL promote/drop") {
    // the whole write-audit-publish loop without Scala: stage with a
    // DataFrame write option, audit via VERSION AS OF '<branch>' (a
    // non-numeric version is a branch name — the Iceberg convention),
    // publish/drop via CALL procedures
    val wh = tempDir("graft_wapsql").toString
    spark.conf.set("spark.sql.catalog.gm_wap",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_wap.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_wap.t AS
        SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(100)""")
      // WRITE: stage on a branch through the catalog write face
      spark.range(100, 150)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .writeTo("gm_wap.t").option("branch", "stage").append()
      assert(spark.sql("SELECT count(*) AS n FROM gm_wap.t")
        .head.getLong(0) == 100,
        "a branch-staged SQL write leaked into main")
      // AUDIT: the branch head via VERSION AS OF '<branch>'
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_wap.t VERSION AS OF 'stage'")
        .head.getLong(0) == 150)
      assert(spark.sql("CALL gm_wap.system.branches('t')")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("stage", 3L)))
      // PUBLISH: CALL promote_branch — atomic fast-forward
      spark.sql("CALL gm_wap.system.promote_branch('t', 'stage')")
      assert(spark.sql("SELECT count(*) AS n FROM gm_wap.t")
        .head.getLong(0) == 150)
      // a rejected feed: stage, verify main dark, CALL drop_branch
      spark.range(900, 910)
        .selectExpr("id AS k", "CAST(-1 AS DOUBLE) AS v")
        .writeTo("gm_wap.t").option("branch", "suspect").append()
      assert(spark.sql("SELECT count(*) AS n FROM gm_wap.t")
        .head.getLong(0) == 150)
      // TIMESTAMP AS OF never surfaces a staged snapshot: the newest
      // commit is the suspect branch's, but the timestamp resolves to
      // the latest MAIN version
      val tsNow = new java.sql.Timestamp(
        System.currentTimeMillis() + 1000L).toString
      assert(spark.sql("SELECT count(*) AS n FROM gm_wap.t " +
        s"TIMESTAMP AS OF '$tsNow'").head.getLong(0) == 150,
        "timestamp time travel leaked a staged branch snapshot")
      spark.sql("CALL gm_wap.system.drop_branch('t', 'suspect')")
      assert(spark.sql("CALL gm_wap.system.branches('t')")
        .collect().isEmpty)
      intercept[Exception] {
        spark.sql(
          "SELECT count(*) FROM gm_wap.t VERSION AS OF 'suspect'")
          .collect()
      }
      assert(spark.sql("SELECT count(*) AS n FROM gm_wap.t")
        .head.getLong(0) == 150)
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_wap")
      spark.conf.unset("spark.sql.catalog.gm_wap.root")
    }
  }

  test("graft-manifest session WAP: spark.graft.wap.branch routes a whole SQL pipeline incl. DML") {
    // Iceberg's spark.wap.branch construction: ONE session conf stages
    // every write AND row-level DML of an existing SQL pipeline on a
    // branch — no statement changes — while plain reads keep resolving
    // main; audit via VERSION AS OF '<branch>', then CALL
    // promote_branch publishes the whole audited run atomically
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_swap").toString
    spark.conf.set("spark.sql.catalog.gm_sw",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_sw.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_sw.t AS
        SELECT id AS k, CAST(id AS DOUBLE) AS v,
               CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
        FROM range(0, 400, 1, 4)""")
      spark.conf.set("spark.graft.wap.branch", "nightly")
      // the unchanged pipeline: append, update, delete — all staged
      spark.sql("""INSERT INTO gm_sw.t
        SELECT id AS k, CAST(0 AS DOUBLE) AS v, 'late' AS tag
        FROM range(1000, 1050)""")
      spark.sql("UPDATE gm_sw.t SET v = v + 100 WHERE k < 10")
      spark.sql("DELETE FROM gm_sw.t WHERE tag = 'odd' AND k >= 390")
      // main is DARK through all three statements
      assert(spark.sql("SELECT count(*) AS n FROM gm_sw.t")
        .head.getLong(0) == 400, "session-WAP DML leaked into main")
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_sw.t WHERE v >= 100 AND k < 10")
        .head.getLong(0) == 0)
      // the branch carries the pipeline's full image
      val audit = spark.sql(
        "SELECT * FROM gm_sw.t VERSION AS OF 'nightly'")
      assert(audit.count() == 445) // 400 + 50 inserted - 5 odd >= 390
      assert(audit.filter("v >= 100 AND k < 10").count() == 10)
      // promote publishes the audited run atomically
      spark.conf.unset("spark.graft.wap.branch")
      spark.sql("CALL gm_sw.system.promote_branch('t', 'nightly')")
      assert(spark.sql("SELECT count(*) AS n FROM gm_sw.t")
        .head.getLong(0) == 445)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_sw.t WHERE v >= 100 AND k < 10")
        .head.getLong(0) == 10)
    } finally {
      spark.conf.unset("spark.graft.wap.branch")
      spark.conf.unset("spark.sql.catalog.gm_sw")
      spark.conf.unset("spark.sql.catalog.gm_sw.root")
    }
  }

  test("graft-manifest vectorized read path: clean bulk scans plan ColumnarBatch partitions") {
    // the SQL face's bulk reader is Spark's own vectorized parquet
    // reader (ColumnarBatch partitions) whenever the scan is clean —
    // no deletion vectors, no metadata columns, no field-id
    // translation; the dirty paths keep the row-materialized Group
    // readers. Rows must be byte-identical either way.
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_vec").toString
    val src = (0L until 5000L)
      .map(k => (k, k * 0.5, s"tag${k % 7}", k % 2 == 0))
      .toDF("k", "v", "tag", "flag")
    ManifestedTable.write(src.repartition(4), dir)

    val face = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") < 1000L).select("k", "v", "tag")
    val plan = face.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"clean bulk scan did not vectorize:\n${plan.take(600)}")
    assert(face.orderBy("k").collect().toSeq ==
      ManifestedTable.read(spark, dir).filter(col("k") < 1000L)
        .select("k", "v", "tag").orderBy("k").collect().toSeq,
      "the vectorized face diverged from the object API")

    // count(*) keeps the zero-IO footer path (empty projection is
    // served from metadata, better than any batch read)
    assert(spark.read.format("graft-manifest").load(dir).count() == 5000)

    // a deletion vector on ANY file drops the whole scan to the row
    // readers — and the rows stay exact
    ManifestedTable.deleteWhere(spark, dir, col("k") === 7L,
      dvMaxFraction = 1.0)
    val dv = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") < 1000L).select("k", "v", "tag")
    assert(!dv.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a DV'd snapshot must not vectorize (positions need the row path)")
    assert(dv.count() == 999)
    assert(dv.filter(col("k") === 7L).isEmpty)
  }

  test("graft-manifest row-group skipping: pushed filters prune inside surviving files") {
    // one level below the manifest's whole-file skipping: the pushed
    // filters translate to parquet FilterPredicates, so a selective
    // scan of a big SORTED file reads only the row groups whose stats
    // admit a match — observable through the scan's output-rows
    // metric (rows materialized from surviving row groups), which must
    // be a small fraction of the file while the answer stays exact
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_rg").toString
    // ~200k sorted rows in ONE file with tiny row groups (the block
    // size rides the hadoop conf into the staging write)
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 65536)
    try {
      ManifestedTable.write(
        (0L until 200000L).map(k => (k, k * 1.5)).toDF("k", "v")
          .coalesce(1).sortWithinPartitions("k"), dir)
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    val df = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") >= 1000L && col("k") < 2000L)
    val rows = df.collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getLong(0)).min == 1000L &&
      rows.map(_.getLong(0)).max == 1999L)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b
    }.get
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned < 200000L / 2,
      s"no row-group skipping: the scan materialized $scanned of 200000 " +
        "rows for a 1000-row band over a sorted single-file table")
  }

  test("graft-manifest clustered writes: ingest lands stats-prunable layouts with no optimize pass") {
    // RequiresDistributionAndOrdering: a table with a declared
    // graft.cluster-by key asks the ENGINE for a range distribution +
    // sort before its writers run, so INSERT/CTAS produce per-file
    // DISJOINT key intervals — manifest stats pruning is selective
    // from the first commit, no CALL optimize needed
    import graft.sources.ManifestedTable
    import spark.implicits._
    val wh = tempDir("graft_dw").toString
    spark.conf.set("spark.sql.catalog.gm_dw",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_dw.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_dw.t (k BIGINT, v DOUBLE)
        TBLPROPERTIES ('graft.cluster-by'='k',
                       'graft.write-partitions'='8')""")
      // a deliberately SCRAMBLED source: the multiplicative hash kills
      // any incidental ordering, so disjoint per-file intervals can
      // only come from the write's own required distribution
      spark.sql("""INSERT INTO gm_dw.t
        SELECT (id * 2654435761) % 4000 AS k, CAST(id AS DOUBLE) AS v
        FROM range(0, 4000)""")
      val dir = s"$wh/t"
      val files = ManifestedTable.currentFiles(spark, dir)
      assert(files.size == 8, s"expected 8 clustered files, got $files")
      assert(spark.sql("SELECT count(*) AS n FROM gm_dw.t")
        .head.getLong(0) == 4000)

      // keyed probes open a STRICT MINORITY of files, and disjoint key
      // ranges hit DISJOINT file sets — the layout proof
      def cands(lo: Long, hi: Long): Set[String] =
        ManifestedTable.keyCandidates(spark, dir,
          spark.range(lo, hi).toDF("k"), Seq("k")).toSet
      val a = cands(0L, 200L)
      val b = cands(2000L, 2200L)
      val c = cands(3800L, 3999L)
      assert(a.nonEmpty && b.nonEmpty && c.nonEmpty)
      assert(a.size < files.size / 2 && b.size < files.size / 2,
        s"keyed probes are not selective: ${a.size}/${files.size}")
      assert((a & b).isEmpty && (b & c).isEmpty && (a & c).isEmpty,
        "file key intervals overlap — ingest did not range-cluster")

      // a keyed DELETE therefore rewrites only the hit files
      val before = ManifestedTable.currentFiles(spark, dir).toSet
      val expectDel = spark.sql(
        """SELECT count(*) AS n FROM
          |(SELECT (id * 2654435761) % 4000 AS k FROM range(0, 4000))
          |WHERE k >= 0 AND k < 200""".stripMargin).head.getLong(0)
      spark.sql("DELETE FROM gm_dw.t WHERE k >= 0 AND k < 200")
      val after = ManifestedTable.currentFiles(spark, dir).toSet
      val removed = before -- after
      assert(removed.subsetOf(a),
        s"the keyed DELETE rewrote files outside the key range: " +
          s"${removed -- a}")
      assert((before -- removed).subsetOf(after),
        "untouched files did not ride by reference")
      assert(spark.sql("SELECT count(*) AS n FROM gm_dw.t")
        .head.getLong(0) == 4000 - expectDel)

      // a row-level UPDATE keeps the clustered layout (the replace
      // write re-sorts): a later probe is still a strict minority
      spark.sql("UPDATE gm_dw.t SET v = v + 1 WHERE k >= 3000 AND k < 3100")
      val again = cands(3000L, 3100L)
      assert(again.size < ManifestedTable.currentFiles(spark, dir).size / 2,
        "the DML rewrite degraded the clustered layout")

      // INSERT OVERWRITE routes through the clustered write's truncate
      spark.sql("""INSERT OVERWRITE gm_dw.t
        SELECT id AS k, CAST(0 AS DOUBLE) AS v FROM range(100)""")
      assert(spark.sql("SELECT count(*) AS n FROM gm_dw.t")
        .head.getLong(0) == 100)
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_dw")
      spark.conf.unset("spark.sql.catalog.gm_dw.root")
    }
  }

  test("graft-manifest type widening: ALTER COLUMN TYPE is metadata-only for lossless widenings") {
    // the Iceberg widening matrix: int→bigint, float→double (and the
    // smaller integral ladders) are one no-file commit; pre-ALTER
    // files keep their narrower physical values and read EXACTLY at
    // the declared type, post-ALTER inserts land wide, and narrowing
    // or lossy changes refuse loudly
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_wide").toString
    spark.conf.set("spark.sql.catalog.gm_wide",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_wide.root", wh)
    try {
      spark.sql("CREATE TABLE gm_wide.t (k INT, v FLOAT)")
      spark.sql("""INSERT INTO gm_wide.t VALUES
        (1, CAST(1.5 AS FLOAT)), (2, CAST(2.5 AS FLOAT))""")
      spark.sql("ALTER TABLE gm_wide.t ALTER COLUMN k TYPE BIGINT")
      spark.sql("ALTER TABLE gm_wide.t ALTER COLUMN v TYPE DOUBLE")
      val sch = spark.sql("SELECT * FROM gm_wide.t").schema
      assert(sch("k").dataType ==
        org.apache.spark.sql.types.LongType &&
        sch("v").dataType == org.apache.spark.sql.types.DoubleType)
      // pre-ALTER bytes read exactly at the widened type
      assert(spark.sql("SELECT sum(k) AS s FROM gm_wide.t")
        .head.getLong(0) == 3L)
      assert(spark.sql("SELECT sum(v) AS s FROM gm_wide.t")
        .head.getDouble(0) == 4.0)
      // a post-ALTER insert holds values the old type could not
      spark.sql(
        "INSERT INTO gm_wide.t VALUES (3000000000, CAST(0.25 AS DOUBLE))")
      assert(spark.sql("SELECT sum(k) AS s FROM gm_wide.t")
        .head.getLong(0) == 3000000003L)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_wide.t WHERE k > 2000000000")
        .head.getLong(0) == 1)
      // the object API agrees (mixed-width files unify by cast)
      val dir = s"$wh/t"
      import org.apache.spark.sql.functions.sum
      assert(ManifestedTable.read(spark, dir)
        .agg(sum("v")).head.getDouble(0) == 4.25)
      // DML across the width seam: the engine-planned UPDATE rewrites
      // a narrow file at the wide declared type
      spark.sql("UPDATE gm_wide.t SET v = v + 10 WHERE k = 1")
      assert(spark.sql("SELECT v FROM gm_wide.t WHERE k = 1")
        .head.getDouble(0) == 11.5)
      // narrowing and lossy changes refuse loudly
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_wide.t ALTER COLUMN k TYPE INT")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_wide.t ALTER COLUMN k TYPE DOUBLE")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_wide")
      spark.conf.unset("spark.sql.catalog.gm_wide.root")
    }
  }

  test("graft-manifest field ids: RENAME/DROP COLUMN are metadata-only and dead ids never resurrect") {
    // Iceberg's field-id construction, carried in the manifest meta:
    // every staged file records its schema epoch, readers resolve a
    // CURRENT column to a file's PHYSICAL column by stable field id —
    // so a rename moves zero data bytes, and a dropped-then-re-added
    // NAME gets a fresh id whose pre-drop bytes read NULL (never the
    // dead id's values)
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_fid").toString
    spark.conf.set("spark.sql.catalog.gm_fid",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_fid.root", wh)
    try {
      spark.sql("CREATE TABLE gm_fid.t (k BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gm_fid.t VALUES (1, 10.0), (2, 20.0)")
      val dir = s"$wh/t"
      def dataFiles(): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
        new java.io.File(dir).listFiles.toSeq
          .filter(d => d.isDirectory && d.getName.startsWith("data-"))
          .flatMap(walk).filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified).toMap
      }
      val vPreRename = ManifestedTable.currentVersion(spark, dir)
      val filesPre = dataFiles()

      // RENAME: one metadata commit, zero data movement
      spark.sql("ALTER TABLE gm_fid.t RENAME COLUMN v TO w")
      assert(dataFiles() == filesPre, "RENAME COLUMN moved data files")
      assert(spark.sql("SELECT w FROM gm_fid.t WHERE k = 1")
        .head.getDouble(0) == 10.0,
        "old bytes did not serve the renamed column")
      // mixed epochs: a post-rename file stores physical 'w'
      spark.sql("INSERT INTO gm_fid.t VALUES (3, 30.0)")
      assert(spark.sql("SELECT sum(w) AS s FROM gm_fid.t")
        .head.getDouble(0) == 60.0)
      // filters on the current name reach pre-rename files (and the
      // per-file stats still prune through the old token)
      assert(spark.sql("SELECT k FROM gm_fid.t WHERE w = 20.0")
        .head.getLong(0) == 2)
      // the object API resolves identically (DML reads ride on it)
      assert(ManifestedTable.read(spark, dir).columns.toSeq ==
        Seq("k", "w"))
      // a versioned read serves the OLD name — the schema history is
      // versioned with the snapshot
      assert(spark.sql(
        s"SELECT * FROM gm_fid.t VERSION AS OF $vPreRename")
        .columns.toSeq == Seq("k", "v"))

      // DROP + re-ADD the same name: fresh id — pre-drop bytes stay
      // dead. Note k=3's file PHYSICALLY stores a column named 'w';
      // it must still read NULL (its bytes belong to the dead id).
      spark.sql("ALTER TABLE gm_fid.t DROP COLUMN w")
      assert(spark.sql("SELECT * FROM gm_fid.t").columns.toSeq == Seq("k"))
      spark.sql("ALTER TABLE gm_fid.t ADD COLUMNS (w DOUBLE)")
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_fid.t WHERE w IS NULL")
        .head.getLong(0) == 3,
        "a dead field id's bytes resurrected under a re-added name")
      spark.sql("INSERT INTO gm_fid.t VALUES (4, 400.0)")
      assert(spark.sql("SELECT sum(w) AS s FROM gm_fid.t")
        .head.getDouble(0) == 400.0)

      // DML through the rename history: engine-planned UPDATE rewrites
      // a pre-rename file correctly, DELETE prunes on the new id
      spark.sql("UPDATE gm_fid.t SET w = 5.0 WHERE k = 1")
      assert(spark.sql("SELECT w FROM gm_fid.t WHERE k = 1")
        .head.getDouble(0) == 5.0)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_fid.t WHERE w IS NULL")
        .head.getLong(0) == 2, "the UPDATE rewrite disturbed other rows")
      spark.sql("DELETE FROM gm_fid.t WHERE w = 400.0")
      assert(spark.sql("SELECT count(*) AS n FROM gm_fid.t")
        .head.getLong(0) == 3)

      // compaction materializes current names; everything still reads
      ManifestedTable.compact(spark, dir, 1L << 30)
      assert(spark.sql("SELECT sum(w) AS s FROM gm_fid.t")
        .head.getDouble(0) == 5.0)
      assert(spark.sql("SELECT count(*) AS n FROM gm_fid.t")
        .head.getLong(0) == 3)
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_fid")
      spark.conf.unset("spark.sql.catalog.gm_fid.root")
    }
  }

  test("graft-manifest SQL UPDATE and MERGE INTO: group-based row-level operations") {
    // the last SQL DML gap: Spark rewrites UPDATE/MERGE on a
    // SupportsRowLevelOperations table into a ReplaceData plan over
    // the operation's own scan and write — the engine evaluates the
    // condition first and hands the MATCHING FILES back through
    // runtime V2 filtering on the _file metadata column, so only
    // groups holding affected rows are rewritten (find-touched, done
    // by the planner); the job commit is one OCC-validated manifest
    // rename anchored at the operation's base snapshot
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_rl").toString
    spark.conf.set("spark.sql.catalog.gm_rl",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_rl.root", wh)
    try {
      // range() is ordered, so the CTAS files are key-clustered —
      // a key-local UPDATE must replace a strict minority of them
      spark.sql("""CREATE TABLE gm_rl.t AS
        SELECT id AS k, CAST(id AS DOUBLE) AS v,
               CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
        FROM range(0, 800, 1, 8)""")
      val dir = s"$wh/t"
      val v0 = ManifestedTable.currentVersion(spark, dir)
      val files0 = ManifestedTable.currentFiles(spark, dir)
      assert(files0.size >= 4, s"fixture too coarse: ${files0.size}")

      spark.sql("UPDATE gm_rl.t SET v = v + 1000 WHERE k < 100 AND tag = 'even'")
      val v1 = ManifestedTable.currentVersion(spark, dir)
      assert(v1 == v0 + 1)
      // row-level exactness
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_rl.t WHERE v >= 1000 AND k < 800")
        .head.getLong(0) == 50)
      assert(spark.sql("SELECT sum(v) AS s FROM gm_rl.t").head.getDouble(0)
        == (0 until 800).map(_.toDouble).sum + 50 * 1000d)
      assert(spark.sql("SELECT count(*) AS n FROM gm_rl.t")
        .head.getLong(0) == 800)
      // group-level claim: the runtime filter confined the rewrite to
      // the files actually holding k < 100 evens — a strict minority
      val (_, removed) = ManifestedTable.changedFiles(spark, dir, v0, v1)
      assert(removed.nonEmpty && removed.size * 2 < files0.size,
        s"UPDATE rewrote ${removed.size} of ${files0.size} files")

      // MERGE INTO: updates + inserts through the same protocol
      spark.sql("""SELECT id * 2 AS k, CAST(-1 AS DOUBLE) AS v,
          'merged' AS tag FROM range(390, 410)""")
        .createOrReplaceTempView("gm_rl_src")
      spark.sql("""MERGE INTO gm_rl.t t USING gm_rl_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
        WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)""")
      // src keys 780..818 step 2: matched = 780..798 even (10 rows
      // update), unmatched = 800..818 (10 rows insert)
      assert(spark.sql("SELECT count(*) AS n FROM gm_rl.t")
        .head.getLong(0) == 810)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_rl.t WHERE tag = 'merged'")
        .head.getLong(0) == 20)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_rl.t WHERE tag = 'merged' AND k < 800")
        .head.getLong(0) == 10)

      // the object API sees the SQL DML's commits (same table format)
      assert(ManifestedTable.read(spark, dir).count() == 810)
      val ops = ManifestedTable.history(spark, dir)
        .orderBy("version").collect().map(_.getString(2)).toSeq
      assert(ops.contains("update_sql") && ops.contains("merge_sql"), ops)
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_rl")
      spark.conf.unset("spark.sql.catalog.gm_rl.root")
    }
  }

  test("graft-manifest catalog: CALL procedures — compact/optimize/vacuum/restore from SQL") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_proc").toString
    spark.conf.set("spark.sql.catalog.gm_proc",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_proc.root", wh)
    try {
      // small-file creep via five SQL inserts
      spark.sql("CREATE TABLE gm_proc.t (k BIGINT, v DOUBLE)")
      (0 until 5).foreach { i =>
        spark.sql(s"INSERT INTO gm_proc.t SELECT id, CAST(id AS DOUBLE) " +
          s"FROM range(${i * 100}, ${i * 100 + 100})")
      }
      val dir = s"$wh/t"
      val before = ManifestedTable.currentFiles(spark, dir).size
      assert(before >= 5)

      // OPTIMIZE (clustered compaction) through plain SQL — the
      // receipt row carries the new version
      val ov = spark.sql(
        "CALL gm_proc.system.optimize('t', 1073741824, 'k')")
        .head.getLong(0)
      assert(ov == ManifestedTable.currentVersion(spark, dir))
      assert(ManifestedTable.currentFiles(spark, dir).size < before)
      assert(spark.sql("SELECT count(*) AS n FROM gm_proc.t")
        .head.getLong(0) == 500)
      // clustered: a key band now prunes through the face
      val band = spark.read.format("graft-manifest").load(dir)
        .filter(col("k") >= 0L && col("k") <= 49L)
      assert(band.rdd.getNumPartitions <
        ManifestedTable.currentFiles(spark, dir).size ||
        ManifestedTable.currentFiles(spark, dir).size == 1)

      // RESTORE to the pre-optimize version, then VACUUM with age 0
      // reclaims everything unreferenced; the table still reads exact
      spark.sql(s"CALL gm_proc.system.restore('t', ${ov - 1})")
      assert(spark.sql("SELECT count(*) AS n FROM gm_proc.t")
        .head.getLong(0) == 500)
      val deleted = spark.sql(
        "CALL gm_proc.system.vacuum('t', 1, 0)").head.getInt(0)
      assert(deleted > 0, "vacuum reclaimed nothing after the restore")
      assert(spark.sql("SELECT count(*) AS n FROM gm_proc.t")
        .head.getLong(0) == 500)

      // plain compact is callable too and no-ops when already compact
      spark.sql("CALL gm_proc.system.compact('t', 1073741824)")
      val v = ManifestedTable.currentVersion(spark, dir)
      spark.sql("CALL gm_proc.system.compact('t', 1073741824)")
      assert(ManifestedTable.currentVersion(spark, dir) == v,
        "a no-op compact advanced the version")

      // TBLPROPERTIES persist in the manifest and the engine reads its
      // own dial: with graft.dv-max-fraction set, a 1-row SQL DELETE
      // writes a deletion-vector sidecar — zero data files move
      spark.sql("ALTER TABLE gm_proc.t SET TBLPROPERTIES " +
        "('graft.dv-max-fraction' = '0.2')")
      val vProp = ManifestedTable.currentVersion(spark, dir)
      val filesProp = ManifestedTable.currentFiles(spark, dir).sorted
      spark.sql("DELETE FROM gm_proc.t WHERE k = 123")
      assert(spark.sql("SELECT count(*) AS n FROM gm_proc.t")
        .head.getLong(0) == 499)
      val (adds, rems) = ManifestedTable.changedFiles(spark, dir,
        vProp, vProp + 1)
      assert(adds.isEmpty && rems.isEmpty,
        s"a MoR-dialed SQL DELETE moved data files: +$adds -$rems")
      assert(ManifestedTable.currentFiles(spark, dir).sorted == filesProp)

      // DESCRIBE HISTORY as a procedure: per-version op trail
      val hist = spark.sql("CALL gm_proc.system.history('t')")
        .orderBy("version").collect()
      assert(hist.length ==
        ManifestedTable.versions(spark, dir).size)
      assert(hist.map(_.getString(2)).toSeq
        .containsSlice(Seq("restore(v7)")) ||
        hist.map(_.getString(2)).exists(_.startsWith("restore")),
        hist.map(_.getString(2)).mkString(","))

      // the _file metadata column works from SQL — per-file row
      // counts without any helper API (the layout report as a query)
      val perFile = spark.sql(
        "SELECT _file, count(*) AS n FROM gm_proc.t GROUP BY _file")
        .collect()
      assert(perFile.nonEmpty &&
        perFile.map(_.getLong(1)).sum == 499,
        s"metadata-column counts wrong (DV-aware): ${perFile.mkString(",")}")

      // unknown procedures refuse loudly
      intercept[Exception] {
        spark.sql("CALL gm_proc.system.explode('t')")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.gm_proc")
      spark.conf.unset("spark.sql.catalog.gm_proc.root")
    }
  }

  test("graft-manifest DSv2 runtime filtering: a filtered dim prunes snapshot files") {
    // the AvroDataSource recipe pointed at the manifest layout: the
    // scan declares its stats-covered columns, Catalyst executes the
    // selective dim first and hands the observed join keys in as an In
    // filter before partitions are planned — snapshot files whose
    // manifest intervals refute every probed key never open
    import graft.sources.ManifestedTable
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val dir = tempDir("graft_mrf").toString
      val ev = Tables.events(spark, sf)
        .select("event_id", "user_id", "event_type", "value")
        .filter(col("event_id") < 800)
      ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), dir)
      val files = ManifestedTable.currentFiles(spark, dir).size
      assert(files >= 4)
      val dimDir = tempDir("graft_mrfd").toString
      ev.select(col("event_id").as("e")).distinct()
        .write.mode("overwrite").parquet(dimDir)
      val probes = ev.select("event_id").orderBy("event_id")
        .limit(2).collect().map(_.getLong(0))
      val dim = spark.read.parquet(dimDir)
        .filter(col("e").isin(probes.toIndexedSeq: _*))
      val fact = spark.read.format("graft-manifest").load(dir)
      val joined = fact.join(dim, col("event_id") === col("e"))
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        s"no DynamicPruning planted:\n${plan.toString.take(1200)}")
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("graft-manifest") => b
      }
      assert(scans.size == 1)
      val planned = scans.head.inputRDD.partitions.length
      assert(planned < files,
        s"runtime filter pruned nothing: $planned of $files")
      assert(rows.length ==
        ev.filter(col("event_id").isin(probes.toIndexedSeq: _*)).count())
      assert(rows.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("fixed-width: leading spaces in string fields round-trip intact") {
    // the contract is left-aligned / RIGHT-trimmed — a value with
    // significant leading spaces (' x') must survive the write/read
    // cycle byte-faithfully; only the right-side slot padding strips
    import spark.implicits._
    import graft.sources.FixedWidth
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = tempDir("graft_fw_ls").toString
    val spec = Seq(
      FixedWidth.Col("id", 1, 6, LongType),
      FixedWidth.Col("tag", 7, 8, StringType))
    val src = Seq((1L, " lead"), (2L, "  two"), (3L, "plain"), (4L, ""))
      .toDF("id", "tag")
    FixedWidth.write(src, dir, spec)
    val back = FixedWidth.read(spark, dir, spec)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back(1L) == " lead", s"leading space lost: '${back(1L)}'")
    assert(back(2L) == "  two")
    assert(back(3L) == "plain")
    // an all-space slot right-trims to the empty string; the numeric
    // path still blank→NULL-casts independently of the string rule
    assert(back(4L) == "")
  }

  test("ADVICE r18: restore carries schema meta; concurrent ALTER aborts; reversed CDF window translates") {
    import graft.sources.{ConcurrentWriteException, ManifestedTable}
    val wh = tempDir("graft_adv").toString
    spark.conf.set("spark.sql.catalog.gm_adv",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_adv.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_adv.t AS
        SELECT id AS k, CAST(id * 10 AS BIGINT) AS cents FROM range(20)""")
      val dir = s"$wh/t"
      val vPreRename = ManifestedTable.currentVersion(spark, dir)
      spark.sql("ALTER TABLE gm_adv.t RENAME COLUMN cents TO amount")
      spark.sql("""INSERT INTO gm_adv.t
        SELECT id + 100, CAST(id AS BIGINT) FROM range(5)""")
      assert(spark.sql("SELECT * FROM gm_adv.t").columns.toSeq ==
        Seq("k", "amount"))

      // (1) RESTORE is metadata-inclusive (Delta semantics): rolling
      // back past the RENAME restores the OLD declared name, and the
      // restored epoch is APPENDED (ids stay append-only) so every
      // file still translates — data reads exactly the pre-rename image
      ManifestedTable.restore(spark, dir, vPreRename)
      assert(spark.sql("SELECT * FROM gm_adv.t").columns.toSeq ==
        Seq("k", "cents"),
        "restore carried the current schema instead of the restored one")
      assert(spark.sql("SELECT sum(cents) AS s FROM gm_adv.t")
        .head.getLong(0) == (0 until 20).map(_ * 10L).sum)
      // restore to the CURRENT image must not append a redundant epoch
      // (which would force the translated read path on every scan) —
      // the epoch count is read off the head manifest's meta line
      def epochCount(): Int = {
        val mdir = new java.io.File(dir, "_manifests")
        val head = mdir.listFiles()
          .filter(_.getName.startsWith("manifest-")).maxBy(_.getName)
        scala.io.Source.fromFile(head).getLines()
          .find(_.startsWith("#fieldepochs="))
          .map(_.stripPrefix("#fieldepochs=").count(_ == ';') + 1)
          .getOrElse(0)
      }
      val epochsBefore = epochCount()
      ManifestedTable.restore(spark, dir,
        ManifestedTable.currentVersion(spark, dir))
      assert(epochCount() == epochsBefore,
        "a same-schema restore appended a redundant epoch")

      // (2) concurrent ALTERs: the loser must abort loudly, never
      // silently drop the winner's epoch append (lost update on the
      // versioned schema). beforePublish interleaves deterministically.
      ManifestedTable.beforePublish = () =>
        spark.sql("ALTER TABLE gm_adv.t ADD COLUMNS (other STRING)")
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE gm_adv.t ADD COLUMNS (note STRING)")
      }
      def rootCause(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
      assert(rootCause(e).isInstanceOf[ConcurrentWriteException],
        s"expected ConcurrentWriteException, got $e")
      ManifestedTable.beforePublish = () => ()
      // the WINNER's column survives; the loser's never landed
      val cols = spark.sql("SELECT * FROM gm_adv.t").columns.toSeq
      assert(cols.contains("other") && !cols.contains("note"), cols.toString)

      // (3) changesBetween with fromV > toV (a reversed window): the
      // schema context must resolve at max(from, to) or the from-side
      // files' se: epochs clamp wrong and mis-translate across a
      // rename. The reversed diff is the forward diff with sides
      // swapped.
      spark.sql("ALTER TABLE gm_adv.t RENAME COLUMN cents TO pennies")
      spark.sql("""INSERT INTO gm_adv.t
        SELECT id + 200, CAST(id AS BIGINT), 'x' FROM range(3)""")
      val hi = ManifestedTable.currentVersion(spark, dir)
      val lo = hi - 1
      val (fwdA, fwdR) = ManifestedTable.changesBetween(spark, dir, lo, hi)
      val (revA, revR) = ManifestedTable.changesBetween(spark, dir, hi, lo)
      assert(fwdA.count() == 3 && fwdR.count() == 0)
      assert(revA.count() == 0 && revR.count() == 3)
      assert(revR.columns.sorted.toSeq == fwdA.columns.sorted.toSeq)
      assert(revR.agg(sum(col("pennies"))).head.getLong(0) ==
        fwdA.agg(sum(col("pennies"))).head.getLong(0),
        "reversed-window CDF mis-translated a renamed column")
    } finally {
      ManifestedTable.beforePublish = () => ()
      spark.sql("DROP TABLE IF EXISTS gm_adv.t")
    }
  }

  test("graft-manifest hidden partitioning: transforms, tuple pruning, evolution, rename interplay") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_hp").toString
    spark.conf.set("spark.sql.catalog.gm_hp",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_hp.root", wh)
    try {
      // PARTITIONED BY transforms in plain DDL — the first thing a
      // porting user types (previously a loud refusal)
      spark.sql("""CREATE TABLE gm_hp.t (k BIGINT, d DATE, tag STRING)
        PARTITIONED BY (months(d), bucket(4, k))""")
      // 6 months x spread keys, plus a NULL-date row (its own tuple)
      spark.sql("""INSERT INTO gm_hp.t
        SELECT id, date_add(DATE'1995-01-15', CAST(id % 6 AS INT) * 31),
               concat('t', id % 3)
        FROM range(600)""")
      spark.sql(
        "INSERT INTO gm_hp.t VALUES (9999, CAST(NULL AS DATE), 'nil')")
      val t = () => spark.table("gm_hp.t")
      assert(t().count() == 601)
      val files = ManifestedTable.currentFiles(spark, s"$wh/t").size
      assert(files > 8, s"expected tuple-local files, got $files")

      // month-equality pruning: a strict minority of files plans, and
      // the rows are exactly the relational answer
      val oneMonth = t().filter(col("d") === lit("1995-02-15").cast("date"))
      assert(oneMonth.rdd.getNumPartitions * 3 < files,
        s"month pruning planned ${oneMonth.rdd.getNumPartitions} of $files")
      assert(oneMonth.count() ==
        (0 until 600).count(i => i % 6 == 1))

      // bucket pruning: k-equality opens only files whose tuple IS the
      // probe's bucket — the driver re-derives Spark's own murmur3, so
      // a hash mismatch would either skip the row (count 0) or plan
      // everything; exactness is the assertion
      val probe = t().filter(col("k") === 123L)
      assert(probe.count() == 1, "bucket pruning lost the probed row")
      assert(probe.rdd.getNumPartitions * 2 < files,
        s"bucket pruning planned ${probe.rdd.getNumPartitions} of $files")

      // NULL tuple: IS NULL plans a minority and finds the row;
      // equality never matches the null-tuple file
      val nullRead = t().filter(col("d").isNull)
      assert(nullRead.count() == 1)
      assert(nullRead.rdd.getNumPartitions * 2 < files)

      // partition EVOLUTION: one metadata commit; old files keep (and
      // keep pruning under) their write-time spec, new writes land
      // day-local
      spark.sql("CALL gm_hp.system.set_partition_spec('t', 'days(d)')")
      spark.sql("""INSERT INTO gm_hp.t
        SELECT id + 1000, date_add(DATE'1996-01-01', CAST(id % 5 AS INT)),
               't9'
        FROM range(100)""")
      assert(t().count() == 701)
      val files2 = ManifestedTable.currentFiles(spark, s"$wh/t").size
      // a filter straddling the seam prunes on BOTH sides: the old
      // files via months(d), the new via days(d)
      val seam = t().filter(col("d") === lit("1996-01-03").cast("date"))
      assert(seam.count() == 20)
      assert(seam.rdd.getNumPartitions * 3 < files2,
        s"post-evolution pruning planned ${seam.rdd.getNumPartitions} " +
          s"of $files2")
      val oldSide = t().filter(col("d") === lit("1995-02-15").cast("date"))
      assert(oldSide.count() == (0 until 600).count(i => i % 6 == 1),
        "evolution broke old-spec rows")
      assert(oldSide.rdd.getNumPartitions * 3 < files2,
        "old-spec files stopped pruning after evolution")

      // DML on a partitioned table: the rewrite lands in the CURRENT
      // spec and the answer stays exact
      spark.sql("DELETE FROM gm_hp.t WHERE tag = 't9' AND k % 10 = 3")
      assert(t().count() == 701 - 10)

      // RENAME of a partition source column re-points the spec: new
      // writes keep partitioning (by the new name), reads keep pruning
      spark.sql("ALTER TABLE gm_hp.t RENAME COLUMN d TO day")
      spark.sql("""INSERT INTO gm_hp.t
        SELECT id + 5000, DATE'1997-06-01', 'r' FROM range(40)""")
      val files3 = ManifestedTable.currentFiles(spark, s"$wh/t").size
      val renamed = t().filter(col("day") === lit("1997-06-01").cast("date"))
      assert(renamed.count() == 40)
      assert(renamed.rdd.getNumPartitions * 3 < files3,
        "post-rename writes stopped partition-pruning")
      // DROP of a spec source refuses loudly
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_hp.t DROP COLUMN day")
      }

      // unsupported transform refuses at CREATE, not first write
      intercept[Exception] {
        spark.sql("""CREATE TABLE gm_hp.bad (k BIGINT, ts TIMESTAMP)
          PARTITIONED BY (days(ts))""")
      }

      // name-SWAP rename + COMPOUND filter: after a→b then c→a, the
      // current name 'a' means the OLD c — pruning must translate
      // through And/Or recursion too, or an OR probe on 'a' refutes
      // old files against the ORIGINAL a's tuples and loses rows
      spark.sql("""CREATE TABLE gm_hp.t2 (a BIGINT, c BIGINT, v STRING)
        PARTITIONED BY (identity(a))""")
      spark.sql("""INSERT INTO gm_hp.t2
        SELECT id % 4, id % 10, concat('v', id) FROM range(200)""")
      spark.sql("ALTER TABLE gm_hp.t2 RENAME COLUMN a TO b")
      spark.sql("ALTER TABLE gm_hp.t2 RENAME COLUMN c TO a")
      val swapped = spark.table("gm_hp.t2")
        .filter(col("a") === 7L || col("a") === 9L)
      assert(swapped.count() == (0 until 200).count(i =>
        i % 10 == 7 || i % 10 == 9),
        "compound-filter pruning lost rows after a name-swap rename")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_hp.t")
      spark.sql("DROP TABLE IF EXISTS gm_hp.t2")
      spark.sql("DROP TABLE IF EXISTS gm_hp.bad")
    }
  }

  test("graft-manifest nested types: struct columns through write/read/DML + nested field-id evolution") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_nest").toString
    spark.conf.set("spark.sql.catalog.gm_ns",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_ns.root", wh)
    try {
      // CTAS with a struct column (clean scans ride the vectorized
      // face; the declared schema records per-leaf field ids)
      spark.sql("""CREATE TABLE gm_ns.t AS
        SELECT id AS k,
               named_struct('cents', id * 10, 'tag',
                 concat('g', CAST(id % 3 AS STRING))) AS info,
               id % 7 AS c
        FROM range(200)""")
      assert(spark.sql("SELECT sum(info.cents) AS s FROM gm_ns.t")
        .head.getLong(0) == (0 until 200).map(_ * 10L).sum)

      // RENAME of a NESTED field: metadata-only; old files keep
      // serving the bytes through the leaf's field id
      spark.sql("ALTER TABLE gm_ns.t RENAME COLUMN info.cents TO amount")
      assert(spark.sql("SELECT sum(info.amount) AS s FROM gm_ns.t")
        .head.getLong(0) == (0 until 200).map(_ * 10L).sum,
        "nested rename lost the old files' bytes")
      spark.sql("""INSERT INTO gm_ns.t
        SELECT id + 1000, named_struct('amount', id + 1, 'tag', 'new'),
               id % 7
        FROM range(50)""")
      assert(spark.sql("SELECT count(*) AS n FROM gm_ns.t " +
        "WHERE info.amount IS NOT NULL").head.getLong(0) == 250)

      // DROP + re-ADD of a nested NAME: fresh id — pre-drop rows must
      // read NULL (count(info.tag) is the resurrection detector)
      spark.sql("ALTER TABLE gm_ns.t DROP COLUMN info.tag")
      spark.sql("ALTER TABLE gm_ns.t ADD COLUMNS (info.tag STRING)")
      spark.sql("""INSERT INTO gm_ns.t
        SELECT id + 2000, named_struct('amount', id, 'tag', 'fresh'),
               id % 7
        FROM range(30)""")
      assert(spark.sql("SELECT count(info.tag) AS n FROM gm_ns.t")
        .head.getLong(0) == 30,
        "a dropped-then-re-added nested name resurrected dead bytes")

      // engine-planned UPDATE on the nested table (catalyst writers):
      // rewrite a stratum across all three file generations
      spark.sql("""UPDATE gm_ns.t SET
        info = named_struct('amount', info.amount + 5, 'tag', info.tag)
        WHERE k % 10 = 3""")
      val bumped = spark.sql(
        "SELECT sum(info.amount) AS s FROM gm_ns.t WHERE k % 10 = 3")
        .head.getLong(0)
      val expect3 = (0 until 200).filter(_ % 10 == 3).map(_ * 10L + 5).sum +
        (0 until 50).filter(i => (i + 1000) % 10 == 3).map(_ + 1L + 5).sum +
        (0 until 30).filter(i => (i + 2000) % 10 == 3).map(_ + 5L).sum
      assert(bumped == expect3, s"UPDATE on nested table: $bumped != $expect3")

      // merge-on-read DELETE: nested rows behind a deletion vector
      // read back through the catalyst row reader's DV skip
      val dir = s"$wh/t"
      ManifestedTable.setTableProperties(
        spark.sessionState.newHadoopConf(), dir,
        Map("graft.dv-max-fraction" -> "1.0"))
      spark.sql("DELETE FROM gm_ns.t WHERE k = 1001 OR k = 7")
      assert(spark.sql("SELECT count(*) AS n FROM gm_ns.t")
        .head.getLong(0) == 278)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_ns.t WHERE k IN (7, 1001)")
        .head.getLong(0) == 0)

      // CDF with a struct column: the per-file bag diff cancels
      // unchanged struct rows
      val hv = ManifestedTable.currentVersion(spark, dir)
      val (added, removed) =
        ManifestedTable.changesBetween(spark, dir, hv - 1, hv)
      assert(added.count() == 0 && removed.count() == 2,
        s"nested CDF: ${added.count()} added, ${removed.count()} removed")
      assert(removed.selectExpr("k").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(7L, 1001L))

      // object-API interop: time travel to the pre-rename snapshot
      // serves THAT snapshot's declared nested schema
      val preRename = spark.sql(
        "SELECT * FROM gm_ns.t VERSION AS OF 2")
      val infoT = preRename.schema("info").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(infoT.fieldNames.toSeq == Seq("cents", "tag"),
        s"versioned read leaked the renamed nested schema: $infoT")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_ns.t")
    }
  }

  test("graft-manifest per-commit CDF: change types, identifier pairing, branch invisibility") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_tc").toString
    // v1 base, v2 append, v3 merge (update k=1, insert k=10), branch
    // staging commit (invisible), v5 delete k=2
    ManifestedTable.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("k", "v"), dir)
    ManifestedTable.write(Seq((4L, 40.0)).toDF("k", "v"), dir,
      overwrite = false)
    ManifestedTable.merge(spark, dir,
      Seq((1L, 11.0), (10L, 100.0)).toDF("k", "v"), Seq("k"))
    ManifestedTable.writeBranch(Seq((99L, 999.0)).toDF("k", "v"), dir,
      "staging")
    ManifestedTable.deleteWhere(spark, dir, col("k") === 2L)
    val ch = ManifestedTable.tableChanges(spark, dir, 0L,
      ManifestedTable.currentVersion(spark, dir), Seq("k"))
    val got = ch.select(col("_change_type"), col("_commit_version"),
      col("k"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._2, t._1, t._3)).toSeq
    assert(got == Seq(
      ("insert", 1L, 1L, 10.0), ("insert", 1L, 2L, 20.0),
      ("insert", 1L, 3L, 30.0),
      ("insert", 2L, 4L, 40.0),
      ("insert", 3L, 10L, 100.0),
      ("update_postimage", 3L, 1L, 11.0),
      ("update_preimage", 3L, 1L, 10.0),
      ("delete", 5L, 2L, 20.0)), got.toString)
    // the staged branch commit (v4) contributed NOTHING — its rows
    // surface only at a promote
    assert(!got.exists(_._3 == 99L))
    // _commit_timestamp rides the #ts= clock: non-null, non-decreasing
    val tss = ch.select(col("_commit_version"), col("_commit_timestamp"))
      .distinct().collect().sortBy(_.getLong(0))
      .map(_.getTimestamp(1).getTime).toSeq
    assert(tss.forall(_ > 0L) && tss == tss.sorted)
    // without identifier columns the same window reads as pure
    // insert/delete pairs
    val plain = ManifestedTable.tableChanges(spark, dir, 0L,
      ManifestedTable.currentVersion(spark, dir))
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == Map("insert" -> 6L, "delete" -> 2L), plain.toString)
    intercept[IllegalArgumentException] {
      ManifestedTable.tableChanges(spark, dir, 5L, 0L)
    }
  }

  test("graft-manifest hidden partitioning: hours and truncate transforms") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_ht").toString
    spark.conf.set("spark.sql.catalog.gm_ht",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_ht.root", wh)
    try {
      // hours(ts): TIMESTAMP binning is allowed (an instant's
      // epoch-hour is zone-free); truncate(w, k) floors ints to
      // multiples of w
      spark.sql("""CREATE TABLE gm_ht.t (k BIGINT, ts TIMESTAMP, v STRING)
        PARTITIONED BY (hours(ts), truncate(100, k))""")
      spark.sql("""INSERT INTO gm_ht.t
        SELECT id,
               timestamp_seconds(1700000000 + (id % 8) * 3600),
               concat('v', id)
        FROM range(800)""")
      val t = () => spark.table("gm_ht.t")
      assert(t().count() == 800)
      val files = ManifestedTable.currentFiles(spark, s"$wh/t").size
      assert(files > 8, s"expected tuple-local files, got $files")

      // hour-equality pruning: one hour bin opens a strict minority
      val oneHour = t().filter(
        col("ts") === org.apache.spark.sql.functions
          .timestamp_seconds(lit(1700000000 + 3 * 3600)))
      assert(oneHour.count() == 100)
      assert(oneHour.rdd.getNumPartitions * 3 < files,
        s"hour pruning planned ${oneHour.rdd.getNumPartitions} of $files")

      // truncate range pruning: k >= 700 refutes every bin below 700
      val hi = t().filter(col("k") >= 700L)
      assert(hi.count() == 100)
      assert(hi.rdd.getNumPartitions * 3 < files,
        s"truncate range pruning planned ${hi.rdd.getNumPartitions}")
      // equality prunes to the probe's own bin
      val one = t().filter(col("k") === 123L)
      assert(one.count() == 1)
      assert(one.rdd.getNumPartitions * 3 < files)

      // truncate over STRINGS: first-w-code-points bins, equality and
      // range both prune, rows stay exact
      spark.sql("""CREATE TABLE gm_ht.s (name STRING, n BIGINT)
        PARTITIONED BY (truncate(2, name))""")
      spark.sql("""INSERT INTO gm_ht.s
        SELECT concat(CASE CAST(id % 4 AS INT) WHEN 0 THEN 'aa'
                      WHEN 1 THEN 'bb' WHEN 2 THEN 'cc'
                      ELSE 'dd' END, CAST(id AS STRING)), id
        FROM range(400)""")
      val s = () => spark.table("gm_ht.s")
      val sFiles = ManifestedTable.currentFiles(spark, s"$wh/s").size
      val eqS = s().filter(col("name") === "bb101")
      assert(eqS.count() == 1)
      assert(eqS.rdd.getNumPartitions * 2 < sFiles,
        s"string-truncate eq pruning planned ${eqS.rdd.getNumPartitions}")
      val rangeS = s().filter(col("name") >= "cc")
      assert(rangeS.count() == 200)
      assert(rangeS.rdd.getNumPartitions * 2 <= sFiles,
        s"string-truncate range planned ${rangeS.rdd.getNumPartitions}")

      // a negative-capable truncate: floorMod bins negatives in their
      // own multiples (−150 lands in bin −200, not bin −100)
      spark.sql("""CREATE TABLE gm_ht.neg (k BIGINT, v STRING)
        PARTITIONED BY (truncate(100, k))""")
      spark.sql("""INSERT INTO gm_ht.neg
        SELECT id - 200, concat('v', id) FROM range(400)""")
      val negProbe = spark.table("gm_ht.neg").filter(col("k") === -150L)
      assert(negProbe.count() == 1, "negative truncate bin lost its row")

      // hours on a DATE column refuses at CREATE; truncate on a
      // DOUBLE refuses too
      intercept[Exception] {
        spark.sql("""CREATE TABLE gm_ht.bad (k BIGINT, d DATE)
          PARTITIONED BY (hours(d))""")
      }
      intercept[Exception] {
        spark.sql("""CREATE TABLE gm_ht.bad2 (x DOUBLE)
          PARTITIONED BY (truncate(10, x))""")
      }

      // partition EVOLUTION INTO the new transforms (the CALL
      // set_partition_spec parser path): the bucketed table t's spec
      // evolves to truncate(200, k) + hours(ts); old files keep
      // pruning under their write-time spec, new writes land under
      // the evolved one, and a probe prunes on BOTH sides of the seam
      spark.sql(
        "CALL gm_ht.system.set_partition_spec('t', 'truncate(200, k), hours(ts)')")
      spark.sql("""INSERT INTO gm_ht.t
        SELECT id + 10000,
               timestamp_seconds(1700000000 + (CAST(id AS INT) % 4) * 3600),
               concat('e', id)
        FROM range(400)""")
      val filesE = ManifestedTable.currentFiles(spark, s"$wh/t").size
      val seam = spark.table("gm_ht.t").filter(col("k") >= 10200L)
      assert(seam.count() == 200)
      assert(seam.rdd.getNumPartitions * 3 < filesE,
        s"post-evolution truncate pruning planned " +
          s"${seam.rdd.getNumPartitions} of $filesE")
      val oldSeam = spark.table("gm_ht.t").filter(col("k") === 123L)
      assert(oldSeam.count() == 1)
      assert(oldSeam.rdd.getNumPartitions * 3 < filesE,
        "old-spec files stopped pruning after evolution to truncate/hours")
      // evolving to an unsupported pair refuses loudly
      intercept[Exception] {
        spark.sql("CALL gm_ht.system.set_partition_spec('t', 'hours(v)')")
      }
    } finally {
      Seq("t", "s", "neg", "bad", "bad2").foreach(n =>
        spark.sql(s"DROP TABLE IF EXISTS gm_ht.$n"))
    }
  }

  test("graft-manifest metadata tables: files/partitions/history/snapshots/refs") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_mt").toString
    spark.conf.set("spark.sql.catalog.gm_mt",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_mt.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_mt.t (k BIGINT, d DATE, v STRING)
        PARTITIONED BY (months(d))""")
      spark.sql("""INSERT INTO gm_mt.t
        SELECT id, date_add(DATE'2001-01-15', CAST(id % 3 AS INT) * 31),
               concat('v', id)
        FROM range(300)""")
      val v2 = ManifestedTable.currentVersion(spark, s"$wh/t")
      spark.sql("""INSERT INTO gm_mt.t
        SELECT id + 1000, DATE'2001-02-15', 'w' FROM range(50)""")

      // files: |live files| rows, zero data IO (a LocalScan — the
      // plan is a LocalRelation, no cluster job), record_count sums
      // to the table's row count, every file carries its partition
      val files = spark.sql("SELECT * FROM gm_mt.t.files")
      assert(files.queryExecution.executedPlan.collect {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l
      }.nonEmpty, "metadata table did not plan as a local scan")
      assert(files.agg(org.apache.spark.sql.functions.sum("record_count"))
        .head.getLong(0) == 350L)
      assert(files.filter(col("partition").isNull).count() == 0)
      assert(files.filter(col("partition").startsWith("months(d)="))
        .count() == files.count())

      // partitions: grouped rollup agrees with the relational answer
      val parts = spark.sql(
        """SELECT partition, record_count FROM gm_mt.t.partitions
          |ORDER BY partition""".stripMargin).collect()
      val feb = parts.find(_.getString(0) == "months(d)=373").get
      assert(feb.getLong(1) ==
        (0 until 300).count(_ % 3 == 1) + 50,
        s"partitions rollup wrong: ${parts.mkString(";")}")

      // VERSION AS OF pins the snapshot-scoped kinds: the v2 files
      // image excludes the second feed
      val filesV2 = spark.sql(
        s"SELECT sum(record_count) AS n FROM gm_mt.t.files VERSION AS OF $v2")
      assert(filesV2.head.getLong(0) == 300L)
      // ... and refuses on the log-wide kinds
      intercept[Exception] {
        spark.sql(
          s"SELECT * FROM gm_mt.t.history VERSION AS OF $v2").collect()
      }

      // history/snapshots: one row per retained version, ops named,
      // timestamps monotone over main, parent lineage recorded
      val hist = spark.sql(
        "SELECT version, operation FROM gm_mt.t.history ORDER BY version")
        .collect()
      assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(hist.map(_.getString(1)).toSeq ==
        Seq("create", "append", "append"))
      val snaps = spark.sql(
        """SELECT version, parent_version, total_records
          |FROM gm_mt.t.snapshots ORDER BY version""".stripMargin).collect()
      assert(snaps.map(r => Option(r.get(1)).map(_.toString.toLong))
        .toSeq == Seq(Some(0L), Some(1L), Some(2L)))
      assert(snaps.last.getLong(2) == 350L)
      val ts = spark.sql(
        "SELECT committed_at FROM gm_mt.t.history ORDER BY version")
        .collect().map(_.getTimestamp(0).getTime)
      assert(ts.sorted.sameElements(ts), "history timestamps not monotone")

      // refs: a branch write and a tag both list with their versions
      ManifestedTable.writeBranch(
        spark.range(5).selectExpr("id AS k",
          "DATE'2001-03-15' AS d", "'b' AS v").toDF(), s"$wh/t", "audit")
      spark.sql("CALL gm_mt.system.create_tag('t', 'pin', 3)")
      val refs = spark.sql(
        "SELECT name, type, version FROM gm_mt.t.refs ORDER BY name")
        .collect()
      assert(refs.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("audit", "branch"), ("pin", "tag")))
      assert(refs.find(_.getString(0) == "pin").get.getLong(2) == 3L)

      // DML: a MoR delete surfaces its deletion vector in `files`
      spark.sql("ALTER TABLE gm_mt.t SET TBLPROPERTIES " +
        "('graft.dv-max-fraction' = '1.0')")
      spark.sql("DELETE FROM gm_mt.t WHERE k % 10 = 7")
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_mt.t.files WHERE dv_path IS NOT NULL")
        .head.getLong(0) > 0, "DV sidecar missing from files metadata")

      // a REAL table named like a metadata kind wins the name
      spark.sql("CREATE TABLE gm_mt.t.files (x BIGINT) ")
      spark.sql("INSERT INTO gm_mt.t.files VALUES (42)")
      assert(spark.sql("SELECT x FROM gm_mt.t.files").head.getLong(0) == 42L)
      spark.sql("DROP TABLE gm_mt.t.files")
      assert(spark.sql("SELECT count(*) FROM gm_mt.t.files")
        .head.getLong(0) > 0, "metadata resolution did not return")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_mt.t")
    }
  }

  test("graft-manifest change data feed: readChangeFeed batch + streaming, DV-exact deletes, compaction skipped") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_cdf").toString
    val chk = tempDir("graft_cdfc").toString
    spark.conf.set("spark.sql.catalog.gm_cdf",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_cdf.root", wh)
    try {
      spark.sql("CREATE TABLE gm_cdf.t (k BIGINT, v STRING)") // v1
      spark.sql("""INSERT INTO gm_cdf.t
        SELECT id, concat('a', id) FROM range(100)""") // v2
      spark.sql("ALTER TABLE gm_cdf.t SET TBLPROPERTIES " +
        "('graft.dv-max-fraction' = '1.0')") // v3 (no entry change)
      spark.sql("DELETE FROM gm_cdf.t WHERE k % 10 = 3") // v4: MoR DV
      spark.sql("""INSERT INTO gm_cdf.t
        SELECT id + 100, concat('b', id) FROM range(50)""") // v5
      spark.sql("""UPDATE gm_cdf.t SET v = concat(v, '!')
        WHERE k % 25 = 7""") // v6: CoW rewrite
      ManifestedTable.compact(spark, s"$wh/t", 1L << 30) // v7
      assert(ManifestedTable.currentVersion(spark, s"$wh/t") == 7L)

      val feed = spark.read.format("graft-manifest")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(s"$wh/t")
      val rows = feed.select("k", "v", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3)))

      // the compaction commit contributes NOTHING (its delete+insert
      // pairs would cancel — the op marker skips it wholesale)
      assert(!rows.exists(_._4 == 7L), "compaction leaked into the CDF")
      // the set-properties commit changes no entries
      assert(!rows.exists(_._4 == 3L))

      // the MoR delete streams EXACTLY its victims: the include-mask
      // (new DV minus old) is position-precise, no file re-delivery
      val v4 = rows.filter(_._4 == 4L)
      assert(v4.forall(_._3 == "delete"))
      assert(v4.map(_._1).sorted.toSeq ==
        (0L until 100L).filter(_ % 10 == 3), s"v4 victims: ${v4.toSeq}")

      // REPLAY: fold each commit's deletes-then-inserts over a
      // multiset — the result must be exactly the current snapshot
      // (rewrite survivor pairs cancel; every delete must hit)
      val state = scala.collection.mutable.Map.empty[(Long, String), Long]
      rows.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, cs) =>
        cs.filter(_._3 == "delete").foreach { case (k, v, _, _) =>
          val cur = state.getOrElse((k, v), 0L)
          assert(cur > 0, s"CDF deleted a row that was never live: $k,$v")
          if (cur == 1L) state.remove((k, v)) else state((k, v)) = cur - 1
        }
        cs.filter(_._3 == "insert").foreach { case (k, v, _, _) =>
          state((k, v)) = state.getOrElse((k, v), 0L) + 1
        }
      }
      val snap = spark.table("gm_cdf.t").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(state.values.forall(_ == 1L))
      assert(state.keySet == snap.toSet,
        "CDF replay does not reproduce the snapshot")
      assert(snap.length == state.size)

      // timestamps ride the #ts= clock, monotone over the window
      val ts = feed.select("_commit_version", "_commit_timestamp")
        .distinct().collect()
        .sortBy(_.getLong(0)).map(_.getTimestamp(1).getTime)
      assert(ts.sorted.sameElements(ts))

      // a later window replays only its commits
      val tail = spark.read.format("graft-manifest")
        .option("readChangeFeed", "true").option("startingVersion", "4")
        .option("endingVersion", "5").load(s"$wh/t")
      assert(tail.select("_commit_version").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(5L))

      // row-level filters apply to the feed (pushed or residual)
      val one = feed.where(col("k") === 3L)
        .select("_change_type", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      assert(one.toSeq == Seq(("insert", 2L), ("delete", 4L)),
        s"filtered feed wrong: ${one.toSeq}")

      // STREAMING: the same feed as a micro-batch stream — drained
      // from version 0, the multiset equals the batch feed's
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, String, Long)]()
      val q = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(s"$wh/t")
        .writeStream.option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k", "v", "_change_type", "_commit_version").collect()
            .foreach(r => buf.add((r.getLong(0), r.getString(1),
              r.getString(2), r.getLong(3))))
          ()
        }.start()
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val streamed = buf.asScala.toSeq
      assert(streamed.sorted == rows.toSeq.sorted,
        "streaming CDF differs from the batch feed")

      // ... and a post-stream commit arrives incrementally
      spark.sql("INSERT INTO gm_cdf.t VALUES (999, 'late')")
      q.processAllAvailable()
      q.stop()
      val late = buf.asScala.toSeq.filter(_._4 == 8L)
      assert(late == Seq((999L, "late", "insert", 8L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_cdf.t")
    }
  }

  test("graft-manifest column defaults: CREATE/ADD COLUMN DEFAULT, exists-vs-current split") {
    val wh = tempDir("graft_dflt").toString
    spark.conf.set("spark.sql.catalog.gm_df",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_df.root", wh)
    try {
      // CREATE-time default: INSERTs that omit the column get it
      // injected by the engine's analyzer (the catalog declares
      // SUPPORT_COLUMN_DEFAULT_VALUE)
      spark.sql("""CREATE TABLE gm_df.t (
        k BIGINT, v STRING DEFAULT 'seed')""")
      spark.sql("INSERT INTO gm_df.t (k) VALUES (1), (2)")
      spark.sql("INSERT INTO gm_df.t VALUES (3, 'explicit')")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE v = 'seed'")
        .head.getLong(0) == 2)

      // ADD COLUMN ... DEFAULT: rows written BEFORE the column read
      // the EXISTS default (not NULL); new inserts omitting it get
      // the CURRENT default
      spark.sql(
        "ALTER TABLE gm_df.t ADD COLUMN tag STRING DEFAULT 'legacy'")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE tag = 'legacy'")
        .head.getLong(0) == 3,
        "pre-ADD rows did not read the exists default")
      spark.sql("INSERT INTO gm_df.t (k, v) VALUES (4, 'd')")
      spark.sql("INSERT INTO gm_df.t VALUES (5, 'e', CAST(NULL AS STRING))")
      // a GENUINE NULL written after the ADD stays NULL — the default
      // applies only to physically-absent columns
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE tag IS NULL")
        .head.getLong(0) == 1, "explicit NULL was defaulted away")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE tag = 'legacy'")
        .head.getLong(0) == 4)

      // SET DEFAULT moves the CURRENT default only: new omitting
      // inserts get the new value, pre-ADD rows KEEP reading the
      // ADD-time exists default (history does not rewrite)
      spark.sql("ALTER TABLE gm_df.t ALTER COLUMN tag SET DEFAULT 'fresh'")
      spark.sql("INSERT INTO gm_df.t (k, v) VALUES (6, 'f')")
      assert(spark.sql(
        "SELECT tag FROM gm_df.t WHERE k = 6").head.getString(0) ==
        "fresh")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE tag = 'legacy'")
        .head.getLong(0) == 4,
        "SET DEFAULT rewrote pre-ADD history")

      // defaults survive RENAME (metadata rides the field) and apply
      // through engine-planned DML reads
      spark.sql("ALTER TABLE gm_df.t RENAME COLUMN tag TO label")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE label = 'legacy'")
        .head.getLong(0) == 4)
      spark.sql("UPDATE gm_df.t SET v = concat(v, '!') WHERE k <= 2")
      assert(spark.sql(
        "SELECT count(*) FROM gm_df.t WHERE label = 'legacy'")
        .head.getLong(0) == 4,
        "a CoW rewrite lost defaulted values")
      // non-numeric default over a numeric column type-checks at DDL
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_df.t ADD COLUMN n BIGINT DEFAULT 'x'")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_df.t")
    }
  }

  test("graft-manifest CHECK constraints: engine-enforced writes, validated ADD, DROP") {
    val wh = tempDir("graft_ck").toString
    spark.conf.set("spark.sql.catalog.gm_ck",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_ck.root", wh)
    try {
      // CREATE-time CHECK: the constraint persists in table
      // properties and reports back through Table.constraints(), so
      // the ENGINE compiles it into every write plan
      spark.sql("""CREATE TABLE gm_ck.t (
        k BIGINT, cents BIGINT,
        CONSTRAINT cents_pos CHECK (cents >= 0))""")
      spark.sql("INSERT INTO gm_ck.t SELECT id, id * 10 FROM range(100)")
      assert(spark.table("gm_ck.t").count() == 100)
      // a violating INSERT throws BEFORE anything commits
      val vBefore = graft.sources.ManifestedTable
        .currentVersion(spark, s"$wh/t")
      intercept[Exception] {
        spark.sql("INSERT INTO gm_ck.t VALUES (999, -1)")
      }
      assert(graft.sources.ManifestedTable
        .currentVersion(spark, s"$wh/t") == vBefore,
        "a failed INSERT advanced the version")
      assert(spark.table("gm_ck.t").count() == 100)
      // NULL passes (SQL CHECK three-valued semantics)
      spark.sql("INSERT INTO gm_ck.t VALUES (1000, CAST(NULL AS BIGINT))")
      assert(spark.table("gm_ck.t").count() == 101)

      // a violating engine-planned UPDATE throws too
      intercept[Exception] {
        spark.sql("UPDATE gm_ck.t SET cents = cents - 100 WHERE k < 5")
      }
      assert(spark.sql(
        "SELECT count(*) FROM gm_ck.t WHERE cents < 0")
        .head.getLong(0) == 0)

      // ADD CONSTRAINT validates EXISTING rows with a real scan:
      // a check the data violates refuses...
      intercept[Exception] {
        spark.sql(
          "ALTER TABLE gm_ck.t ADD CONSTRAINT k_small CHECK (k < 500)")
      }
      // ...a check it holds lands, and then enforces
      spark.sql(
        "ALTER TABLE gm_ck.t ADD CONSTRAINT k_small CHECK (k <= 1000)")
      intercept[Exception] {
        spark.sql("INSERT INTO gm_ck.t VALUES (5000, 1)")
      }

      // DROP releases enforcement
      spark.sql("ALTER TABLE gm_ck.t DROP CONSTRAINT k_small")
      spark.sql("INSERT INTO gm_ck.t VALUES (5000, 1)")
      assert(spark.table("gm_ck.t").count() == 102)
      intercept[Exception] {
        spark.sql("ALTER TABLE gm_ck.t DROP CONSTRAINT nope")
      }

      // an unsupported constraint KIND refuses BEFORE the table
      // mutates — a failed CREATE must not leave a live table behind
      intercept[Exception] {
        spark.sql("""CREATE TABLE gm_ck.bad (
          k BIGINT, CONSTRAINT pk PRIMARY KEY (k))""")
      }
      intercept[Exception] { spark.table("gm_ck.bad").collect() }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_ck.t")
    }
  }

  test("graft-manifest catalog views: create_view/select/replace/drop via procedures + resolution rule") {
    val wh = tempDir("graft_vw").toString
    spark.conf.set("spark.sql.catalog.gm_vw",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_vw.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_vw.t AS
        SELECT id AS k, id % 7 AS c, id * 10 AS cents FROM range(700)""")

      // the engine routes no CREATE VIEW DDL to V2 catalogs (the
      // ViewCatalog interface ships unwired) — the DDL face is the
      // procedure namespace; bad SQL refuses at create (analyzed)
      spark.sql("""CALL gm_vw.system.create_view('v',
        'SELECT c, sum(cents) AS total FROM gm_vw.t GROUP BY c',
        false)""")
      intercept[Exception] {
        spark.sql(
          "CALL gm_vw.system.create_view('bad', 'SELECT nope FROM gm_vw.t', false)")
      }

      // reads expand the stored text via the resolution rule
      val viaView = spark.sql(
        "SELECT total FROM gm_vw.v WHERE c = 3").head.getLong(0)
      assert(viaView == (0 until 700).filter(_ % 7 == 3)
        .map(_ * 10L).sum)

      // a view is a TEXT binding, not a snapshot: base-table commits
      // show through
      spark.sql("INSERT INTO gm_vw.t VALUES (9003, 3, 1000000)")
      assert(spark.sql("SELECT total FROM gm_vw.v WHERE c = 3")
        .head.getLong(0) == viaView + 1000000L)

      // views compose with views and with the rest of the tier
      spark.sql("""CALL gm_vw.system.create_view('v2',
        'SELECT count(*) AS n FROM gm_vw.v WHERE total > 0', false)""")
      assert(spark.sql("SELECT n FROM gm_vw.v2").head.getLong(0) == 7L)

      // the listing procedure names both with their schemas
      val listed = spark.sql("CALL gm_vw.system.views()").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(listed == Seq("v", "v2"))

      // replace swaps the definition; plain create on a taken name
      // refuses (rename-without-overwrite)
      intercept[Exception] {
        spark.sql(
          "CALL gm_vw.system.create_view('v', 'SELECT 1 AS one', false)")
      }
      spark.sql("""CALL gm_vw.system.create_view('v',
        'SELECT c, count(*) AS total FROM gm_vw.t GROUP BY c', true)""")
      assert(spark.sql("SELECT total FROM gm_vw.v WHERE c = 3")
        .head.getLong(0) == 101L)

      // a view cannot shadow a table — and a TABLE cannot shadow a
      // view (symmetric; a silent shadow would orphan the view file
      // and resurrect its stale text at DROP TABLE)
      intercept[Exception] {
        spark.sql(
          "CALL gm_vw.system.create_view('t', 'SELECT 1 AS one', false)")
      }
      intercept[Exception] {
        spark.sql("CREATE TABLE gm_vw.v2 (x BIGINT)")
      }

      // COMMAND text refuses at create AND runs nothing: spark.sql
      // executes commands eagerly, so an INSERT body would otherwise
      // mutate data at view-creation time
      val nBefore = spark.table("gm_vw.t").count()
      intercept[Exception] {
        spark.sql("""CALL gm_vw.system.create_view('evil',
          'INSERT INTO gm_vw.t VALUES (77777, 0, 0)', false)""")
      }
      assert(spark.table("gm_vw.t").count() == nBefore,
        "a command-bodied create_view mutated the table")

      // drop releases the name; the dangling dependent view now fails
      // loudly at ITS resolution (text binding semantics)
      spark.sql("CALL gm_vw.system.drop_view('v')")
      intercept[Exception] { spark.sql("SELECT * FROM gm_vw.v").collect() }
      intercept[Exception] { spark.sql("SELECT * FROM gm_vw.v2").collect() }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_vw.t")
    }
  }

  test("graft-manifest cherrypick: lift one append commit onto the head; guards refuse the rest") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_cp").toString
    spark.conf.set("spark.sql.catalog.gm_cp",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_cp.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_cp.t AS
        SELECT id AS k, id % 5 AS c FROM range(100)""")
      val dir = s"$wh/t"

      // two commits staged on a branch; the branch is then DROPPED —
      // cherry-pick lifts exactly ONE of them onto main
      ManifestedTable.writeBranch(
        spark.range(50).selectExpr("id + 1000 AS k", "7 AS c").toDF(),
        dir, "stage")
      val vA = ManifestedTable.branches(spark, dir)
        .find(_._1 == "stage").get._2
      ManifestedTable.writeBranch(
        spark.range(30).selectExpr("id + 2000 AS k", "8 AS c").toDF(),
        dir, "stage")
      ManifestedTable.dropBranch(spark, dir, "stage")
      assert(spark.table("gm_cp.t").count() == 100,
        "dropped branch leaked into main")
      spark.sql(s"CALL gm_cp.system.cherrypick('t', $vA)")
      assert(spark.table("gm_cp.t").count() == 150)
      assert(spark.sql("SELECT count(*) FROM gm_cp.t WHERE c = 8")
        .head.getLong(0) == 0, "the unpicked staged commit leaked")
      assert(spark.sql("SELECT count(*) FROM gm_cp.t WHERE c = 7")
        .head.getLong(0) == 50)

      // double-pick refuses (the head already references the files)
      intercept[Exception] {
        ManifestedTable.cherrypick(spark, dir, vA)
      }

      // a commit erased by INSERT OVERWRITE lifts back
      spark.sql("INSERT INTO gm_cp.t VALUES (9000, 9)")
      val vIns = ManifestedTable.currentVersion(spark, dir)
      spark.sql("INSERT OVERWRITE gm_cp.t SELECT id AS k, 1 AS c FROM range(10)")
      assert(spark.table("gm_cp.t").count() == 10)
      spark.sql(s"CALL gm_cp.system.cherrypick('t', $vIns)")
      assert(spark.sql("SELECT count(*) FROM gm_cp.t WHERE k = 9000")
        .head.getLong(0) == 1, "the erased append did not lift back")

      // non-append deltas refuse: the OVERWRITE removed files
      intercept[Exception] {
        ManifestedTable.cherrypick(spark, dir, vIns + 1)
      }
      // a DML commit refuses too
      spark.sql("DELETE FROM gm_cp.t WHERE c = 1 AND k < 3")
      intercept[Exception] {
        ManifestedTable.cherrypick(spark, dir,
          ManifestedTable.currentVersion(spark, dir))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_cp.t")
    }
  }

  test("graft-manifest tags: immutable refs, VERSION AS OF tag, ref-scoped vacuum retention") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val wh = tempDir("graft_tag").toString
    spark.conf.set("spark.sql.catalog.gm_tag",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_tag.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_tag.t AS
        SELECT id AS k, CAST(id * 2 AS BIGINT) AS v FROM range(100)""")
      val dir = s"$wh/t"
      val v2 = ManifestedTable.currentVersion(spark, dir)
      spark.sql("CALL gm_tag.system.create_tag('t', 'train-q3', 0)")
      spark.sql("""INSERT OVERWRITE gm_tag.t
        SELECT id AS k, CAST(id * 3 AS BIGINT) AS v FROM range(10)""")
      spark.sql("""INSERT INTO gm_tag.t VALUES (999, CAST(7 AS BIGINT))""")

      // the tag resolves through plain SQL and pins the OLD image
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_tag.t VERSION AS OF 'train-q3'")
        .head.getLong(0) == 100)
      assert(spark.sql("SELECT count(*) AS n FROM gm_tag.t")
        .head.getLong(0) == 11)
      val tagRows = spark.sql("CALL gm_tag.system.tags('t')").collect()
      assert(tagRows.length == 1 &&
        tagRows.head.getString(0) == "train-q3" &&
        tagRows.head.getLong(1) == v2)

      // tags are IMMUTABLE: re-tagging the name refuses
      intercept[Exception] {
        spark.sql("CALL gm_tag.system.create_tag('t', 'train-q3', 0)")
      }

      // ref-scoped retention: a keepLast=1 vacuum collapses history
      // but the TAGGED version stays readable (manifest retained,
      // chain fenced, files alive)
      ManifestedTable.vacuum(spark, dir, keepLast = 1, minAgeMillis = 0L)
      assert(spark.sql(
        "SELECT count(*) AS n FROM gm_tag.t VERSION AS OF 'train-q3'")
        .head.getLong(0) == 100,
        "vacuum reclaimed a tagged version")
      assert(spark.sql(
        "SELECT sum(v) AS s FROM gm_tag.t VERSION AS OF 'train-q3'")
        .head.getLong(0) == (0 until 100).map(_ * 2L).sum)
      // untagged intermediate history is gone (keepLast=1 collapsed it)
      assert(ManifestedTable.versions(spark, dir).size <= 3)

      // drop_tag releases: the next vacuum reclaims the version
      spark.sql("CALL gm_tag.system.drop_tag('t', 'train-q3')")
      ManifestedTable.vacuum(spark, dir, keepLast = 1, minAgeMillis = 0L)
      intercept[Exception] {
        spark.sql(
          "SELECT count(*) FROM gm_tag.t VERSION AS OF 'train-q3'")
          .collect()
      }
      assert(!ManifestedTable.versions(spark, dir).contains(v2),
        "a dropped tag's version survived vacuum")
      // branch machinery untouched: a branch stages and promotes
      ManifestedTable.writeBranch(Seq((5000L, 1L)).toDF("k", "v"), dir,
        "wap")
      ManifestedTable.promoteBranch(spark, dir, "wap")
      assert(spark.sql("SELECT count(*) AS n FROM gm_tag.t")
        .head.getLong(0) == 12)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_tag.t")
    }
  }

  test("graft-manifest bloom tokens: point probes on a non-clustered column skip files") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_blm").toString
    val conf = spark.sessionState.newHadoopConf()
    // the property FIRST (v1, no files), so every later stage reads it
    ManifestedTable.setTableProperties(conf, dir,
      Map("graft.bloom-columns" -> "h,u"))
    val src = spark.range(800).select(col("id").as("k"),
      md5(col("id").cast("string")).as("h"),
      (col("id") * 2654435761L % 1000003L).as("u"),
      (col("id") % 50).as("v"))
    // clustered on k: every file spans the FULL h/u range — intervals
    // cannot prune these probes; the bloom is the only handle
    ManifestedTable.write(src.repartitionByRange(8, col("k")), dir,
      overwrite = false)
    val files = ManifestedTable.currentFiles(spark, dir).size
    assert(files >= 8)
    // the manifest carries bloom tokens
    val mdir = new java.io.File(dir, "_manifests")
    val manifest = mdir.listFiles()
      .filter(_.getName.startsWith("manifest-")).maxBy(_.getName)
    val body = scala.io.Source.fromFile(manifest).mkString
    assert(body.contains("h=b:") && body.contains("u=b:"),
      "no bloom tokens in the manifest")

    val face = () => spark.read.format("graft-manifest").load(dir)
    // a PRESENT string probe finds its row and opens a strict minority
    val probeH = src.filter(col("k") === 123L).select("h").head.getString(0)
    val hit = face().filter(col("h") === probeH)
    assert(hit.count() == 1, "bloom pruning lost a present value")
    assert(hit.rdd.getNumPartitions * 2 < files,
      s"h-probe planned ${hit.rdd.getNumPartitions} of $files")
    // an ABSENT probe refutes (almost) everything
    val miss = face().filter(col("h") === "no-such-hash")
    assert(miss.count() == 0)
    assert(miss.rdd.getNumPartitions * 2 < files)
    // long-domain probes prune too (u is scattered, intervals useless)
    val probeU = src.filter(col("k") === 77L).select("u").head.getLong(0)
    val hitU = face().filter(col("u") === probeU)
    assert(hitU.count() >= 1)
    assert(hitU.rdd.getNumPartitions * 2 < files,
      s"u-probe planned ${hitU.rdd.getNumPartitions} of $files")
    // IN probes: the union of per-value candidates
    val inProbe = face().filter(col("h").isin(probeH, "nope"))
    assert(inProbe.count() == 1)
    assert(inProbe.rdd.getNumPartitions * 2 < files)
    // the untracked column (no token) stays conservatively unpruned
    // AND correct
    assert(face().filter(col("v") === 7L).count() ==
      src.filter(col("v") === 7L).count())
    // aggregate pushdown still serves from the manifest (bloom tokens
    // are orthogonal to the fold)
    val agg = face().agg(count(lit(1)).as("n"), max(col("k")).as("hi"))
    assert(agg.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        => b.scan.description()
    }.exists(_.contains("aggregate pushdown")))
    assert(agg.head.getLong(0) == 800L && agg.head.getLong(1) == 799L)
  }

  test("graft-manifest row lineage: stable row ids through compaction, CoW/MoR DML, merge, restore") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_rid").toString
    val conf = spark.sessionState.newHadoopConf()
    ManifestedTable.setTableProperties(conf, dir,
      Map("graft.row-lineage" -> "true"))
    val src = spark.range(300).select(col("id").as("k"),
      (col("id") * 7L).as("v"))
    ManifestedTable.write(src.repartitionByRange(4, col("k")), dir,
      overwrite = false)
    def ids(): Map[Long, Long] = ManifestedTable
      .readWithRowIds(spark, dir)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids0 = ids()
    assert(ids0.size == 300 && ids0.values.toSet.size == 300,
      "row ids must exist and be unique")

    // compaction rewrites every file — ids must NOT move
    ManifestedTable.compact(spark, dir, 1L << 30)
    assert(ids() == ids0, "compaction re-minted row ids")

    // copy-on-write DELETE: survivors keep their ids
    ManifestedTable.deleteWhere(spark, dir, col("k") % 10 === 3L)
    val ids1 = ids()
    assert(ids1 == ids0.filter { case (k, _) => k % 10 != 3 },
      "a CoW delete re-minted surviving rows' ids")

    // merge-on-read DELETE: bytes don't move, ids can't either
    ManifestedTable.deleteWhere(spark, dir, col("k") === 8L,
      dvMaxFraction = 1.0)
    assert(ids() == ids1 - 8L, "a MoR delete disturbed row ids")

    // merge upsert: survivors keep ids; upserted/new rows mint FRESH
    // ids above every prior base (version-scoped bases are monotone)
    val delta = Seq((4L, 999L), (5000L, 1L)).toDF("k", "v")
    ManifestedTable.merge(spark, dir, delta, Seq("k"))
    val ids2 = ids()
    // ids1 minus the MoR-deleted k=8, minus upserted k=4's old image,
    // plus k=4's new image and the inserted k=5000
    assert(ids2.size == ids1.size - 1 - 1 + 2)
    val untouched = (ids1 - 8L - 4L)
    assert(untouched.forall { case (k, i) => ids2(k) == i },
      "merge re-minted untouched rows' ids")
    assert(ids2(4L) > ids1.values.max && ids2(5000L) > ids1.values.max,
      "minted ids must be fresh (above every prior base)")
    assert(ids2.values.toSet.size == ids2.size, "id collision")

    // restore: republished lines carry their rb verbatim — the
    // restored snapshot's ids ARE the old ids
    val vNow = ManifestedTable.currentVersion(spark, dir)
    ManifestedTable.write(Seq((9999L, 0L)).toDF("k", "v"), dir)
    ManifestedTable.restore(spark, dir, vNow)
    assert(ids() == ids2, "restore did not preserve row ids")

    // plain reads never see the provenance column
    assert(!ManifestedTable.read(spark, dir).columns
      .contains("__graft_row_id"))
  }

  test("graft-manifest row lineage: SQL face _row_id + engine DML preserves ids per row") {
    val wh = tempDir("graft_rid_sql").toString
    spark.conf.set("spark.sql.catalog.gm_rlin",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_rlin.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_rlin.t
        TBLPROPERTIES ('graft.row-lineage' = 'true') AS
        SELECT id AS k, id * 3 AS v FROM range(120)""")
      def ids(tbl: String): Map[Long, Long] = spark.sql(
        s"SELECT k, _row_id FROM gm_rlin.$tbl").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ids0 = ids("t")
      assert(ids0.size == 120 && ids0.values.toSet.size == 120)

      // engine-planned UPDATE: _row_id is a required metadata column,
      // carried PER ROW through the rewrite — updated rows KEEP their
      // identity (stronger than the object API's re-mint contract)
      spark.sql("UPDATE gm_rlin.t SET v = v + 1 WHERE k % 5 = 2")
      assert(ids("t") == ids0,
        "engine UPDATE re-minted row ids")
      assert(spark.sql(
        "SELECT sum(v) AS s FROM gm_rlin.t WHERE k % 5 = 2")
        .head.getLong(0) ==
        (0 until 120).filter(_ % 5 == 2).map(_ * 3L + 1).sum)

      // engine MERGE: matched rows keep ids, inserts mint fresh
      spark.sql("""MERGE INTO gm_rlin.t t
        USING (SELECT 7 AS k, 0 AS v UNION ALL SELECT 900, 1) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
      val ids1 = ids("t")
      assert(ids1(7L) == ids0(7L), "engine MERGE re-minted a matched id")
      assert(ids1(900L) > ids0.values.max, "inserted id not fresh")
      assert((ids0 - 7L).forall { case (k, i) => ids1(k) == i })

      // the NESTED table leg rides the catalyst reader/writer pair
      spark.sql("""CREATE TABLE gm_rlin.n
        TBLPROPERTIES ('graft.row-lineage' = 'true') AS
        SELECT id AS k, named_struct('a', id * 2, 'b', 'x') AS s
        FROM range(60)""")
      val nids0 = ids("n")
      assert(nids0.size == 60 && nids0.values.toSet.size == 60)
      spark.sql("""UPDATE gm_rlin.n
        SET s = named_struct('a', s.a + 1, 'b', s.b) WHERE k % 4 = 1""")
      assert(ids("n") == nids0,
        "engine UPDATE on a nested table re-minted row ids")
      assert(spark.sql(
        "SELECT sum(s.a) AS t FROM gm_rlin.n WHERE k % 4 = 1")
        .head.getLong(0) ==
        (0 until 60).filter(_ % 4 == 1).map(_ * 2L + 1).sum)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_rlin.t")
      spark.sql("DROP TABLE IF EXISTS gm_rlin.n")
    }
  }

  test("graft-manifest deleteWhere: pruned find-touched + metadata-only covered drops") {
    import graft.sources.ManifestedTable
    val wh = tempDir("graft_mdel").toString
    spark.conf.set("spark.sql.catalog.gm_mdel",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_mdel.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_mdel.t (k BIGINT, d DATE, v BIGINT)
        PARTITIONED BY (months(d))""")
      // 1200 rows across Jan..Apr 2026 → one file per month tuple
      spark.sql("""INSERT INTO gm_mdel.t
        SELECT id, date_add(DATE'2026-01-01', CAST(id % 120 AS INT)),
               id * 3 FROM range(1200)""")
      val dir = s"$wh/t"
      def rels: Set[String] = spark.sql(
        "SELECT file FROM gm_mdel.t.files").collect()
        .map(_.getString(0)).toSet
      val before = rels
      assert(before.size == 4, s"expected 4 month files, got $before")

      // MONTH-ALIGNED retention delete: every pre-cutoff file is
      // tuple-COVERED (proof: months(d) strictly below months(cutoff)),
      // every post-cutoff file refuted — the find-touched scan opens
      // NOTHING (zero candidates) and the commit is metadata-only
      val cutoff = col("d") < lit(java.sql.Date.valueOf("2026-03-01"))
      val (cov, cand, ref) = ManifestedTable.deleteSplit(spark, dir, cutoff)
      assert(cand.isEmpty,
        s"aligned retention delete should scan nothing, candidates=$cand")
      assert(cov.size == 2 && ref.size == 2,
        s"expected 2 covered + 2 refuted, got cov=$cov ref=$ref")
      ManifestedTable.deleteWhere(spark, dir, cutoff)
      val after = rels
      assert(after == before -- cov,
        "metadata delete staged new files or kept covered ones")
      assert(spark.table("gm_mdel.t").count() ==
        (0 until 1200).count(_ % 120 >= 59)) // Jan+Feb 2026 = 59 days

      // UNALIGNED cutoff: the boundary month is the only candidate
      // (scanned + rewritten); later months stay refuted by reference
      val mid = col("d") < lit(java.sql.Date.valueOf("2026-03-15"))
      val (cov2, cand2, ref2) = ManifestedTable.deleteSplit(spark, dir, mid)
      assert(cov2.isEmpty && cand2.size == 1 && ref2.size == 1,
        s"unaligned: cov=$cov2 cand=$cand2 ref=$ref2")
      val keepApr = after -- cand2.toSet
      ManifestedTable.deleteWhere(spark, dir, mid)
      assert(keepApr.subsetOf(rels),
        "refuted file did not ride by reference")
      assert(spark.table("gm_mdel.t").count() ==
        (0 until 1200).count(i => i % 120 >= 73)) // >= 2026-03-15

      // three-valued edge: a NULL-date file is covered by IS NULL
      // (NULL source ⟺ NULL tuple) and refuted by any range
      spark.sql("INSERT INTO gm_mdel.t VALUES (9001, NULL, 1)")
      val (covN, candN, _) = ManifestedTable.deleteSplit(spark, dir,
        col("d").isNull)
      assert(covN.size == 1 && candN.isEmpty,
        s"IS NULL should cover exactly the null tuple: $covN / $candN")
      ManifestedTable.deleteWhere(spark, dir, col("d").isNull)
      assert(spark.table("gm_mdel.t").filter(col("d").isNull).isEmpty)

      // an UNPARTITIONED source column still stats-refutes: a probe
      // outside every interval scans nothing and commits nothing
      val vBefore = spark.sql(
        "SELECT max(version) FROM gm_mdel.t.history").head.getLong(0)
      val (_, candS, refS) = ManifestedTable.deleteSplit(spark, dir,
        col("v") > lit(10_000_000L))
      assert(candS.isEmpty && refS.nonEmpty,
        s"stats refutation missed: cand=$candS")
      ManifestedTable.deleteWhere(spark, dir, col("v") > lit(10_000_000L))
      assert(spark.sql("SELECT max(version) FROM gm_mdel.t.history")
        .head.getLong(0) == vBefore,
        "a nothing-matches delete must not commit")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_mdel.t")
    }
  }

  test("graft-manifest views: stored creation context binds later sessions; temp-view refs refuse at create") {
    val wh = tempDir("graft_vctx").toString
    spark.conf.set("spark.sql.catalog.gm_vctx",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_vctx.root", wh)
    val cm = spark.sessionState.catalogManager
    val prevCat = cm.currentCatalog.name()
    try {
      spark.sql("CREATE TABLE gm_vctx.t AS SELECT id AS k FROM range(50)")
      // created under `USE gm_vctx` with an UNQUALIFIED reference —
      // the stored context (currentCatalog=gm_vctx) is what makes the
      // text meaningful outside this session state
      spark.sql("USE gm_vctx")
      spark.sql("""CALL gm_vctx.system.create_view('vctx',
        'SELECT count(*) AS n FROM t WHERE k < 10', false)""")
      // ...read back under a DIFFERENT current catalog: without the
      // stored-context qualification the bare `t` would re-bind to the
      // session catalog (and fail — no such table there)
      spark.sql(s"USE $prevCat")
      assert(spark.sql("SELECT n FROM gm_vctx.vctx").head.getLong(0) == 10L)

      // CTE names inside the text stay CTE-bound (never re-qualified)
      spark.sql("""CALL gm_vctx.system.create_view('vcte',
        'WITH t AS (SELECT 1 AS k) SELECT count(*) AS n FROM t', false)""")
      assert(spark.sql("SELECT n FROM gm_vctx.vcte").head.getLong(0) == 1L)

      // a TEMP-VIEW reference refuses at create (it would dangle in
      // any later session) — and refuses even though it analyzes fine
      spark.range(3).toDF("k").createOrReplaceTempView("tmp_vctx")
      val e = intercept[Exception] {
        spark.sql("""CALL gm_vctx.system.create_view('vtmp',
          'SELECT * FROM tmp_vctx', false)""")
      }
      assert(e.getMessage.contains("temporary view"),
        s"wrong refusal: ${e.getMessage}")
    } finally {
      spark.sql(s"USE $prevCat")
      spark.catalog.dropTempView("tmp_vctx")
      spark.sql("DROP TABLE IF EXISTS gm_vctx.t")
    }
  }

  test("graft-manifest view DDL: standard CREATE/DROP VIEW text via the parser extension") {
    val wh = tempDir("graft_vddl").toString
    spark.conf.set("spark.sql.catalog.gm_vddl",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_vddl.root", wh)
    try {
      spark.sql(
        "CREATE TABLE gm_vddl.t AS SELECT id AS k, id % 5 AS c FROM range(100)")

      // plain DDL — no CALL face needed (the engine alone would throw
      // UNSUPPORTED_FEATURE.CATALOG_OPERATION on any V2 catalog)
      spark.sql("""CREATE VIEW gm_vddl.v AS
        SELECT c, count(*) AS n FROM gm_vddl.t GROUP BY c""")
      assert(spark.sql("SELECT n FROM gm_vddl.v WHERE c = 2")
        .head.getLong(0) == 20L)

      // OR REPLACE swaps; IF NOT EXISTS is a no-op on a taken name;
      // plain CREATE on a taken name refuses
      spark.sql("""CREATE OR REPLACE VIEW gm_vddl.v AS
        SELECT c, sum(k) AS n FROM gm_vddl.t GROUP BY c""")
      val replaced = spark.sql("SELECT n FROM gm_vddl.v WHERE c = 2")
        .head.getLong(0)
      assert(replaced == (0 until 100).filter(_ % 5 == 2).map(_.toLong).sum)
      spark.sql(
        "CREATE VIEW IF NOT EXISTS gm_vddl.v AS SELECT 1 AS one")
      assert(spark.sql("SELECT n FROM gm_vddl.v WHERE c = 2")
        .head.getLong(0) == replaced, "IF NOT EXISTS overwrote")
      intercept[Exception] {
        spark.sql("CREATE VIEW gm_vddl.v AS SELECT 1 AS one")
      }

      // the procedure-face guards ride the DDL face too (shared
      // implementation): temp-view references refuse at create
      spark.range(3).toDF("k").createOrReplaceTempView("tmp_vddl")
      val e = intercept[Exception] {
        spark.sql("CREATE VIEW gm_vddl.vt AS SELECT * FROM tmp_vddl")
      }
      assert(e.getMessage.contains("temporary view"), e.getMessage)

      // both faces address the SAME storage: DDL-created views list
      // through the procedure, and CALL-created views drop through DDL
      assert(spark.sql("CALL gm_vddl.system.views()").collect()
        .map(_.getString(0)).toSeq == Seq("v"))
      spark.sql(
        "CALL gm_vddl.system.create_view('v2', 'SELECT 1 AS one', false)")
      spark.sql("DROP VIEW gm_vddl.v2")
      spark.sql("DROP VIEW gm_vddl.v")
      spark.sql("DROP VIEW IF EXISTS gm_vddl.v") // no-op, no throw
      intercept[Exception] { spark.sql("DROP VIEW gm_vddl.v") }

      // session-scope view DDL stays with the session catalog
      spark.sql("CREATE TEMPORARY VIEW vddl_tmp2 AS SELECT 42 AS x")
      assert(spark.sql("SELECT x FROM vddl_tmp2").head.getInt(0) == 42)
      spark.sql("DROP VIEW vddl_tmp2")
    } finally {
      spark.catalog.dropTempView("tmp_vddl")
      spark.sql("DROP TABLE IF EXISTS gm_vddl.t")
    }
  }

  test("graft-manifest constraints: RENAME/DROP of a referenced column refuses; ADD pins the validated head") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val wh = tempDir("graft_cns").toString
    spark.conf.set("spark.sql.catalog.gm_cns",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_cns.root", wh)
    try {
      spark.sql("""CREATE TABLE gm_cns.t (k BIGINT, qty BIGINT,
        CONSTRAINT pos_qty CHECK (qty >= 0))""")
      spark.sql("INSERT INTO gm_cns.t VALUES (1, 5), (2, 7)")

      // a RENAME (or DROP) of a constraint-referenced column would
      // break every LATER write's analysis — refuse at the ALTER,
      // where the user can DROP CONSTRAINT first (the Delta rule)
      val r = intercept[Exception] {
        spark.sql("ALTER TABLE gm_cns.t RENAME COLUMN qty TO amount")
      }
      assert(r.getMessage.contains("pos_qty"), r.getMessage)
      val d = intercept[Exception] {
        spark.sql("ALTER TABLE gm_cns.t DROP COLUMN qty")
      }
      assert(d.getMessage.contains("pos_qty"), d.getMessage)
      // unreferenced columns still rename freely
      spark.sql("ALTER TABLE gm_cns.t RENAME COLUMN k TO key")
      // after DROP CONSTRAINT the rename goes through
      spark.sql("ALTER TABLE gm_cns.t DROP CONSTRAINT pos_qty")
      spark.sql("ALTER TABLE gm_cns.t RENAME COLUMN qty TO amount")

      // ADD CONSTRAINT pins the head its validation scan proved: a
      // violating INSERT landing between the scan and the property
      // commit aborts the ADD loudly (never a constraint blessed
      // VALID over rows it did not check)
      val dir = s"$wh/t"
      ManifestedTable.beforePublish = () =>
        ManifestedTable.write(Seq((99L, -5L)).toDF("key", "amount"),
          dir, overwrite = false)
      val race = intercept[Exception] {
        spark.sql(
          "ALTER TABLE gm_cns.t ADD CONSTRAINT pos2 CHECK (amount >= 0)")
      }
      assert(race.getMessage.contains("concurrent") ||
        Option(race.getCause).exists(_.getMessage.contains("concurrent")),
        s"expected a concurrent-write abort, got: ${race.getMessage}")
      // the constraint did NOT land: a violating INSERT still passes
      spark.sql("INSERT INTO gm_cns.t VALUES (100, -1)")
      spark.sql("DELETE FROM gm_cns.t WHERE key = 100")
      // quiet re-run validates the new world and refuses on content
      // (the interleaved row violates) — still no silent VALID
      val bad = intercept[Exception] {
        spark.sql(
          "ALTER TABLE gm_cns.t ADD CONSTRAINT pos2 CHECK (amount >= 0)")
      }
      assert(bad.getMessage.contains("violate"), bad.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_cns.t")
    }
  }

  test("graft-manifest CDF: startingVersionInclusive is the Delta-compatible alias") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_cdfi").toString
    ManifestedTable.write(Seq(1L).toDF("k"), dir) // v1
    ManifestedTable.write(Seq(2L).toDF("k"), dir, overwrite = false) // v2
    ManifestedTable.write(Seq(3L).toDF("k"), dir, overwrite = false) // v3
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").as[Long].collect().sorted.toSeq
    val exclusive = spark.read.format("graft-manifest")
      .option("readChangeFeed", true).option("startingVersion", 1)
      .load(dir)
    val inclusive = spark.read.format("graft-manifest")
      .option("readChangeFeed", true)
      .option("startingVersionInclusive", 2).load(dir)
    assert(ks(exclusive) == Seq(2L, 3L) && ks(inclusive) == Seq(2L, 3L),
      "inclusive alias diverged from exclusive-1")
    intercept[Exception] {
      spark.read.format("graft-manifest").option("readChangeFeed", true)
        .option("startingVersion", 1)
        .option("startingVersionInclusive", 2).load(dir).collect()
    }
  }

  test("graft-manifest vectorized reads serve EXISTS defaults (no row-path downgrade)") {
    import graft.sources.ManifestedTable
    import spark.implicits._
    val wh = tempDir("graft_vdf").toString
    spark.conf.set("spark.sql.catalog.gm_vdf",
      "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.gm_vdf.root", wh)
    try {
      spark.sql(
        "CREATE TABLE gm_vdf.t (k BIGINT, v STRING DEFAULT 'seed')")
      spark.sql("INSERT INTO gm_vdf.t (k) VALUES (1), (2)")
      // a file physically MISSING the column (out-of-band object-API
      // stage of a narrower frame) — the case the exists default was
      // pinned for
      ManifestedTable.write(Seq(3L).toDF("k"), s"$wh/t",
        overwrite = false)
      val face = spark.table("gm_vdf.t")
      val plan = face.queryExecution.executedPlan.toString
      // the table was never ALTERed: the scan must stay on the
      // vectorized path (a CREATE-time default used to disqualify it
      // permanently — performance-only regression)
      assert(plan.contains("ColumnarToRow"),
        s"default-bearing scan did not vectorize:\n${plan.take(600)}")
      assert(face.orderBy("k").select("v").as[String].collect().toSeq ==
        Seq("seed", "seed", "seed"),
        "vectorized path lost the EXISTS default for an absent column")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm_vdf.t")
    }
  }
}
