package graft

import org.apache.spark.sql.functions._

/** Small-file compaction and atomic commits on the manifested table
  * (the layout tier's repair operator beside T23 z-order): a fragmented
  * table must collapse to its target file counts WITHOUT changing a
  * row or the pruned-readback plan — and an already-compact table must
  * cost nothing to re-compact (the 100-TB loop length is the fragmented
  * tail, not the table).
  */
class CompactionSpec extends SparkTestBase {

  test("manifested table: multi-file commits flip all-or-nothing; abort leaves the old snapshot live") {
    // no mid-swap window: readers resolve the file list through ONE
    // rename-swapped manifest, never by listing — so a multi-file
    // overwrite, compaction, or aborted job can never show a mixed table
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_mani").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val v1 = ev.filter(col("event_id") < 300)
    val v2 = ev.filter(col("event_id") >= 300 && col("event_id") < 500)

    // overwrite publishes, append unions — each via one manifest rename
    ManifestedTable.write(v1.repartition(6), dir, overwrite = true)
    assert(ManifestedTable.read(spark, dir).count() == v1.count())
    ManifestedTable.write(v2.repartition(3), dir, overwrite = false)
    assert(ManifestedTable.read(spark, dir).count() == v1.count() + v2.count())

    // all-or-nothing evidence: a rogue parquet file landed in the table
    // dir (an aborted/foreign writer) is INVISIBLE — reads resolve only
    // through the manifest
    val rogue = new java.io.File(dir, "data-rogue")
    v1.limit(10).coalesce(1).write.parquet(rogue.toString)
    assert(ManifestedTable.read(spark, dir).count() == v1.count() + v2.count(),
      "a file outside the manifest leaked into the snapshot")

    // abort leg: a job that dies mid-stage writes NO manifest — the old
    // snapshot stays live and byte-identical
    val vBefore = ManifestedTable.currentVersion(spark, dir)
    val before = ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq
    intercept[Exception] {
      ManifestedTable.write(
        v1.withColumn("event_id",
          expr("CASE WHEN event_id = 100 THEN " +
            "CAST(assert_true(false, 'boom') AS BIGINT) ELSE event_id END")),
        dir, overwrite = true)
    }
    assert(ManifestedTable.currentVersion(spark, dir) == vBefore,
      "an aborted job advanced the snapshot version")
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq == before,
      "an aborted job changed the visible table")

    // atomic compaction: one rename swaps the whole rewrite; rows exact
    val filesBefore = ManifestedTable.currentFiles(spark, dir).size
    assert(filesBefore >= 9)
    ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
    val filesAfter = ManifestedTable.currentFiles(spark, dir).size
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq == before)

    // retention guard first: everything here is seconds old, so a
    // DEFAULT vacuum (7-day age floor) must reclaim NOTHING — the
    // guard that keeps out-of-band vacuum from eating a concurrent
    // writer's staged-but-uncommitted files
    assert(ManifestedTable.vacuum(spark, dir) === 0,
      "default-retention vacuum deleted young files")
    // vacuum reclaims superseded + orphan + rogue-stage files; the
    // current snapshot still reads exactly (minAge 0: single-writer
    // test, nothing can be mid-stage)
    val deleted = ManifestedTable.vacuum(spark, dir, minAgeMillis = 0L)
    assert(deleted > 0)
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq == before)
    // nothing unreferenced survives: every remaining data file is in
    // the live manifest
    val live = ManifestedTable.currentFiles(spark, dir).toSet
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val leftovers = walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => new java.io.File(dir).toPath.relativize(f.toPath).toString)
      .filterNot(live)
    assert(leftovers.isEmpty, s"vacuum left unreferenced data: $leftovers")
  }

  test("manifested table: time travel + file-granular CDF reads only changed files") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_cdf_spec").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val a = ev.filter(col("event_id") < 300)
    val b = ev.filter(col("event_id") >= 300 && col("event_id") < 500)

    val v1 = ManifestedTable.write(a.repartition(4), dir, overwrite = true)
    val v2 = ManifestedTable.write(b.repartition(2), dir, overwrite = false)

    // time travel: v1 still reads exactly after the append; versions list
    assert(ManifestedTable.versions(spark, dir) == Seq(v1, v2))
    assert(ManifestedTable.readAt(spark, dir, v1).count() == a.count())
    assert(ManifestedTable.readAt(spark, dir, v2).count() == a.count() + b.count())

    // append CDF: added = exactly the appended rows, removed empty —
    // and the added side's scan plans ONLY the appended files (the
    // manifest-diff pruning changesBetween's scaladoc claims)
    val (appAdd, appRem) = ManifestedTable.changesBetween(spark, dir, v1, v2)
    assert(appRem.isEmpty, "append produced removed rows")
    assert(appAdd.orderBy("event_id").collect().toSeq ==
      b.orderBy("event_id").collect().toSeq)
    val (newFiles, goneFiles) = ManifestedTable.changedFiles(spark, dir, v1, v2)
    assert(goneFiles.isEmpty && newFiles.size == 2)
    val opened = appAdd.inputFiles.toSeq
    assert(opened.nonEmpty && opened.forall(p => newFiles.exists(p.endsWith)),
      s"CDF opened unchanged files: $opened vs $newFiles")

    // upsert CDF: deletes + both update images + inserts, bag-exact
    val v3df = ev.filter(col("event_id") < 450 && col("event_id") % 7 =!= 0)
      .withColumn("value",
        when(col("event_id") % 5 === 0, col("value") + 1).otherwise(col("value")))
    val v3 = ManifestedTable.write(v3df.repartition(5), dir, overwrite = true)
    val (upAdd, upRem) = ManifestedTable.changesBetween(spark, dir, v2, v3)
    val v2full = a.unionAll(b)
    assert(upAdd.orderBy("event_id", "value").collect().toSeq ==
      v3df.exceptAll(v2full).orderBy("event_id", "value").collect().toSeq)
    assert(upRem.orderBy("event_id", "value").collect().toSeq ==
      v2full.exceptAll(v3df).orderBy("event_id", "value").collect().toSeq)

    // pure rewrite (compaction): every file changes, no row does — the
    // CDF degrades to reading both sides and returns the empty diff
    val v4 = ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(v4 > v3)
    val (cAdd, cRem) = ManifestedTable.changesBetween(spark, dir, v3, v4)
    assert(cAdd.isEmpty && cRem.isEmpty, "compaction leaked a row diff")

    // retention: keepLast=2 keeps time travel + CDF alive across
    // exactly the retained window and reclaims everything older
    ManifestedTable.vacuum(spark, dir, keepLast = 2, minAgeMillis = 0L)
    assert(ManifestedTable.versions(spark, dir) == Seq(v3, v4))
    assert(ManifestedTable.readAt(spark, dir, v3).count() == v3df.count())
    val (rAdd, rRem) = ManifestedTable.changesBetween(spark, dir, v3, v4)
    assert(rAdd.isEmpty && rRem.isEmpty)
    intercept[IllegalArgumentException] {
      ManifestedTable.readAt(spark, dir, v2)
    }

    // full vacuum collapses history: past versions fail loudly, not wrongly
    ManifestedTable.vacuum(spark, dir, minAgeMillis = 0L)
    assert(ManifestedTable.versions(spark, dir) == Seq(v4))
    intercept[IllegalArgumentException] {
      ManifestedTable.changesBetween(spark, dir, v1, v4)
    }
    intercept[IllegalArgumentException] {
      ManifestedTable.readAt(spark, dir, v3)
    }
  }

  test("manifested table: schema evolution — widened appends unify, CDF crosses the seam") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_evo").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id")
    val narrow = ev.filter(col("event_id") < 300)
    val wide = ev.filter(col("event_id") >= 300 && col("event_id") < 500)
      .withColumn("score", col("user_id") * 2)
    val v1 = ManifestedTable.write(narrow.repartition(3), dir)
    val v2 = ManifestedTable.write(wide.repartition(2), dir,
      overwrite = false)

    // mergeSchema read: superset schema, absent cells NULL
    val unified = ManifestedTable.read(spark, dir, mergeSchema = true)
    assert(unified.columns.toSet == Set("event_id", "user_id", "score"))
    assert(unified.count() == narrow.count() + wide.count())
    assert(unified.filter(col("score").isNull).count() == narrow.count(),
      "pre-seam rows did not surface the new column as NULL")

    // append CDF over the seam: added = exactly the widened rows
    val (a12, r12) = ManifestedTable.changesBetween(spark, dir, v1, v2)
    assert(r12.isEmpty)
    assert(a12.count() == wide.count() &&
      a12.columns.toSet == Set("event_id", "user_id", "score"))

    // the alignment case: v3 overwrites with the UNIFIED image, so the
    // v1→v3 diff has an all-narrow removed side vs an all-wide added
    // side — pre-seam rows must CANCEL through their NULL-extended
    // image (else every unchanged old row would spuriously appear on
    // both sides), leaving exactly the widened rows as adds
    val v3 = ManifestedTable.write(unified, dir, overwrite = true)
    val (a13, r13) = ManifestedTable.changesBetween(spark, dir, v1, v3)
    assert(r13.isEmpty,
      "unchanged pre-seam rows failed to cancel across the schema seam")
    assert(a13.filter(col("score").isNotNull).count() == wide.count())
    assert(a13.count() == wide.count())
  }

  test("manifested table: describeLayout flags small-file creep; compact clears it") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_health").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    // simulate streaming small-file creep: five tiny appends
    (0 until 5).foreach { i =>
      ManifestedTable.appendBatch(
        ev.filter(col("event_id") % 5 === i).repartition(3), dir, i.toLong)
    }
    val before = ManifestedTable.describeLayout(spark, dir,
      smallFileBytes = 1L << 20)
    assert(before.count() >= 10, "creep fixture produced too few files")
    assert(before.filter(col("small")).count() == before.count(),
      "every tiny append file should flag small")
    // the maintenance loop's response; the report must come back clean
    ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
    val after = ManifestedTable.describeLayout(spark, dir,
      smallFileBytes = 1L << 20)
    assert(after.count() < before.count())
    // rows untouched by the whole loop, and the txn marker survived
    assert(ManifestedTable.read(spark, dir).count() == ev.count())
    assert(ManifestedTable.lastBatchId(spark, dir).contains(4L))
  }

  test("manifested table: clustered compaction turns file stats selective") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_clus").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    // pathological layout: hash-partitioned on an unrelated key, so
    // EVERY file spans the whole event_id range — stats prune nothing
    ManifestedTable.write(ev.repartition(8, col("user_id")), dir)
    def overlaps(loQ: Long, hiQ: Long): (Long, Long) = {
      val st = ManifestedTable.read(spark, dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
        .collect()
      (st.count(r => r.getLong(2) >= loQ && r.getLong(1) <= hiQ).toLong,
        st.length.toLong)
    }
    val (hit0, tot0) = overlaps(0L, 99L)
    assert(tot0 >= 4 && hit0 == tot0,
      s"fixture not pathological: $hit0 of $tot0 files overlap the band")
    val before = ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq
    // OPTIMIZE: rewrite clustered on event_id at ~8-file granularity
    val total = ManifestedTable.currentFiles(spark, dir)
      .map(f => new java.io.File(dir, f).length()).sum
    ManifestedTable.compactClustered(spark, dir,
      math.max(1L, total / 8), col("event_id"))
    val (hit1, tot1) = overlaps(0L, 99L)
    assert(tot1 >= 4, s"clustered rewrite produced only $tot1 files")
    assert(hit1 * 2 < tot1,
      s"clustering did not make stats selective: $hit1 of $tot1 overlap")
    // rows exact through the rewrite; publication stayed atomic
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq == before)
  }

  test("manifested table: copy-on-write MERGE/DELETE rewrite only touched files") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_dml").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    // key-clustered 8-file layout, so a key-local delta touches few files
    ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), dir)
    val v1Files = ManifestedTable.currentFiles(spark, dir)
    assert(v1Files.size == 8)
    def mtimes(rel: Seq[String]): Map[String, Long] =
      rel.map(f => f -> new java.io.File(dir, f).lastModified()).toMap
    val t1 = mtimes(v1Files)

    // merge: updates confined to [0,100) + inserts keyed past the range
    val srcUpd = ev.filter(col("event_id") < 100)
      .withColumn("value", col("value") + 1000d)
    val srcIns = ev.filter(col("event_id") < 50)
      .withColumn("event_id", col("event_id") + 100000L)
    val v2 = ManifestedTable.merge(spark, dir,
      srcUpd.unionByName(srcIns), Seq("event_id"))

    // file-level claim: the removed set is exactly the files whose key
    // range intersects [0,100) — every other v1 file rides by REFERENCE
    // (same relative path, same bytes: mtime unchanged)
    val (addedF, removedF) =
      ManifestedTable.changedFiles(spark, dir,
        ManifestedTable.versions(spark, dir).head, v2)
    val lowKeyFiles = v1Files.filter { f =>
      spark.read.parquet(new java.io.File(dir, f).toString)
        .filter(col("event_id") < 100).limit(1).count() > 0
    }
    assert(removedF.toSet == lowKeyFiles.toSet,
      s"merge rewrote beyond the touched files: $removedF vs $lowKeyFiles")
    assert(removedF.size < v1Files.size)
    val carried = v1Files.filterNot(removedF.toSet)
    assert(ManifestedTable.currentFiles(spark, dir).toSet
      .intersect(carried.toSet) == carried.toSet)
    assert(carried.forall(f => mtimes(Seq(f))(f) == t1(f)),
      "an untouched file was rewritten in place")
    assert(addedF.nonEmpty)

    // row-level claim: the table equals the relational upsert image
    val expect = srcUpd.unionByName(srcIns).unionByName(
      ev.filter(col("event_id") >= 100))
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id").collect().toSeq ==
      expect.orderBy("event_id").collect().toSeq)

    // cardinality rule: two source rows per key throw, table unchanged
    val vBefore = ManifestedTable.currentVersion(spark, dir)
    intercept[IllegalArgumentException] {
      ManifestedTable.merge(spark, dir,
        srcUpd.unionByName(srcUpd), Seq("event_id"))
    }
    assert(ManifestedTable.currentVersion(spark, dir) == vBefore)

    // ...but NULL-keyed source rows are EXEMPT: they can never match a
    // base row (SQL equality), so each takes the insert path — two of
    // them is not a cardinality violation, just two inserts
    val nullKeyed = srcUpd.limit(2).withColumn("event_id",
      lit(null).cast("bigint"))
    val preNullMerge = ManifestedTable.read(spark, dir).count()
    ManifestedTable.merge(spark, dir, nullKeyed, Seq("event_id"))
    assert(ManifestedTable.read(spark, dir).count() == preNullMerge + 2,
      "NULL-keyed source rows failed to insert through merge")
    assert(ManifestedTable.read(spark, dir)
      .filter(col("event_id").isNull).count() == 2)
    // clean the NULL rows back out so the later legs' fixtures hold
    ManifestedTable.deleteWhere(spark, dir, col("event_id").isNull)
    assert(ManifestedTable.read(spark, dir).count() == preNullMerge)

    // delete: TRUE rows go, FALSE and NULL rows SURVIVE (SQL DELETE's
    // three-valued semantics — the naive !cond filter would drop NULLs)
    val nulled = ManifestedTable.read(spark, dir)
      .withColumn("value",
        when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value")))
    ManifestedTable.write(
      nulled.repartitionByRange(8, col("event_id")), dir)
    val preFiles = ManifestedTable.currentFiles(spark, dir)
    val preT = mtimes(preFiles)
    val vDel = ManifestedTable.deleteWhere(spark, dir,
      col("value") > 1000d && col("event_id") < 100)
    val survivors = ManifestedTable.read(spark, dir)
    assert(survivors.filter(
      col("value") > 1000d && col("event_id") < 100).count() == 0)
    assert(survivors.filter(col("value").isNull).count() ==
      nulled.filter(col("value").isNull).count(),
      "DELETE dropped NULL-predicate rows")
    val (_, delRemoved) = ManifestedTable.changedFiles(spark, dir,
      vDel - 1, vDel)
    assert(delRemoved.nonEmpty && delRemoved.size < preFiles.size)
    val delCarried = preFiles.filterNot(delRemoved.toSet)
    assert(delCarried.forall(f => mtimes(Seq(f))(f) == preT(f)))

    // a predicate matching nothing commits nothing
    val vSame = ManifestedTable.deleteWhere(spark, dir,
      col("event_id") === -1L)
    assert(vSame == vDel, "a no-match DELETE advanced the version")

    // MERGE's WHEN MATCHED ... DELETE clause (the CDC delete-flag
    // form): flagged source rows remove their base row and never
    // re-enter; unflagged rows upsert in the same commit
    val pre = ManifestedTable.read(spark, dir)
    val someKeys = pre.filter(col("value").isNotNull)
      .select("event_id").orderBy("event_id")
      .limit(4).collect().map(_.getLong(0))
    val (delK, updK) = (someKeys.take(2).toSeq, someKeys.drop(2).toSeq)
    val delta = pre.filter(col("event_id").isin(delK ++ updK: _*))
      .withColumn("value", col("value") + 5000d)
    val nPre = pre.count()
    ManifestedTable.merge(spark, dir, delta, Seq("event_id"),
      deleteWhen = Some(col("event_id").isin(delK: _*)))
    val post = ManifestedTable.read(spark, dir)
    assert(post.count() == nPre - delK.size)
    assert(post.filter(col("event_id").isin(delK: _*)).count() == 0,
      "a delete-flagged source row survived the merge")
    assert(post.filter(col("event_id").isin(updK: _*)
      && col("value") >= 5000d).count() == updK.size,
      "an unflagged source row failed to upsert in the same commit")

    // keyed delete (the CDC-apply form): exactly the keyed rows go,
    // and an absent key set commits nothing
    import spark.implicits._
    val present = ManifestedTable.read(spark, dir)
      .select("event_id").limit(3).collect().map(_.getLong(0)).toSeq
    val nBefore = ManifestedTable.read(spark, dir).count()
    ManifestedTable.deleteMatching(spark, dir, present.toDF("event_id"))
    val after = ManifestedTable.read(spark, dir)
    assert(after.count() == nBefore - present.size)
    assert(after.filter(col("event_id").isin(present: _*)).count() == 0)
    val vk = ManifestedTable.currentVersion(spark, dir)
    assert(ManifestedTable.deleteMatching(spark, dir,
      Seq(-5L, -6L).toDF("event_id")) == vk,
      "a no-match keyed DELETE advanced the version")
  }

  test("manifested table: MERGE matrix — conditional clauses and NOT MATCHED BY SOURCE") {
    import graft.sources.ManifestedTable
    import graft.sources.ManifestedTable.{BySourceDelete, BySourceUpdate}
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 600)
    def fresh(): String = {
      val d = tempDir("graft_mm").toString
      ManifestedTable.write(ev.repartitionByRange(6, col("event_id")), d)
      d
    }
    def rows(d: String) = ManifestedTable.read(spark, d)
      .orderBy("event_id", "value").collect().toSeq
    def img(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id", "value").collect().toSeq

    // (1) NOT MATCHED BY SOURCE DELETE, unconditional = FULL SYNC: the
    // table becomes exactly the source image — updates applied,
    // missing rows gone, new rows in
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + 1000d)
        .unionByName(ev.filter(col("event_id") % 3 === 1)
          .withColumn("event_id", col("event_id") + 90000L))
      ManifestedTable.merge(spark, d, src, Seq("event_id"),
        bySource = Some(BySourceDelete()))
      assert(rows(d) == img(src), "full sync diverged from the source image")
    }

    // (2) conditional by-source DELETE: only unmatched rows satisfying
    // the condition go; NULL/false-condition rows survive
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") % 3 === 0)
      ManifestedTable.merge(spark, d, src, Seq("event_id"),
        bySource = Some(BySourceDelete(Some(col("user_id") < 5))))
      val expect = ev.filter(col("event_id") % 3 === 0)
        .unionByName(ev.filter(col("event_id") % 3 =!= 0)
          .filter(!(col("user_id") < 5)))
      assert(rows(d) == img(expect))
    }

    // (3) by-source UPDATE: stale-flagging — unmatched rows take the
    // SET expressions (condition-guarded), matched rows upsert normally
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 1000d)
      ManifestedTable.merge(spark, d, src, Seq("event_id"),
        bySource = Some(BySourceUpdate(
          Seq("value" -> lit(-1d), "event_type" -> lit("stale")),
          Some(col("user_id") >= 10))))
      val got = ManifestedTable.read(spark, d)
      assert(got.filter(col("event_id") % 2 === 0 && col("value") < 1000d)
        .count() == 0, "a matched row missed its update")
      val stale = ev.filter(col("event_id") % 2 =!= 0 && col("user_id") >= 10)
      assert(got.filter(col("event_type") === "stale").count() ==
        stale.count())
      assert(got.filter(col("event_id") % 2 =!= 0 && col("user_id") < 10 &&
        col("event_type") === "stale").count() == 0,
        "the by-source condition was ignored")
      assert(got.count() == ev.count(), "by-source UPDATE changed cardinality")
    }

    // (4) conditional matched UPDATE (only-if-newer guard): matched
    // rows where the condition is FALSE survive UNCHANGED — and the
    // condition sees both sides (source by name, base as __base_*)
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") < 200)
        .withColumn("value", when(col("event_id") % 2 === 0,
          col("value") + 1000d).otherwise(col("value") - 1000d))
      ManifestedTable.merge(spark, d, src, Seq("event_id"),
        updateWhen = Some(col("value") > col("__base_value")))
      val expect = ev.filter(col("event_id") < 200)
        .withColumn("value", when(col("event_id") % 2 === 0,
          col("value") + 1000d).otherwise(col("value")))
        .unionByName(ev.filter(col("event_id") >= 200))
      assert(rows(d) == img(expect),
        "conditional matched UPDATE did not follow the newer-wins guard")
    }

    // (5) conditional INSERT: unmatched source rows insert only where
    // the condition holds
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + 90000L)
      ManifestedTable.merge(spark, d, src, Seq("event_id"),
        insertWhen = Some(col("user_id") % 2 === 0))
      val expect = ev.unionByName(src.filter(col("user_id") % 2 === 0))
      assert(rows(d) == img(expect))
    }
  }

  test("manifested table: manifest-embedded stats prune find-touched and range reads") {
    // every commit embeds per-file (lo,hi) column intervals + row
    // counts read from the parquet FOOTER at stage time (zero data
    // IO); kept files carry their stats lines byte-identical. On a
    // key-clustered layout that makes (a) merge/deleteMatching's
    // find-touched pass open a strict MINORITY of files and (b) a
    // range read plan only intersecting files — with rows identical to
    // the unpruned paths in both cases.
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_mstats").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), dir)
    val all = ManifestedTable.currentFiles(spark, dir)
    assert(all.size == 8)

    // the pruning face: a low-key probe's candidate set is a strict
    // minority (the manifest stats are real and selective)
    val probe = ev.filter(col("event_id") < 100).select("event_id")
    val cands = ManifestedTable.keyCandidates(spark, dir, probe,
      Seq("event_id"))
    assert(cands.nonEmpty && cands.size * 2 < all.size,
      s"stats did not prune: ${cands.size} of ${all.size} candidates")

    // merge through the pruned path: the files it rewrote are a subset
    // of the candidates, and the table equals the relational upsert
    val src = ev.filter(col("event_id") < 100)
      .withColumn("value", col("value") + 1000d)
    val v1 = ManifestedTable.currentVersion(spark, dir)
    val v2 = ManifestedTable.merge(spark, dir, src, Seq("event_id"))
    val (_, removed) = ManifestedTable.changedFiles(spark, dir, v1, v2)
    assert(removed.nonEmpty && removed.toSet.subsetOf(cands.toSet),
      s"merge opened beyond the stats candidates: $removed vs $cands")
    val expect = src.unionByName(ev.filter(col("event_id") >= 100))
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id", "value").collect().toSeq ==
      expect.orderBy("event_id", "value").collect().toSeq)

    // stats survive the merge: carried files kept their lines, staged
    // files got fresh ones — the post-merge table still prunes
    val cands2 = ManifestedTable.keyCandidates(spark, dir,
      ev.filter(col("event_id") >= 700).select("event_id"), Seq("event_id"))
    assert(cands2.size * 2 < ManifestedTable.currentFiles(spark, dir).size,
      "stats stopped pruning after a merge commit")

    // range read served from the manifest: plans a strict minority of
    // files (inputFiles is the machine check), rows ≡ full-scan filter
    val rr = ManifestedTable.readRange(spark, dir, "event_id", 200L, 299L)
    val planned = rr.inputFiles.length
    assert(planned * 2 < ManifestedTable.currentFiles(spark, dir).size,
      s"readRange planned $planned files")
    assert(rr.orderBy("event_id", "value").collect().toSeq ==
      ManifestedTable.read(spark, dir)
        .filter(col("event_id") >= 200L && col("event_id") <= 299L)
        .orderBy("event_id", "value").collect().toSeq)

    // a probe outside every interval: zero candidates, and the DML
    // no-ops without opening anything
    import spark.implicits._
    val ghost = Seq(10L * 1000 * 1000).toDF("event_id")
    assert(ManifestedTable.keyCandidates(spark, dir, ghost,
      Seq("event_id")).isEmpty)
    val vSame = ManifestedTable.deleteMatching(spark, dir, ghost)
    assert(vSame == v2, "a stats-refuted keyed DELETE advanced the version")
  }

  test("manifested table: deleteMatching(keys) ≡ deleteWhere(k IN keys) — same rows, same files") {
    // the two keyed deletes differ only in how they find candidates
    // (the key feed's bounds vs the predicate's manifest split) and in
    // their matched/survivor sides (semi/anti join vs filter/negated
    // filter); on one key set over two copies of one key-clustered
    // table they must leave equal rows and touch the same files —
    // rewritten (dvMaxFraction 0) or deletion-vectored (1)
    import graft.sources.ManifestedTable
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    val ids = ev.select("event_id").orderBy("event_id").collect()
      .map(_.getLong(0))
    // two keys in the lowest range, two in the middle, one matching
    // nothing
    val keys = Seq(ids(0), ids(1), ids(ids.length / 2),
      ids(ids.length / 2 + 1), 10L * 1000 * 1000)
    val expect = ev.filter(!col("event_id").isin(keys: _*))
      .orderBy("event_id", "value").collect().toSeq
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val all = java.nio.file.Files.walk(from)
      try all.forEach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(q)
        else java.nio.file.Files.copy(p, q)
      } finally all.close()
    }
    for (dvMax <- Seq(0.0, 1.0)) {
      val a = tempDir("graft_delmatch")
      val v1 = ManifestedTable.write(
        ev.repartitionByRange(8, col("event_id")), a.toString)
      val b = tempDir("graft_delwhere")
      copyDir(a, b)
      val vA = ManifestedTable.deleteMatching(spark, a.toString,
        keys.toDF("event_id"), dvMaxFraction = dvMax)
      val vB = ManifestedTable.deleteWhere(spark, b.toString,
        col("event_id").isin(keys: _*), dvMaxFraction = dvMax)
      assert(vA > v1 && vB > v1, s"dvMaxFraction $dvMax: nothing committed")
      def rows(dir: java.nio.file.Path) = ManifestedTable.read(spark,
        dir.toString).orderBy("event_id", "value").collect().toSeq
      assert(rows(a) == expect, s"dvMaxFraction $dvMax: deleteMatching rows")
      assert(rows(b) == expect, s"dvMaxFraction $dvMax: deleteWhere rows")
      val (_, removedA) = ManifestedTable.changedFiles(spark, a.toString, v1, vA)
      val (_, removedB) = ManifestedTable.changedFiles(spark, b.toString, v1, vB)
      assert(removedA.toSet == removedB.toSet,
        s"dvMaxFraction $dvMax: removed $removedA vs $removedB")
      if (dvMax == 0.0)
        assert(removedA.nonEmpty && removedA.size < 8,
          s"the keys should touch some files, not all: $removedA")
      else assert(removedA.isEmpty, s"a DV delete removed files: $removedA")
      // the change feed names the same deleted rows on both sides
      def cdfRemoved(dir: java.nio.file.Path, v: Long) =
        ManifestedTable.changesBetween(spark, dir.toString, v1, v)._2
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id", "value").collect().toSeq
      assert(cdfRemoved(a, vA) == cdfRemoved(b, vB),
        s"dvMaxFraction $dvMax: the change feeds disagree")
    }
  }

  test("manifested table: TRUE concurrent writers — appends never lose, merges serialize or retry") {
    // no interleave hook here: four real threads hammer one table.
    // Appends are blind — every one must land (the rebase path) with
    // one version per commit. Merges on disjoint key strata race their
    // publications — each either rebases (disjointness proven) or gets
    // ConcurrentWriteException and RECOMPUTES; after the storm the
    // table must hold every stratum's final image. (Local FS: the CAS
    // is JVM-linearized per table — the HDFS rename semantics
    // same-process; cross-process local FS stays single-writer.)
    import graft.sources.{ConcurrentWriteException, ManifestedTable}
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val dir = tempDir("graft_thr").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), dir)
    val v0 = ManifestedTable.currentVersion(spark, dir)

    // phase 1: 4 threads × 5 appends of 10 rows each, distinct keys
    val pool = Executors.newFixedThreadPool(4)
    try {
      val appendJobs = (0 until 4).map { t =>
        new Callable[Unit] {
          override def call(): Unit = (0 until 5).foreach { i =>
            val chunk = ev.limit(10).withColumn("event_id",
              col("event_id") + lit(100000L * (t * 5 + i + 1)))
            ManifestedTable.write(chunk, dir, overwrite = false)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      pool.invokeAll(appendJobs.asJava).asScala.foreach(_.get())
      assert(ManifestedTable.read(spark, dir).count() ==
        ev.count() + 20 * 10,
        "a racing append lost rows")
      assert(ManifestedTable.currentVersion(spark, dir) == v0 + 20,
        "append commits did not each take exactly one version")

      // phase 2: 4 threads merge their own DISJOINT stratum, retrying
      // on conflict — the retry recomputes against the new snapshot,
      // which is the exception's contract
      val mergeJobs = (0 until 4).map { t =>
        new Callable[Unit] {
          override def call(): Unit = {
            val lo = t * 200L
            val src = ev
              .filter(col("event_id") >= lo && col("event_id") < lo + 200)
              .withColumn("value", col("value") + lit(10000d * (t + 1)))
            var done = false
            var tries = 0
            while (!done && tries < 12) {
              tries += 1
              try {
                ManifestedTable.merge(spark, dir, src, Seq("event_id"))
                done = true
              } catch { case _: ConcurrentWriteException => }
            }
            require(done, s"stratum $t never committed in $tries tries")
          }
        }
      }
      pool.invokeAll(mergeJobs.asJava).asScala.foreach(_.get())
      val got = ManifestedTable.read(spark, dir)
      (0 until 4).foreach { t =>
        val lo = t * 200L
        val n = ev.filter(col("event_id") >= lo &&
          col("event_id") < lo + 200).count()
        assert(got.filter(col("event_id") >= lo && col("event_id") < lo + 200
          && col("value") >= 10000d * (t + 1)).count() == n,
          s"stratum $t lost its merge under concurrency")
      }
      assert(got.count() == ev.count() + 200,
        "concurrent merges changed cardinality")
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
      ()
    }
  }

  test("manifested table: branches — write-audit-publish with fast-forward promote") {
    // the WAP pattern: stage on a branch (invisible to main), audit
    // the branch head, promote atomically — fast-forward only, so a
    // racing main commit aborts the promote instead of being silently
    // overwritten. Branch commits interleave into the global version
    // sequence but every lineage resolves through explicit parent
    // pointers.
    import graft.sources.{ConcurrentWriteException, ManifestedTable}
    import spark.implicits._
    val d = tempDir("graft_wap").toString
    ManifestedTable.write(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "s"), d)
    val mainV = ManifestedTable.currentVersion(spark, d)

    // WRITE: staged commits are invisible to every main reader
    ManifestedTable.writeBranch(
      (100L until 150L).map(k => (k, "staged")).toDF("k", "s"), d, "wap")
    assert(ManifestedTable.read(spark, d).count() == 100,
      "a staged branch commit leaked into the main read")
    assert(ManifestedTable.currentVersion(spark, d) == mainV,
      "a staged branch commit moved the main version")
    // AUDIT: the branch head = fork + staged, and the branch can grow
    assert(ManifestedTable.readBranch(spark, d, "wap").count() == 150)
    ManifestedTable.writeBranch(
      (150L until 160L).map(k => (k, "staged2")).toDF("k", "s"), d, "wap")
    assert(ManifestedTable.read(spark, d).count() == 100)
    assert(ManifestedTable.readBranch(spark, d, "wap").count() == 160)
    assert(ManifestedTable.branches(spark, d) ==
      Seq("wap" -> ManifestedTable.versions(spark, d).max))

    // PUBLISH: one atomic main commit; time travel crosses it; the
    // main change feed surfaces the staged rows exactly at promote
    val pv = ManifestedTable.promoteBranch(spark, d, "wap")
    assert(ManifestedTable.branches(spark, d).isEmpty,
      "promote must retire the branch ref atomically")
    assert(ManifestedTable.read(spark, d).count() == 160)
    assert(ManifestedTable.currentVersion(spark, d) == pv)
    assert(ManifestedTable.readAt(spark, d, mainV).count() == 100)
    val (added, removed) = ManifestedTable.changesBetween(spark, d, mainV, pv)
    assert(added.count() == 60 && removed.isEmpty,
      "the promote's change feed is not exactly the staged rows")

    // fast-forward only: main advancing past the fork aborts loudly
    ManifestedTable.writeBranch(
      Seq((900L, "x")).toDF("k", "s"), d, "wap2")
    ManifestedTable.write(
      Seq((901L, "y")).toDF("k", "s"), d, overwrite = false)
    intercept[ConcurrentWriteException] {
      ManifestedTable.promoteBranch(spark, d, "wap2")
    }
    val got = ManifestedTable.read(spark, d)
    assert(got.count() == 161 && got.filter(col("k") === 900L).isEmpty,
      "the failed promote changed main")

    // DROP: the branch disappears; vacuum keeps LIVE branches readable
    ManifestedTable.dropBranch(spark, d, "wap2")
    intercept[IllegalArgumentException] {
      ManifestedTable.readBranch(spark, d, "wap2")
    }
    ManifestedTable.writeBranch(
      Seq((950L, "z")).toDF("k", "s"), d, "wap3")
    ManifestedTable.vacuum(spark, d, keepLast = 1, minAgeMillis = 0L)
    assert(ManifestedTable.read(spark, d).count() == 161,
      "vacuum with a live branch broke the main read")
    assert(ManifestedTable.readBranch(spark, d, "wap3").count() == 162,
      "vacuum reclaimed a live branch's staging snapshot")
  }

  test("manifested table: delta manifests + checkpoints — a commit writes O(commit) metadata, not O(table)") {
    // the last O(table)-per-commit term: every commit used to rewrite
    // the FULL |files| line set. Now appends and rewrites write a
    // DELTA (`+entry` / `-path` against the previous version) and a
    // periodic checkpoint sidecar bounds snapshot resolution to one
    // full read + a short tail — epoch-rate streaming commits cost
    // O(epoch), the Delta-log/Iceberg-manifest-list construction.
    import graft.sources.ManifestedTable
    import spark.implicits._
    val d = tempDir("graft_ckpt").toString
    val mdir = new java.io.File(d, "_manifests")
    def msize(v: Int): Long =
      new java.io.File(mdir, f"manifest-$v%06d").length()
    def cp(v: Int): java.io.File =
      new java.io.File(mdir, f"checkpoint-$v%06d")

    // v1: overwrite = FULL manifest over a 64-file layout
    ManifestedTable.write(
      (0L until 200L).map(k => (k, s"s$k")).toDF("k", "s").repartition(64), d)
    // v2..v9: single-file appends — each a one-line delta
    for (i <- 2 to 9)
      ManifestedTable.write(
        Seq((1000L + i, "late")).toDF("k", "s").coalesce(1), d,
        overwrite = false)

    // O(commit) metadata: an append's delta is a fraction of the full
    // v1 manifest and does NOT grow as the table does
    assert(msize(2) < msize(1) / 10,
      s"append delta (${msize(2)}B) is not O(commit) vs full ${msize(1)}B")
    assert(msize(9) <= msize(2) * 2,
      "delta size grew with table size — the commit is not incremental")
    // the periodic checkpoint landed at the interval (default 8)...
    assert(cp(8).exists(), "no checkpoint sidecar at the interval commit")
    // ...and is table-sized (it IS the resolved snapshot)
    assert(cp(8).length() > msize(1) / 2)

    // resolution is correct across the chain: current, time travel, CDF
    assert(ManifestedTable.read(spark, d).count() == 208)
    assert(ManifestedTable.readAt(spark, d, 5).count() == 204)
    val (add56, rem56) = ManifestedTable.changesBetween(spark, d, 5, 6)
    assert(add56.collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1006L, "late")) && rem56.isEmpty,
      "CDF across delta manifests broke")

    // resolution reads checkpoint + tail ONLY: drop every manifest
    // strictly below the checkpoint (simulating a vacuumed prefix) —
    // the current snapshot and the checkpointed version stay readable
    for (v <- 1 to 7) {
      assert(new java.io.File(mdir, f"manifest-$v%06d").delete())
      if (cp(v).exists()) cp(v).delete()
    }
    assert(ManifestedTable.read(spark, d).count() == 208,
      "resolution walked below the checkpoint")
    assert(ManifestedTable.readAt(spark, d, 8).count() == 207)

    // a DML mid-chain delta (`-` + `+` lines) composes with resolution
    ManifestedTable.deleteWhere(spark, d, col("k") < 3)
    assert(ManifestedTable.read(spark, d).count() == 205)

    // vacuum fences the oldest retained version with a checkpoint
    // BEFORE dropping the manifests below it — every retained version
    // stays fully resolvable with no full manifest left in the chain
    val d2 = tempDir("graft_ckpt2").toString
    ManifestedTable.write(
      (0L until 50L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(8), d2)
    for (i <- 2 to 5)
      ManifestedTable.write(Seq((100L + i, 1.0)).toDF("k", "v"), d2,
        overwrite = false)
    ManifestedTable.vacuum(spark, d2, keepLast = 3, minAgeMillis = 0L)
    assert(ManifestedTable.versions(spark, d2) == Seq(3L, 4L, 5L))
    assert(new java.io.File(d2, "_manifests/checkpoint-000003").exists(),
      "vacuum dropped the chain without fencing the oldest retained")
    assert(ManifestedTable.readAt(spark, d2, 3).count() == 52)
    assert(ManifestedTable.read(spark, d2).count() == 54)

    // the interval is a table property: graft.checkpoint-interval=2
    // checkpoints every other commit from then on
    val conf = spark.sessionState.newHadoopConf()
    ManifestedTable.setTableProperties(conf, d2,
      Map("graft.checkpoint-interval" -> "2"))  // v6
    ManifestedTable.write(Seq((900L, 0.0)).toDF("k", "v"), d2,
      overwrite = false)                        // v7
    ManifestedTable.write(Seq((901L, 0.0)).toDF("k", "v"), d2,
      overwrite = false)                        // v8
    assert(new java.io.File(d2, "_manifests/checkpoint-000008").exists(),
      "the per-table checkpoint-interval property was ignored")
  }

  test("manifested table: deletion vectors — a 1-row delete moves zero data bytes") {
    // merge-on-read: when a DML's per-file deleted fraction is under
    // dvMaxFraction, the file is NOT rewritten — deleted positions go
    // to a (file, pos) sidecar referenced from the file's manifest
    // line, readers apply it as an anti join on parquet's _metadata
    // row identity, CDF diffs through it (entry identity = path + dv),
    // compaction materializes it away, vacuum reclaims it
    import graft.sources.ManifestedTable
    import spark.implicits._
    val dir = tempDir("graft_dv").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    val v1 = ManifestedTable.write(
      ev.repartitionByRange(8, col("event_id")), dir)
    val dataFiles = ManifestedTable.currentFiles(spark, dir)
    def mtimes() = dataFiles
      .map(f => f -> new java.io.File(dir, f).lastModified()).toMap
    val t0 = mtimes()

    // one-row keyed delete under the MoR threshold: ZERO data files
    // move — the manifest's path set is unchanged and every data
    // file's bytes are untouched (mtimes identical)
    val kDel = ev.select("event_id").orderBy("event_id").head.getLong(0)
    val v2 = ManifestedTable.deleteMatching(spark, dir,
      Seq(kDel).toDF("event_id"), dvMaxFraction = 0.5)
    val (addedF, removedF) = ManifestedTable.changedFiles(spark, dir, v1, v2)
    assert(addedF.isEmpty && removedF.isEmpty,
      s"a 1-row MoR delete moved data files: +$addedF -$removedF")
    assert(mtimes() == t0, "a data file was rewritten in place")
    assert(ManifestedTable.currentFiles(spark, dir).sorted ==
      dataFiles.sorted)

    // rows correct through read, time travel, and the SQL face
    assert(ManifestedTable.read(spark, dir).count() == ev.count() - 1)
    assert(ManifestedTable.read(spark, dir)
      .filter(col("event_id") === kDel).count() == 0)
    assert(ManifestedTable.readAt(spark, dir, v1).count() == ev.count(),
      "the DV leaked into the pre-delete snapshot")
    val face = spark.read.format("graft-manifest").load(dir)
    assert(face.count() == ev.count() - 1,
      "the SQL face's footer-count path ignored the DV")
    assert(face.filter(col("event_id") === kDel).count() == 0,
      "the SQL face resurrected a DV'd row")

    // CDF through the DV: entry identity is (path, dv), so the file
    // diffs against itself and surviving rows cancel — removed side is
    // EXACTLY the deleted row
    val (cdfAdd, cdfRem) = ManifestedTable.changesBetween(spark, dir, v1, v2)
    assert(cdfAdd.isEmpty, "a MoR delete produced added rows")
    assert(cdfRem.select("event_id").collect().map(_.getLong(0)).toSeq ==
      Seq(kDel))

    // a second delete on the SAME file merges the sidecars: both rows
    // gone, still zero data movement
    val kDel2 = ev.select("event_id").orderBy("event_id")
      .limit(2).collect().map(_.getLong(0)).last
    val v3 = ManifestedTable.deleteWhere(spark, dir,
      col("event_id") === kDel2, dvMaxFraction = 0.5)
    assert(ManifestedTable.changedFiles(spark, dir, v2, v3)._2.isEmpty)
    assert(mtimes() == t0)
    assert(ManifestedTable.read(spark, dir).count() == ev.count() - 2)
    assert(ManifestedTable.read(spark, dir)
      .filter(col("event_id").isin(kDel, kDel2)).count() == 0)

    // merge-on-read MERGE: a small matched delta DVs the old images
    // and stages only the delta — the touched file's bytes stay put
    val updKeys = ev.select("event_id").orderBy(col("event_id").desc)
      .limit(2).collect().map(_.getLong(0)).toSeq
    val src = ev.filter(col("event_id").isin(updKeys: _*))
      .withColumn("value", col("value") + 9999d)
    val v4 = ManifestedTable.merge(spark, dir, src, Seq("event_id"),
      dvMaxFraction = 0.5)
    assert(ManifestedTable.changedFiles(spark, dir, v3, v4)._2.isEmpty,
      "a MoR merge removed data files")
    assert(mtimes() == t0, "a MoR merge rewrote a data file")
    val postMerge = ManifestedTable.read(spark, dir)
    assert(postMerge.count() == ev.count() - 2)
    assert(postMerge.filter(col("event_id").isin(updKeys: _*))
      .collect().forall(_.getAs[Double]("value") >= 9999d),
      "a MoR merge lost an update")
    assert(postMerge.filter(col("event_id").isin(updKeys: _*)).count() == 2,
      "a MoR merge duplicated or dropped matched keys")

    // stats-served range read still applies the DV
    assert(ManifestedTable.readRange(spark, dir, "event_id", kDel, kDel)
      .count() == 0)

    // compaction reads THROUGH the vectors and so materializes them;
    // vacuum then reclaims the orphaned sidecars — and the table stays
    // row-identical
    val img = postMerge.orderBy("event_id", "value").collect().toSeq
    ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id", "value").collect().toSeq == img)
    ManifestedTable.vacuum(spark, dir, minAgeMillis = 0L)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    assert(!walk(new java.io.File(dir)).exists(_.getPath.contains("/dv-")),
      "vacuum left an unreferenced deletion-vector sidecar")
    assert(ManifestedTable.read(spark, dir)
      .orderBy("event_id", "value").collect().toSeq == img)
  }

  test("manifested table: optimistic concurrency — racing commits serialize or abort, never revert") {
    // the lost-update window: an operation COMPUTED against v(n) must
    // not blindly publish after a concurrent commit landed v(n+1) —
    // publish() re-validates the base snapshot per CAS attempt and
    // either proves disjointness (rebasing untouched references) or
    // throws ConcurrentWriteException. beforePublish is the
    // deterministic interleave point: it fires between an operation's
    // compute phase and its publication.
    import graft.sources.{ConcurrentWriteException, ManifestedTable}
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 800)
    def fresh(): String = {
      val d = tempDir("graft_occ").toString
      ManifestedTable.write(ev.repartitionByRange(8, col("event_id")), d)
      d
    }
    def rows(d: String) = ManifestedTable.read(spark, d)
      .orderBy("event_id", "value").collect().toSeq

    // (1) append racing append: the loser REBASES onto the winner's
    // files — both land, nothing is silently dropped (the pre-OCC code
    // read the prior file list once and would have reverted the winner)
    locally {
      val d = fresh()
      val mine = ev.limit(50).withColumn("event_id", col("event_id") + 10000L)
      val theirs = ev.limit(30).withColumn("event_id", col("event_id") + 20000L)
      ManifestedTable.beforePublish =
        () => ManifestedTable.write(theirs, d, overwrite = false)
      ManifestedTable.write(mine, d, overwrite = false)
      val got = ManifestedTable.read(spark, d)
      assert(got.count() == ev.count() + 50 + 30,
        "a racing append's files were dropped by the loser's retry")
      assert(got.filter(col("event_id") >= 20000L).count() == 30)
      assert(got.filter(col("event_id") >= 10000L &&
        col("event_id") < 20000L).count() == 50)
    }

    // (2) merge racing a DISJOINT delete: file sets and row scopes are
    // disjoint, so the merge rebases — BOTH effects present, equal to
    // either serial order
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") < 100)
        .withColumn("value", col("value") + 1000d)
      ManifestedTable.beforePublish = () => ManifestedTable.deleteWhere(
        spark, d, col("event_id") >= 600 && col("event_id") < 700)
      ManifestedTable.merge(spark, d, src, Seq("event_id"))
      val expect = src.unionByName(ev.filter(col("event_id") >= 100))
        .filter(!(col("event_id") >= 600 && col("event_id") < 700))
      assert(rows(d) == expect.orderBy("event_id", "value").collect().toSeq,
        "disjoint racing commits did not serialize")
    }

    // (3) merge racing an OVERLAPPING delete (same key range): the
    // delete removed files the merge rewrote — conflict, loud abort,
    // table = the delete's image (nothing reverted, nothing doubled)
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") < 100)
        .withColumn("value", col("value") + 1000d)
      ManifestedTable.beforePublish = () =>
        ManifestedTable.deleteWhere(spark, d, col("event_id") < 50)
      val vPre = ManifestedTable.currentVersion(spark, d)
      intercept[ConcurrentWriteException] {
        ManifestedTable.merge(spark, d, src, Seq("event_id"))
      }
      assert(ManifestedTable.currentVersion(spark, d) == vPre + 1,
        "only the interleaved delete should have committed")
      assert(rows(d) ==
        ev.filter(col("event_id") >= 50).orderBy("event_id", "value")
          .collect().toSeq,
        "the aborted merge corrupted the table")
    }

    // (4) merge racing an append INTO its key scope: no file was
    // removed, but the appended rows carry keys the merge matched —
    // the row-level scope check must catch it (file-level disjointness
    // alone would publish a missed update / duplicate key)
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") < 100)
        .withColumn("value", col("value") + 1000d)
      val intruder = ev.filter(col("event_id") === 42L)
        .withColumn("value", lit(-1d))
      ManifestedTable.beforePublish =
        () => ManifestedTable.write(intruder, d, overwrite = false)
      intercept[ConcurrentWriteException] {
        ManifestedTable.merge(spark, d, src, Seq("event_id"))
      }
      // ...while an append OUTSIDE the scope rebases fine
      val outsider = ev.limit(5)
        .withColumn("event_id", col("event_id") + 50000L)
      ManifestedTable.beforePublish =
        () => ManifestedTable.write(outsider, d, overwrite = false)
      ManifestedTable.merge(spark, d, src, Seq("event_id"))
      val got = ManifestedTable.read(spark, d)
      assert(got.filter(col("event_id") >= 50000L).count() == 5)
      // the low-key slice equals the merge source exactly: updates
      // applied, and the intruder's duplicate key-42 image subsumed
      assert(got.filter(col("event_id") < 100)
        .orderBy("event_id", "value").collect().toSeq ==
        src.orderBy("event_id", "value").collect().toSeq,
        "the rebased merge lost updates or kept a stale duplicate")
    }

    // (5) compaction racing an append: row-preserving rewrite rebases,
    // the appended files ride uncompacted; racing a DML: conflict (the
    // DML removed files the compaction claims) — maintenance retries,
    // data wins
    locally {
      val d = fresh()
      val extra = ev.limit(20).withColumn("event_id", col("event_id") + 30000L)
      ManifestedTable.beforePublish =
        () => ManifestedTable.write(extra, d, overwrite = false)
      ManifestedTable.compact(spark, d, targetFileBytes = 1L << 30)
      val got = ManifestedTable.read(spark, d)
      assert(got.count() == ev.count() + 20,
        "compaction racing an append lost the appended rows")
      ManifestedTable.beforePublish = () =>
        ManifestedTable.deleteWhere(spark, d, col("event_id") < 10)
      intercept[ConcurrentWriteException] {
        ManifestedTable.compactClustered(spark, d, 1L << 30, col("event_id"))
      }
      assert(ManifestedTable.read(spark, d)
        .filter(col("event_id") < 10).count() == 0,
        "the aborted compaction reverted the racing delete")
    }

    // (6) DML racing a compaction: the compaction rewrote EVERY file
    // the merge touched — conflict, the merge must recompute
    locally {
      val d = fresh()
      val src = ev.filter(col("event_id") < 100)
        .withColumn("value", col("value") + 1000d)
      ManifestedTable.beforePublish =
        () => ManifestedTable.compact(spark, d, 1L << 30)
      intercept[ConcurrentWriteException] {
        ManifestedTable.merge(spark, d, src, Seq("event_id"))
      }
      assert(rows(d) == ev.orderBy("event_id", "value").collect().toSeq,
        "the aborted merge changed rows through a racing compaction")
    }

    // (7) merge-on-read DELETE racing another MoR delete on the SAME
    // file: neither commit adds or removes a PATH — each only swaps
    // the file's `dv:` token — so a path-identity conflict check
    // passes both legs and the loser's base-built sidecar (computed
    // without the winner's pairs) would silently RESURRECT the
    // winner's deleted rows. Conflict identity is therefore the full
    // manifest LINE: the interleave must abort the loser loudly, with
    // the winner's image intact and the loser's rows untouched.
    locally {
      val d = fresh()
      ManifestedTable.beforePublish = () =>
        ManifestedTable.deleteWhere(spark, d, col("event_id") < 5,
          dvMaxFraction = 1.0)
      intercept[ConcurrentWriteException] {
        ManifestedTable.deleteWhere(spark, d,
          col("event_id") >= 5 && col("event_id") < 10,
          dvMaxFraction = 1.0)
      }
      val got = ManifestedTable.read(spark, d)
      assert(got.filter(col("event_id") < 5).count() == 0,
        "the aborted MoR delete resurrected the interleaved DV's rows")
      assert(got.filter(col("event_id") >= 5 && col("event_id") < 10)
        .count() ==
        ev.filter(col("event_id") >= 5 && col("event_id") < 10).count(),
        "the aborted MoR delete half-applied its own predicate")
    }
  }
}
