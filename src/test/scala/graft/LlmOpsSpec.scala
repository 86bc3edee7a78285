package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** LLM-pipeline operator tests at sf0.001: recall on planted duplicates,
  * LSH candidate ⊆ all-pairs soundness, SimHash locality, and the
  * multimodal frame index.
  */
class LlmOpsSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val corpus = DedupOps.corpus(docs).cache()

  test("exact dedup finds exactly the planted exact copies") {
    val dups = DedupOps.exactDups(corpus).collect()
    assert(dups.length == DedupOps.ExactCopyN)
    assert(dups.forall(_.getAs[Long]("n_copies") == 2L))
    // keep_id is always the original (min of the pair)
    assert(dups.forall(_.getAs[Long]("keep_id") < DedupOps.ExactCopyN))
  }

  test("minhash LSH recalls every planted near-dup pair") {
    val pairs = DedupOps.candidatePairs(DedupOps.lshBuckets(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near copies (first token dropped) must collide in >=1 band
    val expectedNear = (0L until DedupOps.NearCopyN)
      .map(i => (i, i + DedupOps.NearCopyOffset)).toSet
    assert(expectedNear.subsetOf(pairs),
      s"missing: ${expectedNear.diff(pairs).take(5)}")
    // exact copies trivially collide in all bands
    val expectedExact = (0L until DedupOps.ExactCopyN)
      .map(i => (i, i + DedupOps.ExactCopyOffset)).toSet
    assert(expectedExact.subsetOf(pairs))
  }

  test("jaccard verify: planted pairs score high, candidate set is sound") {
    val verified = DedupOps.jaccardVerify(corpus,
        DedupOps.candidatePairs(DedupOps.lshBuckets(corpus)), 0.6)
      .collect()
    val ids = verified.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until DedupOps.ExactCopyN)
      .map(i => (i, i + DedupOps.ExactCopyOffset)).forall(ids.contains))
    // (original, exact copy) pairs have jaccard exactly 1.0; pairs that
    // involve the near copy (e.g. near copy × exact copy of the same
    // original) score high but below 1
    verified.filter(r => r.getLong(0) < DedupOps.ExactCopyN &&
        r.getLong(1) == r.getLong(0) + DedupOps.ExactCopyOffset)
      .foreach(r => assert(r.getAs[Double]("jaccard") == 1.0))
  }

  test("simhash: near copies land within small hamming distance") {
    val sh = TextOps.simhashSpark(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until DedupOps.NearCopyN).foreach { i =>
      val d = java.lang.Long.bitCount(sh(i) ^ sh(i + DedupOps.NearCopyOffset))
      assert(d <= 4, s"doc $i: hamming $d")
    }
  }

  test("brute-force cosine top-k: self-similar planted vector ranks first") {
    val p = SimilarityOps.prepped(Tables.embeddings(spark, sf))
    val topk = SimilarityOps.bruteForceTopK(p, p.filter(col("vec_id") < 5), 3)
    val rows = topk.collect()
    assert(rows.count(_.getAs[Long]("rk") == 1L) == 5)
    // cosine is a valid similarity: within [-1, 1] (+ulp)
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-12))
  }

  test("bucketed near-dup: candidates are a subset of all-pairs hits") {
    val e = Tables.embeddings(spark, sf)
    val base = e.select(col("vec_id"), expr(SimilarityOps.toDoubleSpark("embedding")).as("v"))
    val c = base.unionAll(
        base.filter(col("vec_id") < 20)
          .select((col("vec_id") + 10000L).as("vec_id"),
            expr("transform(v, x -> x * 0.5)").as("v")))
      .select(col("vec_id"), col("v"),
        expr(SimilarityOps.normSpark("v")).as("nrm"),
        expr(SimilarityOps.bucketSpark("v")).as("bucket"))
    val found = SimilarityOps.bucketedNearDup(c, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 20L).map(i => (i, i + 10000L)).toSet
    assert(planted.subsetOf(found), s"missing ${planted.diff(found).take(3)}")
  }

  test("native cosine_sim is bit-identical to the HOF fold and codegens") {
    val p = SimilarityOps.prepped(Tables.embeddings(spark, sf))
    val pairs = p.select(col("vec_id"), col("v"))
      .crossJoin(p.select(col("vec_id").as("vec_id2"), col("v").as("v2")))
      .filter(col("vec_id") < col("vec_id2"))
    val both = pairs.select(col("vec_id"), col("vec_id2"),
      expr("cosine_sim(v, v2)").as("native"),
      (expr(SimilarityOps.dotSpark("v", "v2")) /
        (expr(SimilarityOps.normSpark("v")) * expr(SimilarityOps.normSpark("v2"))))
        .as("hof"))
    // bit-identical, not just approximately equal
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // the expression compiles into whole-stage-generated code (doGenCode
    // emits the fused loop, visible in codegen-mode explain)
    val codegen = p.select(expr("cosine_sim(v, v)").as("c"))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(400))
    // the Project evaluating the expression is inside a codegen stage
    // (its plan line carries the `*(n)` whole-stage marker)
    val projLine = codegen.linesIterator
      .find(l => l.contains("Project") && l.contains("cosine_sim")).get
    assert(projLine.trim.startsWith("*("), projLine)
  }

  test("native int_l2sq is bit-identical to the HOF fold, codegens, NULL-pars") {
    // the ANN tier's fused inner loop (pqD2Spark since r14): distance,
    // square, and sum in one codegen'd primitive loop — results must be
    // bit-identical to the interpreted aggregate(zip_with(...)) fold it
    // replaced, including Long wrap semantics and NULL behavior
    import spark.implicits._
    val q = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "x -> CAST(floor(x * 1000000) AS BIGINT))").as("q"))
    val pairs = q.crossJoin(
        q.select(col("vec_id").as("vec_id2"), col("q").as("q2")))
      .filter(col("vec_id") < col("vec_id2") && col("vec_id2") < 60)
    val both = pairs.select(
      expr("int_l2sq(q, q2)").as("native"),
      expr("aggregate(zip_with(q, q2, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    val codegen = q.select(expr("int_l2sq(q, q)").as("d"))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(400))
    val projLine = codegen.linesIterator
      .find(l => l.contains("Project") && l.contains("int_l2sq")).get
    assert(projLine.trim.startsWith("*("), projLine)
    // NULL parity: mismatched lengths and a NULL element both → NULL,
    // exactly like the padded-then-poisoned HOF fold
    val r = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L)))
      .toDF("a", "b")
      .select(expr("int_l2sq(a, b)").as("mismatch"),
        expr("int_l2sq(array(1L, NULL), array(1L, 2L))").as("nullelem"))
      .head
    assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
  }

  test("bigram LM flags a scrambled doc the unigram filter cannot see") {
    import spark.implicits._
    // A corpus with strong transition structure: 50 docs cycling the
    // same 6-token sentence (every in-corpus transition is a chain
    // step), plus ONE doc with the SAME token multiset sorted — its
    // unigram statistics are identical to a normal doc's BY
    // CONSTRUCTION (q101-family scores depend only on the multiset),
    // but its transitions (self-pairs, alphabetical steps) never occur
    // in the chain: c_ab = 0, so each costs ~log2(c_a + V) ≈ 8 bits
    // vs ~0–1 for a chain step. The bigram scorer must (a) rank it
    // strictly worst and (b) flag it alone at the 65/16 threshold.
    val sentence = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val normal = Seq.fill(5)(sentence).flatten.mkString(" ")
    val scrambled = Seq.fill(5)(sentence).flatten.sorted.mkString(" ")
    val docs = ((0L until 50L).map(i => (i, "en", normal)) :+
      (999L, "en", scrambled)).toDF("doc_id", "lang", "text")
    val c = new core.Materialize.Caches
    val perDoc = LlmEntry.bigramLmPlanOn(docs, perDoc = true)(c)
    val rows = perDoc.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap // doc_id -> (bits, n_trans, flagged)
    c.release()
    val (sBits, sN, sFlag) = rows(999L)
    assert(sFlag == 1L, s"scrambled doc not flagged: $sBits bits / $sN")
    rows.filter(_._1 != 999L).foreach { case (id, (b, n, f)) =>
      assert(f == 0L, s"chain doc $id flagged ($b bits / $n)")
      assert(sBits.toDouble / sN > b.toDouble / n,
        s"scrambled doc not strictly worst vs $id")
    }
  }

  test("partitioned sink: layout round-trips and reads prune partitions") {
    val dir = tempDir("graft-part").toString
    docs.withColumn("lang_part", col("lang"))
      .repartition(col("lang_part")).write.mode("overwrite")
      .partitionBy("lang_part").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // partition-column filter prunes directories, not just rows
    val pruned = back.filter(col("lang_part") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("lang_part"), scan.take(600))
    assert(pruned.count() == docs.filter(col("lang") === "en").count())
    // each partition dir exists (hive-style layout)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang_part=")), dirs.mkString(","))
  }

  test("dynamic partition pruning fires on a dim-filtered partition join") {
    // The runtime half of the partition-pruning story: a static filter
    // prunes at plan time (test above); DPP prunes partitions whose keys
    // the (broadcast) dim side eliminated AT RUN time — at 100 TB this
    // is what keeps a fact×dim join from scanning every date/lang
    // partition when the dim filter is not a literal on the fact.
    val dir = tempDir("graft-dpp").toString
    docs.withColumn("lang_part", col("lang"))
      .repartition(col("lang_part")).write.mode("overwrite")
      .partitionBy("lang_part").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = docs.select(col("lang").as("lang_part")).distinct()
      .filter(col("lang_part").isin("en", "de"))
    val joined = fact.join(dim, Seq("lang_part"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no DPP subquery in the partitioned scan:\n${plan.take(900)}")
    assert(joined.count() ===
      docs.filter(col("lang").isin("en", "de")).count())
  }

  test("sequence packing: bins are contiguous, conserve tokens, never split a doc") {
    val bins = SparkEntry.queries("q83_seq_packing")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLang = bins.groupBy(_._1)
    byLang.foreach { case (lang, bs) =>
      // bin ids are 0..max with no holes (greedy contiguous layout)
      val ids = bs.map(_._2).sorted
      assert(ids.head === 0L && ids.last === ids.length - 1L,
        s"$lang bins not contiguous: ${ids.mkString(",")}")
      // every bin holds at least one doc
      assert(bs.forall(_._3 >= 1L))
    }
    // token conservation: every doc's tokens land in exactly one bin
    val packed = bins.map(_._4).sum
    val total = graft.core.Tables.documents(spark, sf)
      .select(expr(s"CAST(size(${graft.operators.TextOps.tokensSpark("text")}) AS BIGINT)"))
      .collect().map(_.getLong(0)).sum
    assert(packed === total)
  }

  test("per-group sample plan trims map-side (WindowGroupLimit) and is exact-k") {
    val q = SparkEntry.queries("q85_group_sample")(spark, sf)
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank filter did not plan a map-side group limit")
    val counts = q.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = graft.core.Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (lang, n) =>
      assert(counts(lang) === math.min(n, 20L), s"$lang sample size wrong")
    }
  }

  test("iterating the Lloyd step improves the spherical k-means objective") {
    // q81 is ONE training iteration; this proves the loop it belongs to
    // converges. Spherical k-means: assign by cosine, update = mean of
    // the UNIT-normalized members (the maximizer of summed cosine is the
    // normalized-mean direction; a raw mean is only equivalent when the
    // inputs are unit-norm, which must not be assumed). Objective —
    // summed cosine to the assigned centroid — is then non-decreasing.
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    val p = SimilarityOps.prepped(graft.core.Tables.embeddings(spark, sf))
      .cache()
    def objective(cents: DataFrame): Double =
      SimilarityOps.assignToCentroids(p, cents, 1)
        .join(cents.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cn")), "cid")
        .select((expr(SimilarityOps.dotSpark("v", "cv")) /
          (col("nrm") * col("cn"))).as("c"))
        .agg(sum(col("c"))).head.getDouble(0)
    def step(cents: DataFrame): DataFrame = {
      // mean of UNIT members per (cid, dim) — 8×64 values, driver-safe
      val means = SimilarityOps.assignToCentroids(p, cents, 1)
        .select(col("cid"),
          posexplode(expr("transform(v, x -> x / nrm)")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim")).agg(avg(col("x")).as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).map { case (cid, xs) =>
          Row(cid, xs.sortBy(_._2).map(_._3).toSeq) }
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false))))
      val df = spark.createDataFrame(
        java.util.Arrays.asList(means.toSeq: _*), schema)
      df.select(col("vec_id"), col("v"),
        expr(SimilarityOps.normSpark("v")).as("nrm"))
    }
    var cents = p.filter(col("vec_id").between(100, 107))
      .select("vec_id", "v", "nrm")
    var prev = objective(cents)
    for (i <- 1 to 3) {
      cents = step(cents)
      val cur = objective(cents)
      assert(cur >= prev - 1e-9, s"iteration $i decreased objective: $prev -> $cur")
      prev = cur
    }
    p.unpersist(blocking = false)
  }

  test("frame index covers every payload byte exactly once") {
    val framed = docs.select(col("doc_id"), length(col("text")).cast("long").as("n"),
        expr(MultimodalOps.frameIndexSpark("length(text)")).as("frames"))
      .select(col("doc_id"), col("n"), expr("inline(frames)"))
    val byDoc = framed.groupBy(col("doc_id"), col("n"))
      .agg(sum(col("len")).as("covered"), count(lit(1)).as("nf"),
        min(col("off")).as("first_off"))
      .collect()
    byDoc.foreach { r =>
      assert(r.getAs[Long]("covered") == r.getAs[Long]("n").toLong)
      assert(r.getAs[Long]("first_off") == 1L)
    }
  }

  test("frame index of an empty payload is empty, not phantom frames") {
    // sequence(0, -1) infers step -1 → [0, -1]; the slice guard must
    // cut that to zero frames (DuckDB's range(0,0) is already empty)
    import spark.implicits._
    val n = Seq("").toDF("text")
      .select(expr(s"size(${MultimodalOps.frameIndexSpark("length(text)")})"))
      .head.getInt(0)
    assert(n === 0)
  }

  test("cosine_sim NULL parity with the HOF: length mismatch returns NULL") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val row = df.select(
      expr("cosine_sim(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), " +
        "(acc, v) -> acc + v)").as("hof_dot")).head
    assert(row.isNullAt(0), "native must be NULL on mismatched lengths")
    assert(row.isNullAt(1), "HOF reference is NULL on mismatched lengths")
    // NON-NULLABLE inputs (array literals): the internal NULL must still
    // surface — with the BinaryExpression nullable default, codegen
    // consumers skipped the isNull check and read garbage (the r14
    // nullable-override regression class, found via int_l2sq)
    val lit = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D)) AS c").head
    assert(lit.isNullAt(0),
      "internal NULL lost through non-nullable literal inputs")
  }

  test("bloom screen: prunes the clean corpus tightly, misses no true positive") {
    // Recompose the q89 pieces to measure the SCREEN itself (the query
    // output only shows the post-verify rows). Three claims:
    //   soundness — screen set ⊇ exact-threshold set (no false negatives
    //     survive a bloom by construction; counting can only overcount);
    //   tightness — screen set ≈ exact set (the threshold makes a
    //     clean-doc leak need ~20 independent FPs, so slack stays ~0);
    //   pruning — the screen keeps a small fraction of the corpus, which
    //     is the whole point of running it before any shuffle.
    val T = 20
    val sh = DedupOps.shingled(corpus).cache()
    val isBench = col("doc_id") % 10 === 0 && col("doc_id") < DedupOps.NearCopyOffset
    val bench = sh.filter(isBench).select(explode(col("sh")).as("h")).distinct()
    val bloom = bench.agg(expr("bloom_build(h, 131072L, 0.0001d)"))
      .head.getAs[Array[Byte]](0)
    val screened = sh.filter(!isBench)
      .filter(size(filter(col("sh"),
        x => call_function("bloom_might_contain", lit(bloom), x))) >= T)
      .select(col("doc_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val exact = sh.filter(!isBench)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("h"))
      .join(bench, "h").groupBy("train_id").count()
      .filter(col("count") >= T)
      .select(col("train_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val trainDocs = sh.filter(!isBench).count()
    sh.unpersist()
    assert(exact.subsetOf(screened), s"screen lost ${exact.diff(screened)}")
    assert(screened.size <= exact.size + trainDocs / 100,
      s"screen too loose: ${screened.size} vs exact ${exact.size}")
    assert(screened.size <= trainDocs / 5,
      s"screen kept ${screened.size} of $trainDocs — not pruning")
    // the planted exact copies of benchmark docs are true positives
    // whenever the copied doc carries ≥ T shingles
    val expectedCopies = sh2ExpectedCopies(sh, T)
    assert(expectedCopies.subsetOf(exact))
  }

  test("incremental dedup classifies every planted copy correctly") {
    // q90 splits: new = doc_id % 7 == 3 or planted copies (>= 10000);
    // ref = everything else. A planted copy whose BASE doc also landed
    // in the new snapshot has nothing to match in ref — that is the
    // op's contract (intra-snapshot dups belong to the full-corpus
    // passes), so those ids are exempt below.
    val out = SparkEntry.queries("q90_incremental_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (i <- 0L until DedupOps.ExactCopyN if i % 7 != 3)
      assert(out(DedupOps.ExactCopyOffset + i) == "exact",
        s"exact copy of ref doc $i")
    for (i <- 0L until DedupOps.NearCopyN if i % 7 != 3)
      assert(out(DedupOps.NearCopyOffset + i) == "near",
        s"near copy of ref doc $i")
    // base 3 is in the new snapshot, so its exact copy finds no ref match
    assert(out(DedupOps.ExactCopyOffset + 3) != "exact")
  }

  test("shingle_rows generator: bit-identical to the array expression, safe on edges") {
    import spark.implicits._
    val viaGen = corpus.selectExpr("doc_id", "shingle_rows(text, 8)")
    val viaArr = corpus.selectExpr("doc_id", "explode(shingle_hashes(text, 8)) AS h")
    assert(viaGen.exceptAll(viaArr).count() == 0L)
    assert(viaArr.exceptAll(viaGen).count() == 0L)
    // short doc (< k tokens), empty doc, NULL doc → zero rows, no crash
    val edges = Seq((1L, "a b c"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "shingle_rows(text, 8)")
    assert(edges.count() == 0L)
    // misuse rejected at analysis time
    intercept[Exception] {
      corpus.selectExpr("shingle_rows(text, 0)").collect()
    }
    intercept[Exception] {
      corpus.selectExpr("shingle_rows(text, doc_id)").collect()
    }
    // OUTER generate pads shingle-less docs with NULL, not a phantom 0
    Seq((1L, "a b"), (2L, "w x y z a b c d e f g h")).toDF("doc_id", "text")
      .createOrReplaceTempView("sr_outer")
    val outer = spark.sql(
      "SELECT doc_id, h FROM sr_outer LATERAL VIEW OUTER shingle_rows(text, 8) g AS h")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(outer.exists { case (id, h) => id == 1L && h.isEmpty },
      "short doc must surface as NULL under OUTER, not h = 0")
    assert(outer.count(_._1 == 2L) == 5 && outer.filter(_._1 == 2L).forall(_._2.nonEmpty))
    spark.catalog.dropTempView("sr_outer")
  }

  test("span_gram_rows generator: bit-identical to the HOF spec, safe on edges") {
    import spark.implicits._
    val k = DedupOps.SpanN
    val viaGen = corpus.selectExpr("doc_id", s"span_gram_rows(text, $k)")
    // the SQL spec the DuckDB oracle mirrors: wide dual-mod token
    // hashes, unrolled polynomial gram combine, 1-based positions
    val viaHof = corpus
      .selectExpr("doc_id", s"${TextOps.tokensSpark("text")} AS toks")
      .where(s"size(toks) >= $k")
      .selectExpr("doc_id",
        s"transform(toks, t -> ${DedupOps.wideHashSpark("t", DedupOps.SpanP1)}) AS h1",
        s"transform(toks, t -> ${DedupOps.wideHashSpark("t", DedupOps.SpanP2)}) AS h2")
      .selectExpr("doc_id", s"""posexplode(transform(
        sequence(1, size(h1) - ${k - 1}),
        i -> named_struct(
          'g1', ${DedupOps.spanGramSpark("h1", "i", DedupOps.SpanP1)},
          'g2', ${DedupOps.spanGramSpark("h2", "i", DedupOps.SpanP2)})))""")
      .selectExpr("doc_id", "CAST(pos + 1 AS BIGINT) AS pos",
        "col.g1 AS g1", "col.g2 AS g2")
    assert(viaGen.exceptAll(viaHof).count() == 0L)
    assert(viaHof.exceptAll(viaGen).count() == 0L)
    // short (< k tokens), empty, NULL → zero rows, no crash
    val edges = Seq((1L, "a b c"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", s"span_gram_rows(text, $k)")
    assert(edges.count() == 0L)
    // misuse rejected at analysis time
    intercept[Exception] {
      corpus.selectExpr("span_gram_rows(text, 0)").collect()
    }
    intercept[Exception] {
      corpus.selectExpr("span_gram_rows(text, doc_id)").collect()
    }
  }

  /** Exact-copy ids (base+20000) of benchmark docs with ≥ T shingles. */
  private def sh2ExpectedCopies(sh: org.apache.spark.sql.DataFrame, T: Int): Set[Long] =
    sh.filter(col("doc_id") % 10 === 0 && col("doc_id") < DedupOps.ExactCopyN &&
        size(col("sh")) >= T)
      .select(col("doc_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet.map((i: Long) => i + DedupOps.ExactCopyOffset)

  // ---- exact-dup pre-collapse (VERDICT r6–r8 §wrong-2) -------------------
  // A ~500-copy exact-duplicate group: the pair JOIN must see O(distinct
  // vectors) (one delegate per distinct vector), while the emitted
  // pair/verdict sets stay exactly what the member-level join would give.
  private val CopyN = 500
  private lazy val copyCorpus = {
    val s0 = spark; import s0.implicits._
    val a = Array(1.0, 2.0, -3.0, 4.0)   // signs ++-+ → 4-bit bucket 11
    val b = Array(-1.0, 2.0, 3.0, 4.0)   // signs -+++ → bucket 14, cos(a,b)=1/3
    val c = a.map(_ * 0.5)               // scaled copy: same bucket, cos = 1
    val rows = Seq(0L -> a, 1L -> b, 2L -> c) ++
      (10L until (10L + CopyN - 1)).map(i => i -> a) // 499 more exact copies of a
    rows.toDF("vec_id", "v")
      .select(col("vec_id"), col("v"),
        expr(SimilarityOps.normSpark("v")).as("nrm"),
        expr(SimilarityOps.bucketSpark("v", 4)).as("bucket"))
  }

  test("near-dup collapse: pair-join input is O(distinct), not O(copies^2)") {
    // 502 corpus rows, 3 distinct vectors → exactly 3 delegates enter
    // the bucket join
    val g = SimilarityOps.collapseExact(copyCorpus, Seq("bucket"))
    assert(g.count() == 3L)
    val aGroup = g.filter(col("vec_id") === 0L).head()
    val members = aGroup.getSeq[Long](aGroup.fieldIndex("members")).toList
    assert(members.length == CopyN)
    assert(members == (0L +: (10L until (10L + CopyN - 1)).toList))
  }

  test("near-dup pairs after collapse equal the member-level pair set") {
    val found = SimilarityOps.bucketedNearDup(copyCorpus, 0.99)
      .select(col("id_a"), col("id_b"), col("cosine")).collect()
    // within the 500-copy group: C(500,2) pairs; cross to the scaled
    // copy (id 2): 500 more — output cardinality is the pair-list
    // contract's, but the join that produced it ran on 3 delegates
    val nWithin = CopyN.toLong * (CopyN - 1) / 2
    assert(found.length == nWithin + CopyN,
      s"expected ${nWithin + CopyN} pairs, got ${found.length}")
    val pairs = found.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)) && pairs.contains((2L, 10L)) &&
      pairs.contains((0L, 10L)) && pairs.contains((10L, 11L)))
    // every pair is ordered and none involves the dissimilar vector
    assert(found.forall(r => r.getLong(0) < r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L))
    // exact copies carry the self-cosine (1 ± ulp ≥ threshold)
    assert(found.forall(_.getAs[Double]("cosine") >= 0.99))
  }

  test("semantic dedup after collapse: one verdict per dropped member") {
    val assigned = copyCorpus.select(col("vec_id"), col("v"), col("nrm"))
      .withColumn("cid", lit(0L))
    val out = SimilarityOps.semanticDedup(assigned, 4, 0.99).collect()
    // qualifying union = {0, 2, 10..508}; every member except the
    // minimum (0) is dropped with dup_of = 0 and n_dups = its rank
    assert(out.length == CopyN, s"expected $CopyN verdicts, got ${out.length}")
    assert(out.forall(_.getAs[Long]("dup_of") == 0L))
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("n_dups")).toMap
    assert(!byId.contains(0L) && !byId.contains(1L))
    assert(byId(2L) == 1L)     // only id 0 below it
    assert(byId(10L) == 2L)    // ids 0 and 2 below it
    assert(byId(10L + CopyN - 2) == CopyN.toLong) // last copy: all others below
  }

  test("q165 NB classifier: planted on/off-distribution docs — full recall, zero false keeps") {
    // the supervised-filter contract: train on exemplar-source (src0)
    // positives vs everything else, then the score's SIGN must separate
    // planted on-distribution docs (exemplar vocabulary, foreign
    // source label) from off-distribution ones (disjoint vocabulary) —
    // recall 1.0 and false-keep 0, deterministic because the
    // vocabularies are disjoint and the log-odds are whole-bit integers
    import spark.implicits._
    val vocabA = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val vocabB = Seq("zork", "quux", "blarg", "fnord", "grue",
      "wumpus", "xyzzy", "plugh")
    def doc(words: Seq[String], seed: Int): String =
      (0 until 12).map(i => words((seed + i * 7) % words.length))
        .mkString(" ")
    val corpus = (
      (0 until 30).map(i => (i.toLong, "src0", doc(vocabA, i))) ++
      (0 until 40).map(i => ((100 + i).toLong, "src1", doc(vocabB, i))) ++
      (0 until 10).map(i => ((200 + i).toLong, "eval_on", doc(vocabA, i + 3))) ++
      (0 until 10).map(i => ((300 + i).toLong, "eval_off", doc(vocabB, i + 3)))
    ).toDF("doc_id", "source", "text")
    val c = new core.Materialize.Caches
    val scored = LlmEntry.nbScoresOn(corpus)(c)
    val rows = scored.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("score")))
    c.release()
    def kept(src: String) = rows.filter(_._2 == src).count(_._3 > 0)
    def total(src: String) = rows.count(_._2 == src)
    assert(total("eval_on") == 10 && kept("eval_on") == 10,
      s"on-distribution recall ${kept("eval_on")}/10")
    assert(kept("eval_off") == 0,
      s"off-distribution false keeps: ${kept("eval_off")}/10")
    // self-consistency: the training positives all classify positive,
    // the pure-background source all negative
    assert(kept("src0") == 30 && kept("src1") == 0)
    // the per-source report aggregates the same decisions
    val c2 = new core.Materialize.Caches
    val report = LlmEntry.nbClassifierPlanOn(corpus)(c2)
    val bySrc = report.collect().map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))).toMap
    c2.release()
    assert(bySrc("eval_on") == ((10L, 10L)) && bySrc("eval_off")._2 == 0L)
    assert(bySrc("src0") == ((30L, 30L)) && bySrc("src1")._2 == 0L)
  }
}
