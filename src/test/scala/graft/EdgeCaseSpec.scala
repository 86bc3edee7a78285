package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}

/** Degenerate-document hardening: empty text, single token, and
  * below-shingle-size docs must flow through every text/dedup operator
  * without crashing and with well-defined (engine-consistent) results.
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tiny = Seq(
    (0L, ""),                // empty text → split gives [""]
    (1L, "a"),               // single token, below shingle k
    (2L, "a b"),             // k-1 tokens
    (3L, "a b c"),           // exactly k tokens → one shingle
    (4L, "a b c"))           // duplicate of 3
    .toDF("doc_id", "text")

  test("signatures of sub-shingle docs are all-null, not a crash") {
    val sigs = DedupOps.signatures(tiny).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    // below k tokens → empty shingle set → null minhash entries
    Seq(0L, 1L, 2L).foreach { id =>
      assert(sigs(id).forall(_ == null), s"doc $id: ${sigs(id)}")
    }
    // exactly k tokens → real signature, equal for identical docs
    assert(sigs(3L).forall(_ != null))
    assert(sigs(3L) == sigs(4L))
  }

  test("LSH candidate pairs: only real-signature duplicates pair up") {
    val pairs = DedupOps.candidatePairs(DedupOps.lshBuckets(tiny))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 3 and 4 collide; null-signature docs don't pair (nulls are
    // grouped by groupBy but the band_key md5(concat_ws) of an all-null
    // slice is a constant — verify no spurious pair with docs 0-2)
    // null band keys never equi-join (NULL = NULL is not true), so
    // degenerate docs generate NO candidate pairs — the only pair is the
    // planted duplicate
    assert(pairs == Set((3L, 4L)), pairs.toString)
  }

  test("quality and token stats on degenerate docs are defined") {
    val base = TextOps.qualitySpark("text").foldLeft(tiny) {
      case (df, (n, e)) => df.withColumn(n, expr(e))
    }.withColumn("quality_score", expr(TextOps.qualityScoreExpr))
    val rows = base.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    // split("", " ") = [""] → n_tokens = 1 everywhere, ratios finite
    rows.values.foreach(q => assert(!q.isNaN && !q.isInfinite))
  }

  test("simhash of degenerate docs is defined and in range") {
    val sh = TextOps.simhashSpark(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh.values.foreach(v => assert(v >= 0 && v < (1L << TextOps.SimhashBits)))
    assert(sh(3L) == sh(4L))
  }

  test("native shingle_hashes equals the HOF formulation on the corpus") {
    val docs = graft.core.Tables.documents(spark, sf)
      .unionAll(tiny.withColumn("lang", lit("x")).withColumn("source", lit("x"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    val native = DedupOps.shingled(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val hof = docs
      .withColumn("hs", expr(DedupOps.tokenHashesSpark("text")))
      .select(col("doc_id"), expr(DedupOps.shingleHashesSpark("hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(native === hof)
  }

  test("non-BMP text: native, HOF, and code-point ground truth agree") {
    // 𝄞 (U+1D11E) and 😀 (U+1F600) are supplementary-plane: one code
    // point, two UTF-16 units. All three implementations must hash the
    // CODE POINT (a unit-based hash diverges from the DuckDB oracle).
    val P = 2147483647L
    def cpHash(tok: String): Long =
      tok.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 31 + cp) % P)
    // cross-engine anchor: DuckDB's split('')+ascii rolling hash of
    // "a𝄞b" evaluates to 3784485 (verified against duckdb directly)
    assert(cpHash("a𝄞b") === 3784485L)
    val toks = Seq("a𝄞b", "x😀", "y", "z")
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val th = toks.map(cpHash)
    val want = th.sliding(DedupOps.ShingleK).map(
      _.reduceLeft((a, b) => (a * 31 + b) % P)).toList
    val native = DedupOps.shingled(docs).head.getSeq[Long](1).toList
    val hof = docs.withColumn("hs", expr(DedupOps.tokenHashesSpark("text")))
      .select(expr(DedupOps.shingleHashesSpark("hs")))
      .head.getSeq[Long](0).toList
    assert(native === want && hof === want)
  }

  test("span_gram_rows on non-BMP text: native equals HOF spec at exactly k tokens") {
    // the span generator must hash code points like the shingle tier
    // (a UTF-16-unit hash would diverge from the DuckDB oracle); ten
    // tokens exactly → precisely ONE gram row from both formulations
    val k = DedupOps.SpanN
    val toks = Seq("a𝄞b", "x😀", "y", "z", "α", "帳", "q", "r", "s", "t")
    require(toks.size == k)
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val gen = docs.selectExpr("doc_id", s"span_gram_rows(text, $k)")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    def wide(tok: String, p: Long): Long =
      tok.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 31 + cp) % p)
    def gram(hs: Seq[Long], p: Long): Long =
      hs.reduceLeft((a, b) => (a * 31 + b) % p)
    val want = (1L,
      gram(toks.map(wide(_, DedupOps.SpanP1)), DedupOps.SpanP1),
      gram(toks.map(wide(_, DedupOps.SpanP2)), DedupOps.SpanP2))
    assert(gen.toList === List(want))
    // k-1 tokens → zero rows
    assert(Seq((2L, toks.drop(1).mkString(" "))).toDF("doc_id", "text")
      .selectExpr(s"span_gram_rows(text, $k)").count() === 0L)
  }

  test("banded interval join drops NULL points and inverted intervals, like the residual form") {
    // the equivalence contract on dirty data: a NULL point timestamp, a
    // NULL interval bound, and a lo > hi interval must all produce no
    // pairs in BOTH forms (BETWEEN is never true) — the banded form's
    // explode(sequence(..)) must not resurrect or multiply any of them
    import graft.operators.TrafficOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, Option(ts("2024-01-01 10:00:00")), 100L),
      (1L, None, 101L),                          // NULL point ts
      (2L, Option(ts("2024-01-01 10:00:00")), 102L)
    ).toDF("pk", "pts", "pid")
    val intervals = Seq(
      (1L, Option(ts("2024-01-01 09:00:00")),
        Option(ts("2024-01-01 11:00:00")), 200L),   // matches pid 100
      (1L, Option(ts("2024-01-01 12:00:00")),
        Option(ts("2024-01-01 09:30:00")), 201L),   // inverted: lo > hi
      (2L, None, Option(ts("2024-01-01 11:00:00")), 202L), // NULL lo
      (2L, Option(ts("2024-01-01 09:00:00")), None, 203L)  // NULL hi
    ).toDF("ik", "lo", "hi", "iid")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val residual = pairs(TrafficOps.intervalJoin(points, intervals,
      "pk", "ik", points("pts"), intervals("lo"), intervals("hi")))
    val banded = pairs(TrafficOps.intervalJoinBanded(points, intervals,
      "pk", "ik", points("pts"), intervals("lo"), intervals("hi"), 1800L))
    assert(residual === Seq((100L, 200L)))
    assert(banded === residual)
  }

  test("observe: pipeline metrics ride the action, no second scan") {
    // the 100-TB answer to "how many rows / how many nulls did this
    // write emit": Observation metrics aggregate inside the SAME job
    // instead of a second count() pass over the input
    val obs = new org.apache.spark.sql.Observation("quality")
    val docs = graft.core.Tables.documents(spark, sf)
    val out = docs
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_texts"),
        max(length(col("text"))).as("max_len"))
      .filter(col("n_chars") > 0)
    val kept = out.count() // one action drives both the filter and the metrics
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] >= kept && kept > 0)
    assert(m("null_texts").asInstanceOf[Long] === 0L)
    assert(m("max_len").asInstanceOf[Int] > 0)
  }

  test("mg_sketch round-trips unicode terms through serialize/merge") {
    // forced partials (repartition) exercise serialize/deserialize on
    // multi-byte UTF-8 terms; counts must survive exactly
    val df = (Seq.fill(40)("𝄞😀") ++ Seq.fill(25)("帳簿") ++ Seq.fill(5)("a"))
      .toDF("tok").repartition(6)
    val row = df.agg(expr("mg_sketch(tok, 8)")).head.getStruct(0)
    assert(row.getSeq[String](0).toList === List("𝄞😀", "帳簿", "a"))
    assert(row.getLong(1) === 0L) // vocab under capacity: exact
  }

  private lazy val tinyCorpus = Seq(
    (0L, "src0", ""),              // probe with EMPTY text → no query terms
    (1L, "src0", "x"),             // single-token probe → unigram only
    (2L, "src0", "x y common"),    // multi-term probe
    (10L, "src1", "x y common w"), // shares terms with probe 2
    (11L, "src1", "common"),       // shares one term
    (12L, "src2", "zz qq"),        // shares nothing
    (13L, "src2", ""))             // empty non-probe doc
    .toDF("doc_id", "source", "text")

  test("bm25 on degenerate docs: empty probes vanish, self excluded, scores finite") {
    val c = new core.Materialize.Caches
    val df = LlmEntry.bm25PlanOn(tinyCorpus)(c)
    val rows = df.collect()
    c.release()
    // doc 0 ("" → split gives [""], filtered) has no terms → no query;
    // doc 13 likewise never appears as a result
    val qids = rows.map(_.getAs[Long]("query_id")).toSet
    assert(!qids.contains(0L), s"empty probe produced a query: $qids")
    rows.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("doc_id"),
        s"self-match leaked: $r")
      val sc = r.getAs[Double]("score")
      assert(!sc.isNaN && !sc.isInfinite, s"non-finite score: $r")
      assert(r.getAs[Long]("doc_id") != 13L, "termless doc scored")
    }
    // probe 2 shares {x, y, common} with doc 10 — it must be retrieved
    assert(rows.exists(r => r.getAs[Long]("query_id") == 2L &&
      r.getAs[Long]("doc_id") == 10L), rows.mkString("\n"))
  }

  test("editPairs: empty input, identical-only names, and the empty string") {
    import graft.operators.DedupOps
    // empty relation → empty result, no job failure
    val none = Seq.empty[(Long, String)].toDF("id", "nm")
    assert(DedupOps.editPairs(none, "id", "nm").collect().isEmpty)
    // a name duplicated many times is lev-0, exact-dedup's job — NO pair
    val dup = Seq((1L, "abc"), (2L, "abc"), (3L, "abc")).toDF("id", "nm")
    assert(DedupOps.editPairs(dup, "id", "nm").collect().isEmpty)
    // "" pairs with every single-char name (one insertion), with min ids
    val mixed = Seq((5L, ""), (6L, "a"), (7L, "a"), (8L, "xy")).toDF("id", "nm")
    val got = DedupOps.editPairs(mixed, "id", "nm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(got == Set((5L, "", 6L, "a")), got.toString)
  }

  test("integerPageRank: empty graph is empty; a self-loop is the exact fixed point") {
    import graft.operators.GraphOps
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.integerPageRank(none, 3, 1000000L).collect().isEmpty)
    // single node with a self-loop: deg 1, pr' = 0.15·scale + 0.85·pr —
    // pr₀ = scale IS the fixed point, so every horizon returns scale
    // exactly (integer arithmetic included: 150000 + 850000 = 1000000)
    val loop = Seq((7L, 7L)).toDF("src", "dst")
    val got = GraphOps.integerPageRank(loop, 3, 1000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 1000000L)), got.toString)
  }

  test("pmi bigrams: sub-bigram docs contribute nothing; empty corpus is empty") {
    // docs with < 2 tokens have no adjacent pair — they must not reach
    // the bigram table (sequence(1, 0) would run DESCENDING); an empty
    // corpus must produce an empty result, not a crash on the broadcast
    // scalar N (sum over zero rows = NULL riding through bits())
    val docs = Seq((0L, ""), (1L, "solo"), (2L, "x y"), (3L, "x y"))
      .toDF("doc_id", "text")
    val c = new core.Materialize.Caches
    val df = LlmEntry.pmiPlanOn(docs)(c)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5)))
    c.release()
    // the only bigram with support ≥ 2 is (x, y): c_ab=2, N=2,
    // c_a=c_b=2 → pmi = bits(2)+bits(2)−bits(2)−bits(2) = 0
    assert(rows.toList === List(("x", "y", 2L, 0L)), rows.mkString(","))
    val c2 = new core.Materialize.Caches
    val empty = LlmEntry.pmiPlanOn(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))(c2)
    val n = empty.collect().length
    c2.release()
    assert(n === 0)
  }

  test("bigram LM: sub-bigram docs vanish; deterministic corpus scores zero bits") {
    // the q132 contracts a degenerate corpus pins: (a) docs with < 2
    // tokens have no transition and must not reach the report (the
    // size >= 2 guard — sequence(1, 0) would run DESCENDING); (b) in a
    // fully deterministic corpus every transition is its context's only
    // continuation, so with V = 1 the smoothed surprisal is exactly
    // bits((c_a + 1) DIV (c_ab + 1)) = bits(1) = 0 — nothing flags;
    // (c) an empty corpus yields an empty report, not a crash on the
    // broadcast V scalar
    val docs = Seq((0L, "en", ""), (1L, "en", "solo"),
      (2L, "en", "x y"), (3L, "en", "x y"))
      .toDF("doc_id", "lang", "text")
    val c = new core.Materialize.Caches
    val df = LlmEntry.bigramLmPlanOn(docs)(c)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    c.release()
    assert(rows.toList === List(("en", 2L, 0L, 0L, 2L)), rows.mkString(","))
    val c2 = new core.Materialize.Caches
    val empty = LlmEntry.bigramLmPlanOn(
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"))(c2)
    val n = empty.collect().length
    c2.release()
    assert(n === 0)
  }

  test("semantic decontam: zero vectors never flag; planted probes recall exactly") {
    // a zero vector has n2 = 0 and dot = 0 → dot > 0 excludes it from
    // both sides with no division anywhere (the all-integer hit test's
    // no-NaN guarantee); a duplicated non-probe vector must flag through
    // the probe of its twin
    val dim = 4
    def vec(xs: Double*) = xs.toArray.map(_.toFloat)
    val embs = Seq(
      (0L, vec(0.4, -0.2, 0.1, 0.3)),   // probe base (vec_id < DecontamEvalN)
      (1L, vec(0.0, 0.0, 0.0, 0.0)),    // zero vector, also a probe base
      (30L, vec(0.4, -0.2, 0.1, 0.3)),  // duplicate of 0 → flagged via probe 0
      (40L, vec(-0.4, 0.2, -0.1, -0.3)) // antipode of 0 → dot < 0, never flags
    ).toDF("vec_id", "embedding")
    val got = LlmEntry.decontamPlanOn(embs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0 and 30 match probe 0's half-scaled copy; the zero vector (and its
    // own zero probe) and the antipode never appear
    assert(got === Map(0L -> 1L, 30L -> 1L), got.toString)
  }

  test("cms: one-sided bound holds on a tiny corpus; empty corpus answers 0") {
    // present probes must satisfy est ≥ true (enforced in-plan — a
    // violation would RAISE); absent probes answer pure overcount ≥ 0;
    // an empty corpus answers est = true = 0 for every probe
    val docs = Seq((0L, "s0", "the the a"), (1L, "s1", "the join"))
      .toDF("doc_id", "source", "text")
    val rows = LlmEntry.cmsPlanOn(spark, docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows("the") ._1 === 3L && rows("the")._2 >= 3L)
    assert(rows("a")._1 === 1L && rows("a")._2 >= 1L)
    assert(rows("join")._1 === 1L)
    rows.values.foreach { case (t, e, over) =>
      assert(e >= t && over === e - t && over >= 0L)
    }
    // absent tokens are present in the report with true_cnt = 0
    assert(rows.contains("window") && rows("window")._1 === 0L)
    val empty = LlmEntry.cmsPlanOn(spark,
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(empty === Set((0L, 0L)))
  }

  test("source overlap: disjoint sources emit no pair, identical sources hit jaccard 1") {
    // sub-shingle docs contribute no shingles (they must not crash the
    // generator); two sources with the SAME shingle sets land jaccard
    // exactly 1.0; fully disjoint pairs are ABSENT (inner join), not 0
    val docs = Seq(
      (0L, "sa", "a b c d"),   // shingles {abc, bcd}
      (1L, "sb", "a b c d"),   // identical set → jaccard(sa, sb) = 1
      (2L, "sc", "x y z w"),   // disjoint from sa/sb
      (3L, "sc", "q"),         // sub-shingle: contributes nothing
      (4L, "sd", ""))          // empty text, source has NO shingles at all
      .toDF("doc_id", "source", "text")
    val c = new core.Materialize.Caches
    val df = LlmEntry.overlapPlanOn(docs)(c)
    val rows = df.collect().map(r => ((r.getString(0), r.getString(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    c.release()
    assert(rows.keySet === Set(("sa", "sb")), rows.keySet.toString)
    assert(rows(("sa", "sb")) === ((2L, 2L, 2L, 1.0)), rows.toString)
  }

  test("pq adc: a corpus without the codebook vectors yields empty, not a crash") {
    // the deterministic codebook comes from corpus vectors
    // IvfCentroidLo..Hi; a corpus that lacks them (degenerate snapshot)
    // must produce zero codes → zero retrievals — never a null/div
    // failure. Exercised through the REAL query entry on a scratch dir.
    import spark.implicits._
    val dir = tempDir("graft_pq").toString
    val vecs = (0L until 5L).map(i =>
      (i, Array.fill(64)(((i * 7 + 3) % 10).toFloat / 10f), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q119_pq_adc")(spark, dir)
    assert(out.collect().isEmpty)
  }

  test("dsir on degenerate docs: weights defined; empty target degrades, not crashes") {
    val c = new core.Materialize.Caches
    val df = LlmEntry.dsirPlanOn(tinyCorpus)(c)
    val rows = df.collect()
    c.release()
    // only non-target docs with ≥1 feature are ranked (13 is termless:
    // "" still hashes as the [""] unigram, so it DOES carry one feature)
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(10L, 11L, 12L, 13L), ids.toString)
    rows.foreach(r => assert(r.getAs[Long]("n_feats") >= 1L, r.toString))
    // NO ordering assertion here deliberately: at this corpus size the
    // ±1-bit llr quantization dominates the ratio signal (hand-checked:
    // doc 10's 7 features land at −4 vs doc 12's 3 at −3), so
    // target-likeness ordering is only meaningful at corpus scale —
    // that is what the sf0.01 DuckDB oracle pins bit-exactly
    // a target source with NO documents must not NPE: every c_t
    // smooths to 1 and every doc ranks
    val noTarget = tinyCorpus.filter(col("source") =!= "src0")
    val c2 = new core.Materialize.Caches
    val df2 = LlmEntry.dsirPlanOn(noTarget)(c2)
    val n2 = df2.collect().length
    c2.release()
    assert(n2 == 4, s"expected all 4 non-target docs ranked, got $n2")
  }

  test("decorrelated subqueries over an EMPTY inner table keep their semantics") {
    // the decorrelation rewrites must preserve empty-input semantics:
    // EXISTS → no rows, NOT EXISTS → all rows, scalar max → NULL,
    // scalar COUNT → 0 (the outer-join rewrite's coalesce — the
    // classic bug is NULL here), LEFT lateral → NULL-extended rows.
    // The oracle fixture always has orders; this pins the empty side.
    import spark.implicits._
    Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
      .createOrReplaceTempView("graft_edge_cust")
    spark.emptyDataset[(Long, Double)].toDF("o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_edge_ord")
    assert(spark.sql(
      """SELECT c_custkey FROM graft_edge_cust c WHERE EXISTS
        |  (SELECT 1 FROM graft_edge_ord o WHERE o.o_custkey = c.c_custkey)"""
        .stripMargin).count() == 0)
    assert(spark.sql(
      """SELECT c_custkey FROM graft_edge_cust c WHERE NOT EXISTS
        |  (SELECT 1 FROM graft_edge_ord o WHERE o.o_custkey = c.c_custkey)"""
        .stripMargin).count() == 2)
    val scalar = spark.sql(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM graft_edge_ord o
        |   WHERE o.o_custkey = c.c_custkey) AS mx,
        |  (SELECT count(*) FROM graft_edge_ord o
        |   WHERE o.o_custkey = c.c_custkey) AS n
        |FROM graft_edge_cust c""".stripMargin).collect()
    scalar.foreach { r =>
      assert(r.isNullAt(1), s"empty-match max must be NULL: $r")
      assert(r.getLong(2) == 0L, s"empty-match COUNT must be 0, not NULL: $r")
    }
    val lat = spark.sql(
      """SELECT c.c_custkey, t.n FROM graft_edge_cust c
        |LEFT JOIN LATERAL (
        |  SELECT count(*) AS n FROM graft_edge_ord o
        |  WHERE o.o_custkey = c.c_custkey) t ON true""".stripMargin).collect()
    assert(lat.length == 2 && lat.forall(_.getLong(1) == 0L),
      lat.mkString(","))
  }

  test("recursive CTE: empty anchor yields empty immediately, never iterates") {
    // T48's degenerate contract: WITH RECURSIVE over an empty anchor
    // must terminate with zero rows on the first frontier check — a
    // hang or an error here would be an engine-integration bug the
    // oracle row (non-empty fixture) cannot see
    spark.range(0).selectExpr("id AS s_suppkey")
      .createOrReplaceTempView("graft_edge_supplier")
    val out = spark.sql(
      """WITH RECURSIVE chain(k, anc, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM graft_edge_supplier
        |  UNION ALL
        |  SELECT k, anc DIV 10, depth + 1 FROM chain WHERE anc > 0)
        |SELECT k, max(depth) AS d FROM chain GROUP BY k""".stripMargin)
    assert(out.collect().isEmpty)
  }

  test("T37 histogram percentiles: order-stat bound holds, sparse gaps don't throw") {
    // ADVICE r13: the old in-plan assert compared the estimate against
    // the INTERPOLATED percentile with a 2-width bound that sparse
    // histograms legitimately violate (interpolation reaches toward
    // x₍ᵣ₊₁₎ across empty buckets) — the query then threw on honest
    // data. The bound the construction actually guarantees is against
    // the FLOOR ORDER STATISTIC at the integer target rank
    // r = ⌈n·p/100⌉: est − x₍ᵣ₎ ∈ (0, W] (void above when the top
    // bucket saturates). Checked on the advisor's adversarial fixture —
    // 90 values at 1, 10 at 500 — which the old assert rejected.
    val epoch = 1704067200L
    val vals = Seq.fill(90)(1.0) ++ Seq.fill(10)(500.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      ("sparse", epoch + i * 3600L, v) }
      .toDF("event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val r = RelEntry.histogramPercentilesOn(ev).collect()
    assert(r.length == 1, "sparse-histogram fixture must not throw in-plan")
    val row = r.head
    val sorted = vals.sorted
    val n = vals.size
    for ((p, estIdx) <- Seq((50, 3), (90, 4), (99, 5))) {
      val est = row.getDouble(estIdx)
      val rank = (n * p + 99) / 100 // ⌈n·p/100⌉
      val xr = sorted(rank - 1)
      if (est < RelEntry.HistB * RelEntry.HistW) {
        assert(est - xr > 0 && est - xr <= RelEntry.HistW,
          s"p$p: est $est vs order-stat $xr breaks the (0, W] bound")
      } else assert(xr >= (RelEntry.HistB - 1) * RelEntry.HistW,
        s"p$p: saturated estimate but order-stat $xr below the top bucket")
    }
    // p90 specifically: the old interpolated-percentile assert fired
    // here (est 4 vs interpolated ≈ 50.9) — pin the corrected behavior
    assert(row.getDouble(4) == 4.0, s"p90_est ${row.getDouble(4)}")
    assert(row.getDouble(7) > 2 * RelEntry.HistW + 4.0,
      "fixture no longer adversarial: interpolated p90 within old bound")
  }

  test("T41 sufficient statistics survive 64-bit-overflowing partials") {
    // VERDICT r13: the Σx²/Σxy PARTIALS must accumulate in
    // DECIMAL(38,0), not BIGINT — a years-long epoch span (x ~ 1e8 s)
    // overflows a Long partial at modest row counts, where non-ANSI
    // Spark wraps silently and DuckDB widens, so the engines diverge
    // exactly where the operator's headroom claim lives. Fixture: 1200
    // rows per group with x up to 2.4e8 ⇒ Σx² ≈ 2.3e19 > Long.MaxValue.
    // Every reported statistic, the slope, the intercept, and the
    // correlation must equal the in-memory BigInt computation exactly
    // (one correctly-rounded double each — the same op sequence).
    val epoch = 1704067200L // 2024-01-01 00:00:00 UTC
    val rows = for (g <- Seq("a", "b"); k <- 0 until 1200) yield {
      val x = k.toLong * 200000L
      val cents = (k % 997).toLong * 100L + 25L + (if (g == "a") 7L else 0L)
      (g, epoch + x, cents / 100.0)
    }
    val ev = rows.toDF("event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    def stats(g: String) = {
      val rs = rows.filter(_._1 == g).map { case (_, s, v) =>
        (BigInt(s - epoch), BigInt(math.round(v * 100))) }
      (BigInt(rs.size), rs.map(_._1).sum, rs.map(_._2).sum,
        rs.map(r => r._1 * r._2).sum, rs.map(r => r._1 * r._1).sum,
        rs.map(r => r._2 * r._2).sum)
    }
    // the fixture genuinely exercises the overflow
    assert(stats("a")._5 > BigInt(Long.MaxValue),
      s"fixture too small to overflow a Long partial: ${stats("a")._5}")
    val reg = RelEntry.groupedRegressionOn(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    val cor = RelEntry.groupedCorrOn(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    for (g <- Seq("a", "b")) {
      val (n, sx, sy, sxy, sxx, syy) = stats(g)
      val r = reg(g)
      assert(r.getLong(1) == n.toLong)
      assert(r.getDouble(2) == sx.toDouble && r.getDouble(3) == sy.toDouble)
      assert(r.getDouble(4) == sxy.toDouble && r.getDouble(5) == sxx.toDouble)
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val slope = num.toDouble / den.toDouble
      assert(r.getDouble(6) == slope,
        s"$g: slope ${r.getDouble(6)} != exact-BigInt $slope")
      assert(r.getDouble(7) ==
        (sy.toDouble - slope * sx.toDouble) / n.toDouble)
      val c = cor(g)
      assert(c.getDouble(2) == syy.toDouble)
      val corrExp = num.toDouble /
        (math.sqrt(den.toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
      assert(c.getDouble(3) == corrExp,
        s"$g: corr ${c.getDouble(3)} != exact-BigInt $corrExp")
    }
  }

  test("overflow tiers: strict throws (ANSI default), try_* NULLs, T41's DECIMAL never hits either") {
    // the engine's three answers to 64-bit overflow, pinned together:
    // (1) this session runs Spark 4's ANSI default, so PLAIN Long
    // arithmetic — scalar and SUM alike — THROWS on overflow (no
    // silent wrap anywhere in the engine); (2) the try_* family is the
    // per-expression escape hatch that degrades the same overflow to
    // NULL (and try_divide absorbs div-by-zero); (3) q134/q135 need
    // neither, because T41 fixes overflow STRUCTURALLY — partials cast
    // to DECIMAL(38,0) BEFORE the sum, so the stats stay exact where
    // try_sum would return NULL and strict would kill the job.
    import spark.implicits._
    val df = Seq((Long.MaxValue, 2L, 0L)).toDF("big", "two", "zero")
    intercept[ArithmeticException] {
      df.select(expr("big + 1L")).collect()
    }
    val r = df.select(
      expr("try_add(big, 1L)").as("t_add"),
      expr("try_multiply(big, two)").as("t_mul"),
      expr("try_divide(two, zero)").as("t_div"),
      expr("try_add(two, 1L)").as("ok")).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getLong(3) == 3L)
    val over = Seq(Long.MaxValue, Long.MaxValue).toDF("x")
    intercept[ArithmeticException] {
      over.select(expr("sum(x)")).collect()
    }
    assert(over.select(expr("try_sum(x)")).head.isNullAt(0),
      "try_sum did not NULL on overflow")
    // the T41 tier: the same sum is EXACT through DECIMAL(38,0)
    val exact = over.select(
      expr("sum(CAST(x AS DECIMAL(38,0)))").as("s")).head.getDecimal(0)
    assert(exact.toBigInteger ==
      java.math.BigInteger.valueOf(Long.MaxValue).multiply(
        java.math.BigInteger.TWO))
  }

  test("recursive CTE cannot aggregate over the recursive reference (q109's reason to stay a driver loop)") {
    // SCALING §8p: the categorical answer to "rewrite q109's PageRank
    // on q147's recursion" — Spark 4.1's UnionLoop rejects aggregates
    // (and outer-join keep-alives) over the recursive reference, which
    // is exactly the frontier-MERGE shape PageRank's per-round SUM
    // needs. If a future Spark lifts this, this test fails and the
    // driver-loop-vs-engine-recursion measurement reopens.
    spark.range(2).selectExpr("id AS src", "id + 1 AS dst")
      .createOrReplaceTempView("ec_rec_edges")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """WITH RECURSIVE pr(id, v, it) AS (
          |  SELECT src AS id, CAST(1 AS BIGINT) AS v, 0 AS it
          |  FROM ec_rec_edges
          |  UNION ALL
          |  SELECT s.nid, s.s, s.it + 1
          |  FROM (SELECT e.dst AS nid, sum(p.v) AS s, max(p.it) AS it
          |        FROM pr p JOIN ec_rec_edges e ON p.id = e.src
          |        WHERE p.it < 3 GROUP BY e.dst) s)
          |SELECT * FROM pr""".stripMargin).collect()
    }
    assert(e.getCondition != null &&
      e.getCondition.startsWith("INVALID_RECURSIVE_REFERENCE"),
      s"expected INVALID_RECURSIVE_REFERENCE, got ${e.getCondition}: ${e.getMessage.take(200)}")
  }

  test("variant: try_* degrade to NULL where strict errors; JSON null != absent") {
    // L67 (q150) contract. Malformed input: try_parse_json degrades to
    // NULL, parse_json raises — the screen-vs-trust pair.
    val bad = Seq("{\"a\": 1", "not json at all").toDF("s")
    assert(bad.select(expr("try_parse_json(s)").as("v"))
      .filter(col("v").isNull).count() == 2L)
    intercept[Exception] {
      bad.select(expr("parse_json(s)")).collect()
    }
    // type mismatch at a present path: try_variant_get NULL, strict errors
    val doc = Seq("""{"a": "xyz", "b": null, "i": 7}""").toDF("s")
      .select(expr("parse_json(s)").as("v"))
    assert(doc.select(expr("try_variant_get(v, '$.a', 'bigint')").as("x"))
      .head.isNullAt(0))
    intercept[Exception] {
      doc.select(expr("variant_get(v, '$.a', 'bigint')")).collect()
    }
    // a present, well-typed path extracts under both forms
    assert(doc.select(expr("variant_get(v, '$.i', 'bigint')").as("x"))
      .head.getLong(0) == 7L)
    // absent path: plain NULL even under STRICT variant_get (absence is
    // not an error), and is_variant_null distinguishes JSON null (a
    // present null VALUE) from absence (no variant at all)
    val r = doc.select(
      expr("variant_get(v, '$.zz', 'bigint')").as("absent"),
      expr("is_variant_null(variant_get(v, '$.b'))").as("b_is_jnull"),
      expr("is_variant_null(variant_get(v, '$.zz'))").as("zz_is_jnull"))
      .head
    assert(r.isNullAt(0) && r.getBoolean(1) && !r.getBoolean(2))
  }

  test("unpivot: API retains NULL cells, SQL drops them, round trip is identity") {
    // T51 (q149) contract. A sparse wide matrix — NULL marks absent
    // cells, and a genuine 0 value must NOT be confused with absent.
    val wide = Seq(
      (1L, Some(3L), None,       Some(0L)),
      (2L, None,     Some(5L),   None),
      (3L, None,     None,       None))     // all-NULL row
      .toDF("user_id", "click", "error", "purchase")
    val ids = Array(col("user_id"))
    val vals = Array(col("click"), col("error"), col("purchase"))
    val api = wide.unpivot(ids, vals, "event_type", "n")
    // Dataset.unpivot/melt RETAINS NULL cells: dense |rows|×|values|
    assert(api.count() == 9L)
    wide.createOrReplaceTempView("ec_unpivot_wide")
    val sql = spark.sql(
      """SELECT user_id, event_type, n FROM ec_unpivot_wide
        |UNPIVOT (n FOR event_type IN (click, error, purchase))"""
        .stripMargin)
    // SQL UNPIVOT defaults to EXCLUDE NULLS: only observed cells — and
    // the 0-valued cell survives (0 is a value, not absence)
    val sqlRows = sql.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(sqlRows == Set((1L, "click", 3L), (1L, "purchase", 0L),
      (2L, "error", 5L)))
    // SQL ≡ API + IS NOT NULL filter (the entire semantic difference)
    assert(api.filter(col("n").isNotNull).except(sql).isEmpty &&
      sql.except(api.filter(col("n").isNotNull)).isEmpty)
    // round trip: re-pivoting the API long form reproduces the wide
    // matrix exactly, NULLs included (first() over the singleton cell)
    val back = api.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase"))
      .agg(first(col("n")))
    assert(back.except(wide).isEmpty && wide.except(back).isEmpty)
    // scale shape: the transpose is a narrow per-row Expand — it adds
    // ZERO exchanges over its input plan
    val plan = api.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Exchange"), plan)
  }
}
