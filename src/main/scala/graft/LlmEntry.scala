package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{DedupOps, MultimodalOps, SetJoinOps, ShardedWindows, SimilarityOps, TextOps}

/** LLM-training-data-pipeline queries (q27+) over the `documents` and
  * `embeddings` tables: text analysis, dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), similarity search (brute-force and
  * LSH-bucketed cosine), and multimodal binary columns. Merged into
  * [[SparkEntry]]'s driver contract.
  *
  * The dedup and embedding near-dup queries run over a corpus with
  * PLANTED duplicates (exact copies and first-token-dropped /
  * scaled-vector near copies, built identically in the oracle SQL) so the
  * checks exercise real recall instead of comparing empty results.
  */
object LlmEntry {
  import TextOps._

  private val JaccardThreshold = 0.6
  /** q170 exact-join threshold as a rational (= [[JaccardThreshold]]) so
    * the keep test is a pure integer compare in both engines. */
  private val SetSimTNum = 3L
  private val SetSimTDen = 5L
  private val TopK = 10
  private val LshK = 5
  private val ProbeN = 10         // probe set: vec_id < ProbeN
  private val NearDupVecN = 100   // planted scaled copies: vec_id < N at +offset
  private val NearDupVecOffset = 10000L
  private val CosineDupThreshold = 0.99
  private val IvfNprobe = 3       // IVF lists probed per query
  private val QuantScale = 1000000L // k-means coordinate quantization
  // mixture keep-rates as 3-hex-digit md5-prefix thresholds (of 0x1000):
  // src0 50%, src1 75%, src2 12.5%, everything else 25%
  private val MixRates = Seq("src0" -> "800", "src1" -> "c00", "src2" -> "200")
  private val MixDefaultHexHi = "400"
  private val PackCapacity = 256L // sequence-packing bin size (tokens)
  private val PackShardSpan = 4096L // q83 minimum shard span (id range)
  private val MaxPackShards = 1024L // q83 cap on shards per language
  private val QualityShards = 64  // q98 running-sum shards per language
  private val HhSketchCap = 4096  // q100 Misra-Gries capacity (err ≤ n/4097)
  // q101 flag threshold: mean surprisal > 65/16 = 4.0625 bits/token,
  // compared as bits·16 > 65·n_toks — pure BIGINT, no float boundary
  private val SurprisalFlagNum = 65L
  private val SurprisalFlagDen = 16L
  private val MixTargetDocs = 1000L // q102 total target corpus size (docs)
  private val HashDim = 16L       // q103 feature-hash embedding dimensions
  private val TfidfK = 3          // TF-IDF terms kept per document
  private val Bm25ProbeN = 3L     // q106 probe docs → "more-like-this" queries
  /** q173 RRF fusion: standard k=60, contribution scaled to integer
    * points (1e6 DIV (k + rank)) so the fused score is a pure BIGINT —
    * the ranks are integers, so nothing about fusion needs a float. */
  private val RrfK = 60L
  private val RrfScale = 1000000L
  private val FusedK = 10L
  private val Bm25TopK = 5        // q106 results kept per query
  private val DsirBuckets = 1024L // q107 hashed n-gram feature space
  private val DsirTopK = 20       // q107 selected docs reported
  private val DsirTarget = "src0" // q107 target-distribution exemplar source
  private val PostingsK = 8       // q110 impact-ordered postings kept per term
  private val CapPerSource = 10L  // q113 per-source (domain) document cap
  private val PmiMinCount = 2L    // q114 minimum bigram support
  private val PmiTopK = 30        // q114 collocations reported
  private val DecontamQuant = 1000L // q115 integer grid step (overflow budget
                                  //   in the q115 comment caps it at ~1e3)
  private val DecontamTauNum = 19L // q115 cosine threshold τ = 19/20 = 0.95,
  private val DecontamTauDen = 20L //   kept rational: the hit test squares it
  private val DecontamEvalN = 20L // q115 planted eval probes: vec_id < N
  private val DecontamEvalOffset = 20000L
  private val CmsWidth = 256L     // q117 count-min width (over ≤ εN, ε≈e/W)
  private val CmsA = Seq(31L, 131L, 313L, 821L) // q117 row-hash multipliers
  private val CmsB = Seq(7L, 101L, 271L, 631L)  // q117 row-hash offsets
  private val PipeCapPerSource = 20L // q121 per-source cap (pipeline stage 1)
  private val PqM = 8             // q119 subquantizers (64 dims / 8)
  private val PqSub = 8           // q119 dims per subvector
  private val PqK = 32            // q119 codes per subquantizer (5 bits)
  private val PqCentLo = 100L     // q119 codebook = corpus vecs [lo, lo+K)
  private val PqQuant = 1000000L  // q119 integer grid (diff² ≤ ~1.2e12, ×8 ≤ 1e13)
  private val RerankR = 40        // q125 ADC over-fetch before exact re-rank (8·LshK)
  private val DriftSplitId = 250L // q128 snapshot seam: doc_id < 250 = "last
                                  //   crawl" A, rest + planted copies = B
  private val DriftTopK = 40      // q128 drifted tokens reported
  private val RpDims = 16         // q127 projected dimensions (64 → 16, 4×)
  private val RpMod = 2147483647L // q127 sign-hash modulus
  private val RpBit = 4096L       // q127 sign = bit 12 of the cubic mix
  /** q127 sign hash: sign(i, k) ∈ {−1, +1} as bit 12 of
    * ((i·D' + k + 7)³ mod p) — the cubic is NONLINEAR in i, so signs
    * decorrelate across dimensions (a linear LCG mix leaves
    * E[s_ik·s_jk] ≠ 0 and the cross terms bias ‖Pz‖² to ~0.4 of its
    * JL expectation — measured before this hash replaced it; the cubic
    * measures median distortion 0.96, balance 0, ranking in the
    * random-matrix band). All non-negative BIGINT (base ≤ i·D'+k+7,
    * cubed ≈ 1.1e9 here; overflow headroom to base ≈ 2·10⁶, i.e.
    * ~10⁵ input dims at D'=16), so % and floor division agree across
    * engines. `i`/`k` must already be BIGINT expressions.
    */
  private def rpSign(i: String, k: String, fdiv: String) = {
    val a = s"(($i) * $RpDims + ($k) + 7)"
    s"(1 - 2 * (((($a * $a * $a) % $RpMod) $fdiv $RpBit) % 2))"
  }
  /** q127 sign, evaluated at PLAN TIME: the matrix is a compile-time
    * constant, so the Spark side UNROLLS p[k] = Σ ±q[i] into flat
    * BIGINT adds (whole-stage-codegen'd) instead of nested HOF lambdas
    * (interpreted per element — measured 8× slower at sf0.1). The
    * formula is verbatim [[rpSign]], so the Duck mirror — which keeps
    * the SQL form — computes identical signs.
    */
  private def rpSignScala(i: Int, k: Int): Long = {
    val a = i.toLong * RpDims + k + 7
    1L - 2L * (((a * a * a % RpMod) / RpBit) % 2L)
  }
  /** q127 projection of grid vector `q`: p[k] = Σ_i sign(i,k)·q[i+1]. */
  private def rpProjSpark: Column = array((0 until RpDims).map { k =>
    (0 until PqM * PqSub).map { i =>
      val e = element_at(col("q"), i + 1)
      if (rpSignScala(i, k) > 0) e else negate(e)
    }.reduce(_ + _)
  }: _*)
  private def rpProjDuck = s"list_transform(range(0, $RpDims), " +
    s"k -> list_reduce(list_prepend(0::BIGINT, " +
    s"list_transform(range(0, ${PqM * PqSub}), " +
    s"i -> q[i + 1] * ${rpSign("i", "k", "//")})), (acc, x) -> acc + x))"
  /** q117 probe watchlist: the stopword + language-marker lexicons —
    * deterministic, includes tokens absent from the corpus (a CMS
    * answers those with its overcount, the behavior worth pinning).
    */
  private def cmsProbes: Seq[String] =
    (TextOps.Stopwords ++ TextOps.LangMarkers.flatMap(_._2)).distinct
  /** Whole bits of a positive BIGINT: length(bin(x)) = floor(log2 x)+1 —
    * the q101/q106/q107 integer-log family, shared by q114/q116.
    */
  private def bitsSpark(x: String) = s"CAST(length(bin($x)) AS BIGINT)"
  private def bitsDuck(x: String)  = s"CAST(length(format('{:b}', $x)) AS BIGINT)"

  // ---- shared PQ machinery (q119 exhaustive ADC, q120 IVFADC) ----------
  /** Integer squared L2 between BIGINT-array columns — the native
    * codegen'd [[graft.functions.IntL2Sq]] (r14; the HOF
    * `aggregate(zip_with(...))` form it replaces evaluated interpreted
    * per element — bit-identical results, LlmOpsSpec-asserted).
    */
  private def pqD2Spark(s: String, cs: String) = expr(s"int_l2sq($s, $cs)")
  private def pqD2Duck(s: String, cs: String) =
    s"""list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, ${PqSub + 1}),
       |        i -> ($s[i] - $cs[i]) * ($s[i] - $cs[i]))),
       |      (acc, x) -> acc + x)""".stripMargin
  /** Explode (vec_id, <vecCol>[M·Sub]) rows into M subvector rows; the
    * struct keeps (j, s) paired through one generator pass.
    */
  private def pqSubvectors(vecCol: String) = expr(
    s"transform(sequence(0, ${PqM - 1}), j -> named_struct(" +
      s"'j', j, 's', slice($vecCol, CAST(j * $PqSub + 1 AS INT), $PqSub)))")
  /** PQ codebook over `sub` = (vec_id, j, s): corpus vectors
    * [PqCentLo, PqCentLo+PqK) seed the K centroids per subquantizer,
    * then ONE quantized Lloyd step — q81's assign→integer-mean update,
    * per slice — trains them in-plan. The mean is floorDiv(Σs, n) =
    * (Σs − pmod(Σs, n)) div n: order-free BIGINT sums, and the
    * subtraction makes the quotient exactly divisible so Spark's
    * truncating `div` and DuckDB's `//` agree on negatives; empty
    * clusters keep their seed centroid. Σs overflows only past ~1e12
    * members per code at the 1e6 grid. Plan shape: assignment is a
    * broadcast-seed join hash-aggregated by min_by over the (d2, c)
    * total order (no window, no sort); the mean table is
    * ≤ M·K·PqSub cells. Returns (c, cj, cs) — broadcast-sized.
    */
  private def pqTrainedBook(sub: DataFrame): DataFrame = {
    val seed = sub
      .filter(col("vec_id").between(PqCentLo, PqCentLo + PqK - 1))
      .select(col("vec_id").as("c"), col("j").as("cj"), col("s").as("cs"))
    val assign0 = sub.join(broadcast(seed), col("j") === col("cj"))
      .withColumn("d2", pqD2Spark("s", "cs"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("c"), struct(col("d2"), col("c"))).as("c"),
        first(col("s")).as("s"))
    val means = assign0
      .select(col("j"), col("c"), posexplode(col("s")).as(Seq("dim0", "v")))
      .groupBy(col("j"), col("c"), col("dim0"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("mv", expr("(sv - pmod(sv, n)) div n"))
      .groupBy(col("j").as("tj"), col("c").as("tc"))
      .agg(expr("transform(array_sort(collect_list(struct(dim0, mv))), " +
        "x -> x.mv)").as("ms"))
    seed
      .join(means, col("cj") === col("tj") && col("c") === col("tc"), "left")
      .select(col("c"), col("cj"), coalesce(col("ms"), col("cs")).as("cs"))
  }
  /** Oracle mirror of [[pqTrainedBook]]: CTEs `assign0, sums, trained,
    * book` over already-defined CTEs `sub` (vec_id, j, s, …) and `cent`
    * (c, j, cs). Same tie order (row_number ≡ min_by over (d2, c)),
    * same pmod-subtraction floor-div means.
    */
  private def pqBookCtesDuck: String =
    s"""assign0 AS (
       |  SELECT vec_id, j, s, c FROM (
       |    SELECT v.vec_id, v.j, v.s, c.c,
       |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
       |        ${pqD2Duck("v.s", "c.cs")}, c.c) AS rk
       |    FROM sub v JOIN cent c USING (j))
       |  WHERE rk = 1),
       |sums AS (
       |  SELECT j, c, dim, CAST(sum(s[dim]) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM assign0, (SELECT unnest(range(1, ${PqSub + 1})) AS dim) dims
       |  GROUP BY j, c, dim),
       |trained AS (
       |  SELECT j, c,
       |    list((sv - ((sv % n + n) % n)) // n ORDER BY dim) AS ms
       |  FROM sums GROUP BY j, c),
       |book AS (
       |  SELECT ct.c, ct.j, coalesce(t.ms, ct.cs) AS cs
       |  FROM cent ct LEFT JOIN trained t ON ct.j = t.j AND ct.c = t.c)""".stripMargin
  /** Full-width (M·Sub-dim) integer squared L2 — the q120 coarse
    * assignment / q125 refine distance, DuckDB side.
    */
  private def fullD2Duck(q: String, cq: String) =
    s"""list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, ${PqM * PqSub + 1}),
       |        i -> ($q[i] - $cq[i]) * ($q[i] - $cq[i]))),
       |      (acc, x) -> acc + x)""".stripMargin
  /** Oracle CTE chain shared by q120 (cut at LshK) and q125 (cut at
    * RerankR + exact refine): grid corpus `dv`, coarse cells, residual
    * subvectors, the trained book, per-vector codes, probe lists, and
    * the per-cell ADC aggregate — everything through `adc`
    * (probe_id, vec_id, cid, adc_dist). Mirrors [[ivfadcPlan]]:
    * identical coarse assignment (full-width integer L2, (cd2, cc) tie
    * order), identical residuals, identical per-cell ADC tables.
    */
  private def ivfadcCtesDuck: String = {
    val dims = PqM * PqSub
    def cd2(q: String, cq: String) = fullD2Duck(q, cq)
    s"""WITH dv AS (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * $PqQuant) AS BIGINT)) AS q
       |  FROM embeddings),
       |seedc AS (
       |  SELECT vec_id AS cc, q AS cq FROM dv
       |  WHERE vec_id BETWEEN $IvfCentroidLo AND $IvfCentroidHi),
       |seedassign AS (
       |  SELECT vec_id, q, cc FROM (
       |    SELECT d.vec_id, d.q, c.cc,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        ${cd2("d.q", "c.cq")}, c.cc) AS rk
       |    FROM dv d, seedc c)
       |  WHERE rk = 1),
       |csums AS (
       |  SELECT cc, dim, CAST(sum(q[dim]) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM seedassign, (SELECT unnest(range(1, ${dims + 1})) AS dim) dims
       |  GROUP BY cc, dim),
       |ctrained AS (
       |  SELECT cc, list((sv - ((sv % n + n) % n)) // n ORDER BY dim) AS ms
       |  FROM csums GROUP BY cc),
       |coarse AS (
       |  SELECT s.cc, coalesce(t.ms, s.cq) AS cq
       |  FROM seedc s LEFT JOIN ctrained t USING (cc)),
       |cassign AS (
       |  SELECT vec_id, cc AS cid,
       |    list_transform(range(1, ${dims + 1}), i -> q[i] - cq[i]) AS r
       |  FROM (
       |    SELECT d.vec_id, d.q, c.cc, c.cq,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        ${cd2("d.q", "c.cq")}, c.cc) AS rk
       |    FROM dv d, coarse c)
       |  WHERE rk = 1),
       |sub AS (
       |  SELECT vec_id, cid, j,
       |    list_slice(r, j * $PqSub + 1, j * $PqSub + $PqSub) AS s
       |  FROM (SELECT vec_id, cid, r, unnest(range(0, $PqM)) AS j
       |        FROM cassign)),
       |cent AS (
       |  SELECT vec_id AS c, j, s AS cs FROM sub
       |  WHERE vec_id BETWEEN $PqCentLo AND ${PqCentLo + PqK - 1}),
       |$pqBookCtesDuck,
       |codes AS (
       |  SELECT vec_id, cid, j, c AS code FROM (
       |    SELECT v.vec_id, v.cid, v.j, b.c,
       |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
       |        ${pqD2Duck("v.s", "b.cs")}, b.c) AS rk
       |    FROM sub v JOIN book b USING (j))
       |  WHERE rk = 1),
       |passign AS (
       |  SELECT vec_id AS probe_id, cc AS pcid,
       |    list_transform(range(1, ${dims + 1}), i -> q[i] - cq[i]) AS pr
       |  FROM (
       |    SELECT d.vec_id, d.q, c.cc, c.cq,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        ${cd2("d.q", "c.cq")}, c.cc) AS rk
       |    FROM dv d, coarse c WHERE d.vec_id < $ProbeN)
       |  WHERE rk <= $IvfNprobe),
       |prsub AS (
       |  SELECT probe_id, pcid, j,
       |    list_slice(pr, j * $PqSub + 1, j * $PqSub + $PqSub) AS ps
       |  FROM (SELECT probe_id, pcid, pr, unnest(range(0, $PqM)) AS j
       |        FROM passign)),
       |dtab AS (
       |  SELECT p.probe_id, p.pcid, p.j, b.c,
       |    ${pqD2Duck("p.ps", "b.cs")} AS pd2
       |  FROM prsub p JOIN book b USING (j)),
       |adc AS (
       |  SELECT d.probe_id, co.vec_id, co.cid,
       |    CAST(sum(d.pd2) AS BIGINT) AS adc_dist
       |  FROM codes co JOIN dtab d
       |    ON co.cid = d.pcid AND co.j = d.j AND co.code = d.c
       |  WHERE co.vec_id <> d.probe_id
       |  GROUP BY d.probe_id, co.vec_id, co.cid)""".stripMargin
  }
  private val SampleK = 20        // exact-k per-group sample size
  private val IvfCentroidLo = 100 // deterministic coarse SEEDS (q120
  private val IvfCentroidHi = 107 //   trains them with one Lloyd step)
  private val ChunkTokens = 50    // context-window chunk size (tokens)
  private val ParTokens = 20      // q92 pseudo-paragraph block size (tokens)
  private val ChunkStride = 40    // chunk stride (10-token overlap)
  private val BenchMod = 10       // benchmark set: doc_id % BenchMod == 0
  private val ContainThreshold = 0.5 // decontamination containment cutoff
  private val MaxShingleDf = 20   // stop-shingle cutoff (docs per shingle)
  private val BloomExpected = 1L << 17 // bloom sized to an eval-suite shingle universe
  private val BloomFpp = 1e-4    // see the q89 sizing note: a DOC passes the
                                 // screen via FPs only if ~ScreenMinHits of its
                                 // shingles all false-positive — P ≈ 0 here; a
                                 // lone-FP design (threshold 1) would leak
                                 // |sh|·fpp of the clean corpus instead
  private val ScreenMinHits = 20 // flag docs sharing ≥ this many shingles
  private val NewMod = 7         // q90 snapshot split: doc_id % NewMod == NewResidue
  private val NewResidue = 3     //   (plus all planted copies) = the "new" docs
  private val PiiPlantN = 40      // planted PII: doc_id < N
  private val TokenBudget = 2000L // q98 per-language token budget
  // one raw regex (Java and RE2 agree on this subset); Spark SQL string
  // literals unescape backslashes, DuckDB's don't — derive per dialect
  private val EmailRegexRaw = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val EmailRegex = EmailRegexRaw.replace("\\", "\\\\") // Spark literal
  private val EmailRegexDuck = EmailRegexRaw
  private val LongDigitRegex = "[0-9]{7,}"
  private val RepRatioMin = 0.05  // repetition-ratio report threshold

  /** Embedding corpus with planted near-dup vectors: v/2 keeps the sign
    * mask (same LSH bucket) and cosine ≈ 1. Near-dup dedup derives its
    * bucket width from the corpus count (SimilarityOps.adaptiveBits —
    * the join key out-grows the corpus at every scale; a CONSTANT width
    * was the r6–r8 quadratic-occupancy finding); copies agree on every
    * sign so recall is unaffected by widening.
    */
  private def nearDupBits(e: DataFrame): Int = {
    // corpus count = base + planted rows, one cheap aggregate job (at
    // 100 TB a parquet count is metadata-weight); mirrored by the
    // oracle's count(*) over the same corpus CTE
    val r = e.agg(count(lit(1)).as("n"),
      sum(when(col("vec_id") < NearDupVecN, 1L).otherwise(0L)).as("p")).head()
    val n = r.getLong(0) + (if (r.isNullAt(1)) 0L else r.getLong(1))
    SimilarityOps.adaptiveBits(n)
  }
  private def vecCorpus(e: DataFrame, bits: Int): DataFrame = {
    val base = e.select(col("vec_id"),
      expr(SimilarityOps.toDoubleSpark("embedding")).as("v"))
    val planted = base.filter(col("vec_id") < NearDupVecN)
      .select((col("vec_id") + NearDupVecOffset).as("vec_id"),
        expr("transform(v, x -> x * 0.5)").as("v"))
    base.unionAll(planted)
      .select(col("vec_id"), col("v"),
        expr(SimilarityOps.normSpark("v")).as("nrm"),
        expr(SimilarityOps.bucketSpark("v", bits)).as("bucket"))
  }
  /** The corpus as WITH-clause items: `corpus0` (no bucket), `nb` (the
    * adaptive bit count — integer-exact mirror of the Spark side), and
    * `corpus` (bucket via the runtime-bits fold). Callers splice these
    * directly after WITH.
    */
  private val vecCorpusDuckCtes: String =
    s"""corpus0 AS (
       |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm FROM (
       |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings
       |    UNION ALL
       |    SELECT vec_id + $NearDupVecOffset AS vec_id,
       |           list_transform(${SimilarityOps.toDoubleDuck("embedding")}, x -> x * 0.5) AS v
       |    FROM embeddings WHERE vec_id < $NearDupVecN)),
       |nb AS (SELECT ${SimilarityOps.adaptiveBitsDuck("corpus0")} AS bits),
       |corpus AS (
       |  SELECT vec_id, v, nrm, ${SimilarityOps.bucketDuckExpr("v", "nb.bits")} AS bucket
       |  FROM corpus0, nb)""".stripMargin

  private[graft] def records: Seq[Q] = Seq(
    // ---- text analysis --------------------------------------------------
    Q("q27_text_tokens", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        expr(s"CAST(size(${tokensSpark("text")}) AS BIGINT)").as("n_tokens"),
        expr(subwordCountSpark("text")).as("n_subwords"),
        col("n_chars")),
      s"""SELECT doc_id, CAST(len(${tokensDuck("text")}) AS BIGINT) AS n_tokens,
         |  ${subwordCountDuck("text")} AS n_subwords, n_chars FROM documents""".stripMargin),

    Q("q28_text_stats", (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_tokens", expr(s"CAST(size(${tokensSpark("text")}) AS BIGINT)"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          avg(col("n_chars")).as("avg_chars"),
          avg(col("n_tokens")).as("avg_tokens")),
      s"""SELECT lang, source, count(*) AS n_docs, avg(n_chars) AS avg_chars,
         |  avg(n_tokens) AS avg_tokens FROM (
         |  SELECT lang, source, n_chars,
         |    CAST(len(${tokensDuck("text")}) AS BIGINT) AS n_tokens FROM documents)
         |GROUP BY lang, source""".stripMargin),

    Q("q29_top_tokens", (s, d) =>
      // explode → map-side partial agg → 20-row result; the exploded
      // token stream never materializes.
      Tables.documents(s, d)
        .select(explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20),
      s"""SELECT tok, count(*) AS cnt FROM (
         |  SELECT unnest(${tokensDuck("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin),

    Q("q30_text_quality", (s, d) => {
      val base = qualitySpark("text").foldLeft(Tables.documents(s, d)) {
        case (df, (n, e)) => df.withColumn(n, expr(e))
      }
      base.select(col("doc_id") +: qualitySpark("text").map(p => col(p._1)) :+
        expr(qualityScoreExpr).as("quality_score"): _*)
    },
      {
        val cols = qualityDuck("text").map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
        s"""SELECT doc_id, n_tokens, stop_ratio, uniq_ratio, mean_tok_len,
           |  $qualityScoreExpr AS quality_score FROM (
           |  SELECT doc_id, $cols FROM documents)""".stripMargin
      }),

    Q("q31_langid", (s, d) => {
      val scored = langScoresSpark("text").foldLeft(Tables.documents(s, d)) {
        case (df, (n, e)) => df.withColumn(n, expr(e))
      }
      scored.withColumn("predicted", expr(langArgmaxExpr))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    },
      {
        val cols = langScoresDuck("text").map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
        s"""SELECT lang, predicted, count(*) AS n FROM (
           |  SELECT lang, $langArgmaxExpr AS predicted FROM (
           |    SELECT lang, $cols FROM documents))
           |GROUP BY lang, predicted""".stripMargin
      }),

    Q("q32_fingerprint", (s, d) =>
      // Winnowing-style fingerprint: char-level rolling hash, md5, and the
      // minimum hashed k-shingle (= minhash with the identity map).
      Tables.documents(s, d)
        .withColumn("hs", expr(DedupOps.tokenHashesSpark("text")))
        .select(
          col("doc_id"),
          expr(rollingHashSpark("text")).as("rolling_hash"),
          md5(col("text")).as("md5_hex"),
          expr(s"array_min(${DedupOps.shingleHashesSpark("hs")})")
            .as("min_shingle_hash")),
      s"""SELECT doc_id, ${rollingHashDuck("text")} AS rolling_hash,
         |  md5(text) AS md5_hex,
         |  list_min(${DedupOps.shingleHashesDuck("hs")}) AS min_shingle_hash
         |FROM (SELECT doc_id, text, ${DedupOps.tokenHashesDuck("text")} AS hs
         |      FROM documents)""".stripMargin),

    Q("q33_dedup_exact", (s, d) =>
      DedupOps.exactDups(DedupOps.corpus(Tables.documents(s, d))),
      s"""WITH corpus AS (${DedupOps.corpusDuck})
         |${DedupOps.exactDupsDuckBody}""".stripMargin),

    Q("q34_minhash_buckets", (s, d) => core.Materialize.caching { c =>
      // LSH bucket-size histogram: the shape check that candidate
      // generation is per-bucket, never all-pairs. Signatures persist
      // before the posexplode (same generate-re-evaluation pitfall as
      // q61: an unpersisted computed array re-evals per emitted band).
      val sig = c(DedupOps.signatures(DedupOps.corpus(Tables.documents(s, d))))
      DedupOps.lshBucketsFromSig(sig)
        .groupBy(col("band_id"), col("band_key"))
        .agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("band_id"), col("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"))
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |sigs AS (${DedupOps.signaturesDuckBody}),
         |buckets AS (${DedupOps.lshBucketsDuckBody})
         |SELECT band_id, bucket_size, count(*) AS n_buckets FROM (
         |  SELECT band_id, band_key, count(*) AS bucket_size FROM buckets
         |  GROUP BY band_id, band_key)
         |GROUP BY band_id, bucket_size""".stripMargin),

    Q("q35_minhash_pairs", (s, d) => core.Materialize.caching { c =>
      // The signature table feeds the bucket self-join AND both sides of
      // the pair-estimate join — persist it once (MEMORY_AND_DISK, the
      // 100 TB-safe level for a slim doc_id+sig[12] table) instead of
      // recomputing the minhash 4×. The candidate-pair output is
      // data-dependent in size (a dup-heavy crawl makes it comparable to
      // the corpus), so it is detached via executor-local checkpoint —
      // never pinned on the driver — before the cache is released.
      val sig = c(DedupOps.signatures(DedupOps.corpus(Tables.documents(s, d))))
      DedupOps.candidatePairs(DedupOps.lshBucketsFromSig(sig))
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          expr(s"CAST(size(filter(transform(sequence(1, ${DedupOps.NumHashes}), " +
            "i -> CASE WHEN element_at(sig_a, i) = element_at(sig_b, i) THEN 1 ELSE 0 END), " +
            s"x -> x = 1)) AS DOUBLE) / ${DedupOps.NumHashes}.0").as("est_jaccard"))
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |sigs AS (${DedupOps.signaturesDuckBody}),
         |buckets AS (${DedupOps.lshBucketsDuckBody}),
         |pairs AS (${DedupOps.candidatePairsDuckBody})
         |SELECT id_a, id_b,
         |  CAST(len(list_filter(list_transform(range(1, ${DedupOps.NumHashes + 1}),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END),
         |    x -> x = 1)) AS DOUBLE) / ${DedupOps.NumHashes}.0 AS est_jaccard
         |FROM pairs JOIN sigs sa ON sa.doc_id = id_a
         |           JOIN sigs sb ON sb.doc_id = id_b""".stripMargin),

    Q("q36_jaccard_verify", (s, d) => core.Materialize.caching { c =>
      // Same persistence discipline: shingle sets are reused by the bucket
      // join and both sides of the verify join.
      val shingled =
        c(DedupOps.shingled(DedupOps.corpus(Tables.documents(s, d))))
      val sig = DedupOps.signaturesFromShingles(shingled)
      val pairs = DedupOps.candidatePairs(DedupOps.lshBucketsFromSig(sig))
      DedupOps.jaccardVerifyShingled(shingled, pairs, JaccardThreshold)
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |sigs AS (SELECT doc_id, ${DedupOps.signatureDuck("sh")} AS sig FROM shingled),
         |buckets AS (${DedupOps.lshBucketsDuckBody}),
         |pairs AS (${DedupOps.candidatePairsDuckBody})
         |${DedupOps.jaccardVerifyDuckBody(JaccardThreshold)}""".stripMargin),

    Q("q37_simhash", (s, d) =>
      TextOps.simhashSpark(DedupOps.corpus(Tables.documents(s, d)), "doc_id", "text"),
      s"""WITH corpus AS (${DedupOps.corpusDuck})
         |${TextOps.simhashDuck("corpus", "doc_id", "text")}""".stripMargin),

    // ---- exact set-similarity join (prefix filter) ----------------------
    Q("q170_setsim_join", (s, d) => {
      // The EXACT counterpart of q34–q36's MinHash-LSH: same shingle
      // sets, but candidates come from the prefix-filter theorem
      // (recall 1 by construction) instead of probabilistic banding —
      // see [[SetJoinOps.similarPairs]] for the lemma and the
      // rare-first ordering that keeps the self-join off the frequency
      // head. Jaccard reported as exact integer permille.
      val c = DedupOps.corpus(Tables.documents(s, d))
      val elems = DedupOps.shingled(c)
        .select(col("doc_id").as("set_id"), explode(col("sh")).as("elem"))
      SetJoinOps.similarPairs(elems, SetSimTNum, SetSimTDen)
        .select(col("id_a"), col("id_b"), col("ov"), col("un"),
          expr("(1000 * ov) DIV un").as("jac_pm"))
    },
      // q170 mirror: the NAIVE shared-element join — every pair sharing
      // ANY shingle, overlap counted by the element join, then the same
      // integer threshold test. Deliberately oblivious to the prefix
      // filter: equality proves the filter lossless (recall 1), which is
      // the theorem q170 exists to pin.
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |sh AS (SELECT doc_id, unnest(sh) AS sg FROM shingled),
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ov AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ov
         |  FROM sh a JOIN sh b USING (sg) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, ov, na.n + nb.n - ov AS un,
         |       (1000 * ov) // (na.n + nb.n - ov) AS jac_pm
         |FROM ov JOIN n na ON na.doc_id = id_a
         |        JOIN n nb ON nb.doc_id = id_b
         |WHERE $SetSimTDen * ov >= $SetSimTNum * (na.n + nb.n - ov)""".stripMargin),

    // ---- similarity search ----------------------------------------------
    Q("q38_cosine_topk", (s, d) => {
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      SimilarityOps.bruteForceTopK(p, p.filter(col("vec_id") < ProbeN), TopK)
        .select(col("probe_id"), col("vec_id"), col("cosine"), col("rk"))
    },
      CosineTopkDuckSql),

    Q("q39_cosine_lsh_topk", (s, d) => {
      // Scale path: multi-table LSH (NumTables tables × TableBits sign
      // bits over disjoint dim slices), one bucket probed per table.
      // Corpus index streams on the left; the probe set is broadcast.
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      SimilarityOps.lshTableTopK(p, p.filter(col("vec_id") < ProbeN),
          LshK, multiProbe = false)
        .select(col("probe_id"), col("vec_id"), col("cosine"), col("rk"))
    },
      s"""WITH prepped AS (
         |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm,
         |         ${SimilarityOps.tableBucketsDuck("v")} AS buckets FROM (
         |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings)),
         |idx AS (
         |  SELECT vec_id, v, nrm, t.tbl, buckets[t.tbl + 1] AS bucket
         |  FROM prepped,
         |       (SELECT unnest(range(0, ${SimilarityOps.NumTables})) AS tbl) t),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id,
         |    ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
         |  FROM idx p JOIN idx c ON p.tbl = c.tbl AND p.bucket = c.bucket
         |  WHERE p.vec_id < $ProbeN AND p.vec_id <> c.vec_id)
         |SELECT probe_id, vec_id, cosine, rk FROM (
         |  SELECT probe_id, vec_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk FROM cand)
         |WHERE rk <= $LshK""".stripMargin),

    Q("q40_embed_neardup", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilarityOps.bucketedNearDup(vecCorpus(e, nearDupBits(e)),
          CosineDupThreshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    },
      s"""WITH $vecCorpusDuckCtes
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${SimilarityOps.dotDuck("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
         |FROM corpus a JOIN corpus b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${SimilarityOps.dotDuck("a.v", "b.v")} / (a.nrm * b.nrm) >= $CosineDupThreshold""".stripMargin),

    Q("q51_media_resize", (s, d) =>
      // Deterministic byte-downsample "resize" (every 4th byte) with
      // before/after sizes and a content hash of the downsampled payload.
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_bytes"),
        expr(s"CAST(length(${MultimodalOps.resizeSpark("text", 4)}) AS BIGINT)")
          .as("resized_bytes"),
        expr(s"md5(${MultimodalOps.resizeSpark("text", 4)})").as("resized_md5")),
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
         |  CAST(length(${MultimodalOps.resizeDuck("text", 4)}) AS BIGINT) AS resized_bytes,
         |  md5(${MultimodalOps.resizeDuck("text", 4)}) AS resized_md5
         |FROM documents""".stripMargin),

    Q("q50_salted_join", (s, d) => {
      // Skew-safe salted join (TrafficOps.saltedEquiJoin): result must
      // equal the plain equi join — the oracle is the unsalted SQL.
      import graft.operators.TrafficOps
      val ev = Tables.events(s, d)
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      TrafficOps.saltedEquiJoin(ev, cust, "user_id", "c_custkey",
          col("event_id"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("event_id")).as("sum_event_id"))
    },
      """SELECT c.c_mktsegment, count(*) AS cnt,
        |  CAST(sum(e.event_id) AS BIGINT) AS sum_event_id
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin),

    Q("q49_json_extract", (s, d) =>
      // JSON scalar functions (SURVEY §2.8 family): typed from_json
      // extraction — schema projection happens inside the JSON parser,
      // histogram over the extracted value.
      Tables.events(s, d)
        .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k")),
      """SELECT k % 10 AS k_mod, count(*) AS cnt, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY k % 10""".stripMargin),

    // ---- L67: VARIANT semi-structured tier (q49's schema-less sibling) --
    Q("q150_variant_extract", (s, d) => {
      // Spark 4's VARIANT type — the tier an LLM-data pipeline actually
      // meets in crawl metadata, where no static from_json schema exists
      // because the JSON SHAPE varies row to row. The fixture derives
      // three deterministic shapes from events (web: integer score +
      // tags array; api: STRING score + extra n field; crawl: score
      // absent), then extracts through ONE parse: parse_json → binary
      // variant, variant_get typed paths. The semantics pinned
      // cross-engine: try_variant_get returns NULL on a TYPE MISMATCH
      // (the api rows' string score under a bigint target) and plain
      // NULL on an absent path — so n_int_score counts exactly the web
      // rows and min_n only ever sees api rows; DuckDB mirrors with
      // json_type-guarded extraction. EdgeCaseSpec owns the
      // malformed-JSON contract (try_parse_json NULL vs parse_json
      // error, try_variant_get NULL vs variant_get error, JSON-null vs
      // absent via is_variant_null). Scale shape: parse once per row
      // into the columnar-friendly binary encoding, every path access
      // is a narrow projection off that one variant — no re-parse per
      // field, no shuffle beyond the final aggregate.
      Tables.events(s, d).createOrReplaceTempView("graft_q150_events")
      s.sql(
        """WITH j AS (
          |  SELECT event_id,
          |    CASE pmod(event_id, 3)
          |      WHEN 0 THEN concat('{"meta": {"src": "web", "score": ',
          |        get_json_object(props, '$.k'),
          |        '}, "tags": ["alpha", "beta"]}')
          |      WHEN 1 THEN concat('{"meta": {"src": "api", "score": "s',
          |        get_json_object(props, '$.k'), '"}, "n": ',
          |        CAST(event_id AS STRING), '}')
          |      ELSE '{"meta": {"src": "crawl"}}'
          |    END AS jstr
          |  FROM graft_q150_events),
          |v AS (SELECT event_id, parse_json(jstr) AS var FROM j)
          |SELECT variant_get(var, '$.meta.src', 'string') AS src,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(try_variant_get(var, '$.meta.score', 'bigint'))
          |    AS BIGINT) AS n_int_score,
          |  CAST(sum(try_variant_get(var, '$.meta.score', 'bigint'))
          |    AS BIGINT) AS sum_score,
          |  CAST(count(variant_get(var, '$.tags[0]', 'string'))
          |    AS BIGINT) AS n_tag0,
          |  CAST(min(variant_get(var, '$.n', 'bigint')) AS BIGINT) AS min_n
          |FROM v GROUP BY src""".stripMargin)
    },
      // q150 mirror: the same three JSON shapes, extracted with DuckDB's
      // JSON functions; try_variant_get's NULL-on-type-mismatch becomes a
      // json_type guard (integer-typed score cells only), absent paths
      // are NULL in both engines
      """WITH j AS (
        |  SELECT event_id,
        |    CASE event_id % 3
        |      WHEN 0 THEN '{"meta": {"src": "web", "score": ' ||
        |        json_extract_string(props, '$.k') ||
        |        '}, "tags": ["alpha", "beta"]}'
        |      WHEN 1 THEN '{"meta": {"src": "api", "score": "s' ||
        |        json_extract_string(props, '$.k') || '"}, "n": ' ||
        |        CAST(event_id AS VARCHAR) || '}'
        |      ELSE '{"meta": {"src": "crawl"}}'
        |    END AS jstr
        |  FROM events)
        |SELECT json_extract_string(jstr, '$.meta.src') AS src,
        |  count(*) AS n,
        |  count(CASE WHEN json_type(jstr, '$.meta.score')
        |               IN ('BIGINT', 'UBIGINT') THEN 1 END) AS n_int_score,
        |  CAST(sum(CASE WHEN json_type(jstr, '$.meta.score')
        |                  IN ('BIGINT', 'UBIGINT')
        |                THEN CAST(json_extract(jstr, '$.meta.score') AS BIGINT)
        |           END) AS BIGINT) AS sum_score,
        |  count(json_extract_string(jstr, '$.tags[0]')) AS n_tag0,
        |  CAST(min(CAST(json_extract(jstr, '$.n') AS BIGINT)) AS BIGINT)
        |    AS min_n
        |FROM j GROUP BY src""".stripMargin),

    Q("q48_llm_pipeline", (s, d) => {
      // The composed LLM preprocessing chain: exact-dedup keep-first
      // (semi-join against min-id per content hash) → quality scoring →
      // threshold filter → per-lang corpus stats. Everything narrow until
      // the two hash aggregates.
      val docs = Tables.documents(s, d)
      val keep = docs
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val kept = docs.join(keep, Seq("doc_id"), "left_semi")
      val scored = qualitySpark("text").foldLeft(kept) {
        case (df, (n, e)) => df.withColumn(n, expr(e))
      }.withColumn("quality_score", expr(qualityScoreExpr))
      // min/max (not avg) over the double score: double-sum order differs
      // between engines; min/max and integer sums are order-free.
      scored.filter(col("quality_score") >= 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("quality_score")).as("min_quality"),
          max(col("quality_score")).as("max_quality"))
    },
      {
        val cols = qualityDuck("text").map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
        s"""WITH kept AS (
           |  SELECT d.* FROM documents d
           |  WHERE d.doc_id IN (
           |    SELECT min(doc_id) FROM (
           |      SELECT doc_id, md5(text) AS content_hash FROM documents)
           |    GROUP BY content_hash)),
           |scored AS (
           |  SELECT lang, n_tokens, $qualityScoreExpr AS quality_score FROM (
           |    SELECT lang, $cols FROM kept))
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |  min(quality_score) AS min_quality,
           |  max(quality_score) AS max_quality
           |FROM scored WHERE quality_score >= 0.5 GROUP BY lang""".stripMargin
      }),

    Q("q47_lsh_multiprobe", (s, d) => {
      // Multi-probe on top of the multi-table index: own bucket + all
      // 1-bit flips, in every table.
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      SimilarityOps.lshTableTopK(p, p.filter(col("vec_id") < ProbeN),
          LshK, multiProbe = true)
        .select(col("probe_id"), col("vec_id"), col("cosine"), col("rk"))
    },
      {
        val flips = ("bucket" +: (0 until SimilarityOps.TableBits)
          .map(i => s"xor(bucket, ${1L << i})")).mkString("[", ", ", "]")
        s"""WITH prepped AS (
           |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm,
           |         ${SimilarityOps.tableBucketsDuck("v")} AS buckets FROM (
           |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings)),
           |idx AS (
           |  SELECT vec_id, v, nrm, t.tbl, buckets[t.tbl + 1] AS bucket
           |  FROM prepped,
           |       (SELECT unnest(range(0, ${SimilarityOps.NumTables})) AS tbl) t),
           |probes AS (
           |  SELECT probe_id, pv, pn, tbl, unnest($flips) AS bucket FROM (
           |    SELECT vec_id AS probe_id, v AS pv, nrm AS pn, tbl, bucket
           |    FROM idx WHERE vec_id < $ProbeN)),
           |cand AS (
           |  SELECT DISTINCT p.probe_id, c.vec_id,
           |    ${SimilarityOps.dotDuck("p.pv", "c.v")} / (p.pn * c.nrm) AS cosine
           |  FROM idx c JOIN probes p ON p.tbl = c.tbl AND p.bucket = c.bucket
           |  WHERE p.probe_id <> c.vec_id)
           |SELECT probe_id, vec_id, cosine, rk FROM (
           |  SELECT probe_id, vec_id, cosine,
           |    CAST(row_number() OVER (PARTITION BY probe_id
           |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk FROM cand)
           |WHERE rk <= $LshK""".stripMargin
      }),

    Q("q46_ivf_topk", (s, d) => {
      // IVF scale path: deterministic coarse centroids (vec_id 100..107),
      // nearest-centroid assignment, probe searches its IvfNprobe
      // nearest inverted lists.
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      SimilarityOps.ivfTopK(p,
        p.filter(col("vec_id") < ProbeN),
        p.filter(col("vec_id").between(IvfCentroidLo, IvfCentroidHi)),
        LshK, nprobe = IvfNprobe)
    },
      s"""WITH prepped AS (
         |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm FROM (
         |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings)),
         |centroids AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM prepped
         |  WHERE vec_id BETWEEN $IvfCentroidLo AND $IvfCentroidHi),
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT p.vec_id, p.v, p.nrm, c.cid,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${SimilarityOps.dotDuck("p.v", "c.cv")} / (p.nrm * c.cn) DESC,
         |                 c.cid) AS arn
         |    FROM prepped p, centroids c)
         |  WHERE arn = 1),
         |passign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT p.vec_id, p.v, p.nrm, c.cid,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${SimilarityOps.dotDuck("p.v", "c.cv")} / (p.nrm * c.cn) DESC,
         |                 c.cid) AS arn
         |    FROM prepped p, centroids c WHERE p.vec_id < $ProbeN)
         |  WHERE arn <= $IvfNprobe)
         |SELECT probe_id, vec_id, cid, cosine, rk FROM (
         |  SELECT probe_id, vec_id, cid, cosine,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id, c.cid,
         |      ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
         |    FROM passign p JOIN assign c ON p.cid = c.cid
         |    WHERE p.vec_id <> c.vec_id))
         |WHERE rk <= $LshK""".stripMargin),

    Q("q43_cosine_native", (s, d) => {
      // Same result as q38 via the native codegen'd CosineSim expression
      // (injected by GraftExtensions) — one fused loop in whole-stage
      // codegen instead of the interpreted HOF fold.
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      SimilarityOps.bruteForceTopKNative(p, p.filter(col("vec_id") < ProbeN), TopK)
        .select(col("probe_id"), col("vec_id"), col("cosine"), col("rk"))
    },
      s"""WITH prepped AS (
         |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm FROM (
         |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings))
         |SELECT probe_id, vec_id, cosine, rk FROM (
         |  SELECT probe_id, vec_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id,
         |      ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
         |    FROM prepped p, prepped c
         |    WHERE p.vec_id < $ProbeN AND p.vec_id <> c.vec_id))
         |WHERE rk <= $TopK""".stripMargin),

    // ---- multimodal columns ---------------------------------------------
    Q("q41_media_meta", (s, d) => {
      val m = MultimodalOps.mediaTable(Tables.documents(s, d))
      m.select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.format").as("format"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.duration_ms").as("duration_ms"),
        expr(s"CAST(ceil(length(payload) / ${MultimodalOps.FrameSize}.0) AS BIGINT)")
          .as("n_frames"))
    },
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  md5(text) AS payload_md5, source AS format,
         |  CAST(n_chars % 640 AS BIGINT) AS width,
         |  CAST(n_chars % 480 AS BIGINT) AS height,
         |  n_chars * 25 AS duration_ms,
         |  CAST(ceil(octet_length(encode(text)) / ${MultimodalOps.FrameSize}.0) AS BIGINT) AS n_frames
         |FROM documents""".stripMargin),

    Q("q42_media_frames", (s, d) =>
      // ArrayType[StructType] end-to-end: build the frame index as an
      // array of structs, explode with inline, hash each frame slice.
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          expr(MultimodalOps.frameIndexSpark("length(text)")).as("frames"))
        .select(col("doc_id"), expr("inline(frames)"), col("text"))
        .select(col("doc_id"), col("frame_id"), col("off"), col("len"),
          expr("md5(substr(text, CAST(off AS INT), CAST(len AS INT)))")
            .as("frame_md5")),
      s"""SELECT doc_id, u.f.frame_id AS frame_id, u.f.off AS off, u.f.len AS len,
         |  md5(substr(text, CAST(u.f.off AS INT), CAST(u.f.len AS INT))) AS frame_md5
         |FROM (SELECT doc_id, text,
         |        unnest(${MultimodalOps.frameIndexDuck("length(text)")}) AS f
         |      FROM documents) u""".stripMargin),

    // ---- context-window chunking ----------------------------------------
    Q("q60_chunking", (s, d) =>
      // Overlapping token-window chunks (W=ChunkTokens, stride=
      // ChunkStride): one chunk per stride start ≤ n_tokens, the last
      // chunk may be short. Narrow map + explode straight into the
      // output — nothing shuffles; at 100 TB this is the classic
      // pre-training chunker shape.
      Tables.documents(s, d)
        .select(col("doc_id"), expr(tokensSpark("text")).as("toks"))
        .withColumn("n", expr("size(toks)"))
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, n, $ChunkStride)")).as("start"))
        .select(col("doc_id"),
          expr(s"CAST((start - 1) DIV $ChunkStride AS BIGINT)").as("chunk_id"),
          col("start").cast("long").as("start"),
          expr(s"CAST(size(slice(toks, start, $ChunkTokens)) AS BIGINT)")
            .as("n_chunk_tokens"),
          expr(s"md5(array_join(slice(toks, start, $ChunkTokens), ' '))")
            .as("chunk_md5")),
      s"""SELECT doc_id,
         |  CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start,
         |  CAST(len(list_slice(toks, start,
         |    least(start + ${ChunkTokens - 1}, n))) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(list_slice(toks, start,
         |    least(start + ${ChunkTokens - 1}, n)), ' ')) AS chunk_md5
         |FROM (
         |  SELECT doc_id, toks, n,
         |         unnest(generate_series(1, n, $ChunkStride)) AS start
         |  FROM (SELECT doc_id, ${TextOps.tokensDuck("text")} AS toks,
         |               len(${TextOps.tokensDuck("text")}) AS n
         |        FROM documents))""".stripMargin),

    // ---- benchmark decontamination --------------------------------------
    Q("q61_decontam", (s, d) => core.Materialize.caching { c =>
      // Cross-corpus n-gram containment: train docs sharing ≥
      // ContainThreshold of a benchmark doc's RARE shingles are
      // contaminated. Two scale decisions:
      //  - STOP-SHINGLE DROP: shingles appearing in > MaxShingleDf docs
      //    carry no contamination signal and fan the hash join out
      //    quadratically — the containment universe is the rare set only
      //    (the real-world decontamination practice).
      //  - PERSIST BEFORE EXPLODE: generating from an unpersisted
      //    computed array re-evaluates the whole shingle expression per
      //    EMITTED row (measured 84 s vs 3.4 s at sf0.1) — materialize
      //    the slim (doc_id, sh) table once, then explode is a cursor.
      // The planted near/exact copies of benchmark docs (DedupOps.corpus)
      // are the true positives the oracle must find.
      val sh = c(DedupOps.shingled(DedupOps.corpus(Tables.documents(s, d))))
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("h"))
      // the rare set is corpus-proportional (Zipf: the tail dominates
      // the distinct-shingle universe), so it joins as a plain shuffled
      // hash join — broadcasting it would collect corpus-scale data on
      // the driver. The BENCH side below stays broadcast: an eval suite
      // is fixed-size by nature, it does not grow with the corpus.
      val rare = ex.groupBy(col("h"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf).select(col("h"))
      val exR = ex.join(rare, "h")
      val isBench = col("doc_id") % BenchMod === 0 &&
        col("doc_id") < DedupOps.NearCopyOffset
      val be = exR.filter(isBench)
        .select(col("doc_id").as("bench_id"), col("h"))
      val nb = be.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
      val te = exR.filter(!isBench)
        .select(col("doc_id").as("train_id"), col("h"))
      te.join(broadcast(be), "h")
        .groupBy(col("train_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(nb), "bench_id")
        .withColumn("containment",
          col("n_common").cast("double") / col("n_bench").cast("double"))
        .filter(col("containment") >= ContainThreshold)
        .select(col("train_id"), col("bench_id"), col("n_common"),
          col("containment"))
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM shingled),
         |rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM ex GROUP BY 1)
         |         WHERE df <= $MaxShingleDf),
         |exr AS (SELECT doc_id, h FROM ex JOIN rare USING (h)),
         |be AS (SELECT doc_id AS bench_id, h FROM exr
         |       WHERE doc_id % $BenchMod = 0
         |         AND doc_id < ${DedupOps.NearCopyOffset}),
         |nb AS (SELECT bench_id, count(*) AS n_bench FROM be GROUP BY 1),
         |te AS (SELECT doc_id AS train_id, h FROM exr
         |       WHERE NOT (doc_id % $BenchMod = 0
         |              AND doc_id < ${DedupOps.NearCopyOffset})),
         |c AS (SELECT train_id, bench_id, count(*) AS n_common
         |        FROM te JOIN be USING (h) GROUP BY 1, 2)
         |SELECT c.train_id, c.bench_id, c.n_common,
         |       CAST(c.n_common AS DOUBLE) / CAST(nb.n_bench AS DOUBLE)
         |         AS containment
         |  FROM c JOIN nb ON nb.bench_id = c.bench_id
         | WHERE CAST(c.n_common AS DOUBLE) / CAST(nb.n_bench AS DOUBLE)
         |       >= $ContainThreshold""".stripMargin),

    // ---- PII scrubbing ---------------------------------------------------
    // Regex redaction of emails and long digit runs, with PLANTED PII on
    // doc_id < PiiPlantN (mirrored in the oracle) so the redaction
    // counts prove recall. Patterns stay in the regex subset Java and
    // RE2 agree on (no backrefs, no lookaround). Narrow map, no shuffle.
    Q("q76_pii_scrub", (s, d) => {
      val planted = Tables.documents(s, d)
        .withColumn("text",
          when(col("doc_id") < PiiPlantN,
            concat(col("text"), lit(" contact bob.smith@example.com or "),
              col("doc_id").cast("string"), lit("5550123456")))
            .otherwise(col("text")))
      planted.select(
        col("doc_id"),
        expr(s"CAST(size(regexp_extract_all(text, '$EmailRegex', 0)) " +
          "AS BIGINT)").as("n_emails"),
        expr(s"CAST(size(regexp_extract_all(text, '$LongDigitRegex', 0)) " +
          "AS BIGINT)").as("n_digit_runs"),
        md5(expr(s"regexp_replace(regexp_replace(text, '$EmailRegex', " +
          s"'[EMAIL]'), '$LongDigitRegex', '[NUM]')")).as("clean_md5"))
    },
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < $PiiPlantN
         |         THEN text || ' contact bob.smith@example.com or ' ||
         |              CAST(doc_id AS VARCHAR) || '5550123456'
         |         ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRegexDuck', 0))
         |       AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$LongDigitRegex', 0))
         |       AS BIGINT) AS n_digit_runs,
         |  md5(regexp_replace(regexp_replace(text, '$EmailRegexDuck',
         |      '[EMAIL]', 'g'), '$LongDigitRegex', '[NUM]', 'g'))
         |    AS clean_md5
         |FROM planted""".stripMargin),

    // ---- repetition detection (quality filter) ---------------------------
    // Per-doc max term frequency / n_tokens — the repetition ratio LLM
    // pipelines threshold on. Explode feeds straight into two hash
    // aggregates (token counts, then per-doc max); raw tokens shuffle
    // only as (doc_id, tok) partial counts.
    Q("q77_repetition", (s, d) => {
      val docs = Tables.documents(s, d)
      val tokCounts = docs
        .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val perDoc = tokCounts.groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_tf"), sum(col("c")).as("n_tokens"))
      perDoc.select(col("doc_id"), col("max_tf"),
          col("n_tokens").cast("long").as("n_tokens"),
          (col("max_tf").cast("double") / col("n_tokens").cast("double"))
            .as("rep_ratio"))
        .filter(col("rep_ratio") >= RepRatioMin)
    },
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${tokensDuck("text")}) AS tok
         |    FROM documents)
         |  GROUP BY 1, 2),
         |pd AS (SELECT doc_id, max(c) AS max_tf,
         |              CAST(sum(c) AS BIGINT) AS n_tokens
         |         FROM tc GROUP BY 1)
         |SELECT doc_id, max_tf, n_tokens,
         |       CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |         AS rep_ratio
         |  FROM pd
         | WHERE CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |       >= $RepRatioMin""".stripMargin),

    // ---- duplicate clustering (transitive closure of near-dup pairs) ----
    Q("q71_dup_clusters", (s, d) => {
      // Dedup keep-one needs COMPONENTS, not pairs: (a,b) and (b,c)
      // verified near-dups must collapse to one cluster with one
      // canonical survivor. Pregel-style min-label propagation over the
      // verified pair graph (DedupOps.dupComponents) — per round one
      // equi-join + one min-agg, converges in diameter rounds.
      // dupComponents fences its own result, so the shingle cache is
      // released here rather than through a second fence.
      val c = new core.Materialize.Caches
      try {
        val shingled =
          c(DedupOps.shingled(DedupOps.corpus(Tables.documents(s, d))))
        val sig = DedupOps.signaturesFromShingles(shingled)
        val pairs = DedupOps.candidatePairs(DedupOps.lshBucketsFromSig(sig))
        DedupOps.dupComponents(DedupOps
          .jaccardVerifyShingled(shingled, pairs, JaccardThreshold)
          .select(col("id_a"), col("id_b")))
      } finally c.release()
    },
      s"""WITH RECURSIVE corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |sigs AS (SELECT doc_id, ${DedupOps.signatureDuck("sh")} AS sig FROM shingled),
         |buckets AS (${DedupOps.lshBucketsDuckBody}),
         |pairs AS (${DedupOps.candidatePairsDuckBody}),
         |verified AS (${DedupOps.jaccardVerifyDuckBody(JaccardThreshold)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM verified
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM verified),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY 1""".stripMargin),

    // ---- IVF centroid training: one Lloyd iteration ---------------------
    Q("q81_kmeans_step", (s, d) => {
      // Assign every vector to its nearest (cosine) seed centroid, then
      // re-estimate each centroid as the member mean, emitted long-form
      // (cid, dim, ...). Coordinates aggregate as 1e6-quantized BIGINTs:
      // integer sums are order-free, so the result is bit-identical
      // across engines (a raw double sum depends on accumulation order);
      // the mean is ONE exact IEEE division at the end. Iterating this
      // step (re-feeding means as centroids) is Lloyd's k-means — the
      // per-step shape (broadcast centroids → narrow assign → hash agg)
      // is the 100 TB-safe one.
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      val cents = p.filter(col("vec_id").between(IvfCentroidLo, IvfCentroidHi))
      SimilarityOps.assignToCentroids(p, cents, 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim0", "val")))
        .select(col("cid"), (col("dim0") + 1).cast("long").as("dim"),
          expr(s"CAST(round(val * $QuantScale) AS BIGINT)").as("q"))
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n_members"), sum(col("q")).as("sum_q"))
        .withColumn("mean_val", col("sum_q").cast("double") /
          (col("n_members").cast("double") * lit(QuantScale.toDouble)))
    },
      s"""WITH prepped AS (
         |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm FROM (
         |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings)),
         |centroids AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM prepped
         |  WHERE vec_id BETWEEN $IvfCentroidLo AND $IvfCentroidHi),
         |assign AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT p.vec_id, p.v, c.cid,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${SimilarityOps.dotDuck("p.v", "c.cv")} / (p.nrm * c.cn) DESC,
         |                 c.cid) AS arn
         |    FROM prepped p, centroids c)
         |  WHERE arn = 1),
         |exploded AS (
         |  SELECT cid, unnest(range(1, len(v) + 1)) AS dim, v FROM assign),
         |vals AS (
         |  SELECT cid, CAST(dim AS BIGINT) AS dim,
         |         CAST(round(v[dim] * $QuantScale) AS BIGINT) AS q
         |  FROM exploded)
         |SELECT cid, dim, count(*) AS n_members,
         |  CAST(sum(q) AS BIGINT) AS sum_q,
         |  CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * ${QuantScale}.0) AS mean_val
         |FROM vals GROUP BY cid, dim""".stripMargin),

    // ---- data mixing: per-source weighted sampling ----------------------
    Q("q82_mixture_sample", (s, d) => {
      // Deterministic mixture sampling: each source gets a keep-rate,
      // applied via an md5-prefix threshold (the q57 split mechanism
      // generalized to weighted mixing) — RNG-free, engine-independent,
      // stable under appends, and a narrow map at any scale.
      val kept = MixRates.foldLeft(when(lit(false), lit(""))) {
        case (acc, (src, hexHi)) => acc.when(col("source") === src,
          lit(hexHi))
      }.otherwise(lit(MixDefaultHexHi))
      Tables.documents(s, d)
        .withColumn("keep",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 3)
            < kept)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          min(when(col("keep"), col("doc_id"))).as("min_kept_id"),
          max(when(col("keep"), col("doc_id"))).as("max_kept_id"))
    },
      {
        val arms = MixRates.map { case (src, hi) =>
          s"WHEN source = '$src' THEN '$hi'" }.mkString(" ")
        s"""SELECT source, count(*) AS n_total,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  min(CASE WHEN kept THEN doc_id END) AS min_kept_id,
           |  max(CASE WHEN kept THEN doc_id END) AS max_kept_id
           |FROM (
           |  SELECT source, doc_id,
           |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) <
           |      (CASE $arms ELSE '$MixDefaultHexHi' END) AS kept
           |  FROM documents)
           |GROUP BY source""".stripMargin
      }),

    // ---- sequence packing (sample packing) ------------------------------
    Q("q83_seq_packing", (s, d) => core.Materialize.caching { c =>
      // Greedy contiguous packing of docs into capacity-C token bins per
      // language: docs are laid out in deterministic doc_id order, the
      // running token total is cut at capacity boundaries, and a doc
      // belongs to the bin its span STARTS in. All-integer arithmetic →
      // bit-exact. The running sum is SHARDED (ShardedWindows): the
      // window partitions on (lang, doc_id DIV span) with per-shard
      // offsets added back, so no single task ever sorts a whole
      // language — the q83 shard key is an id range, order-compatible
      // with the doc_id sort by construction. GraftProps pins
      // sharded ≡ unsharded bit-equality across random spans.
      // The span ADAPTS to the id range (one cheap min/max over the id
      // column): a fixed span would grow the shard count — and the
      // offsets table ShardedWindows prefix-sums and joins back —
      // linearly with the corpus; capping shards-per-group at
      // MaxPackShards bounds that table at any scale. Any span yields
      // the same cum (the property test's point), so the oracle is
      // span-independent.
      val docs = Tables.documents(s, d)
      val idr = docs.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi")).head()
      val span =
        if (idr.isNullAt(0)) PackShardSpan
        else math.max(PackShardSpan,
          (idr.getLong(1) - idr.getLong(0)) / MaxPackShards + 1)
      // The slim tokenized projection persists: the running sum reads it
      // twice (shard-local window + shard-totals aggregate — the
      // optimizer prunes the window out of the totals branch, so
      // exchange reuse can't share them) and tokenization dominates the
      // cost; 3 narrow columns cache cheaply at any scale.
      val toks = c(docs
        .select(col("lang"), col("doc_id"),
          expr(s"CAST(size(${tokensSpark("text")}) AS BIGINT)").as("n_tokens"))
        .withColumn("shard", expr(s"doc_id DIV $span")))
      ShardedWindows.runningSum(toks, "lang", "shard",
          Seq(col("doc_id")), "n_tokens", "cum")
        .withColumn("bin_id", expr(s"(cum - n_tokens) DIV $PackCapacity"))
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"))
    },
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    CAST(len(${tokensDuck("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT lang, (cum - n_tokens) // $PackCapacity AS bin_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc
         |FROM c GROUP BY 1, 2""".stripMargin),

    // ---- TF-IDF top terms ----------------------------------------------
    Q("q84_tfidf", (s, d) => core.Materialize.caching { c =>
      // Per-doc top-TfidfK terms by df-normalized relevance. idf = N/df
      // instead of ln(N/df): ln's last ulp differs across libm
      // implementations, N/df is rank-equivalent (ln is monotone) and
      // products/divisions are correctly-rounded IEEE ops → the score
      // column stays bit-exact cross-engine. Shape: explode → two hash
      // aggs; the df table joins on term UNHINTED — vocabulary grows
      // roughly linearly on web corpora, so a forced broadcast would
      // OOM the driver at 100 TB (VERDICT r6–r8 §wrong-3); AQE picks
      // broadcast itself whenever the measured df size is under the
      // threshold, and falls back to a shuffle join when it isn't. N
      // arrives as a broadcast single-row cross join (always scalar).
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("term"))
        .filter(col("term") =!= "")
      // tf feeds BOTH the join and the df derivation — persist once
      // (same discipline as q35's signature table) so the explode +
      // aggregate over raw tokens runs a single time
      val tf = c(toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", col("tf").cast("double") *
          col("n_docs").cast("double") / col("df").cast("double"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= TfidfK)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rk"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensDuck("text")}) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term <> '' GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df, score, rk FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
         |      / CAST(dfreq.df AS DOUBLE) AS score,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
         |                 / CAST(dfreq.df AS DOUBLE) DESC,
         |               tf.term) AS BIGINT) AS rk
         |  FROM tf JOIN dfreq USING (term), n)
         |WHERE rk <= $TfidfK""".stripMargin),

    // ---- int8 embedding quantization ------------------------------------
    Q("q88_embed_quantize", (s, d) => {
      // Symmetric int8 quantization (q = round(127·x / max_abs), the
      // storage/bandwidth lever for embedding corpora: 4×(+) smaller
      // vectors, cosine error bounded by the scale). Emits per-vector
      // max_abs, the quantized checksum, and the exact reconstruction
      // MSE — all computed with order-fixed left-to-right HOF folds and
      // exact IEEE ops, so the doubles are bit-identical to the oracle.
      // Narrow map, zero shuffle.
      val p = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(SimilarityOps.toDoubleSpark("embedding")).as("v"))
        .withColumn("max_abs",
          expr("aggregate(v, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(x)))"))
        .withColumn("q", // all-zero vector: max_abs = 0 → q = 0, not NaN
          expr("transform(v, x -> CASE WHEN max_abs = 0.0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(round(127.0 * x / max_abs) AS BIGINT) END)"))
      // checksum folds mod 2^31−1: unmodded acc·31 overflows BIGINT
      // within a 64-dim vector (DuckDB raises on overflow, Java wraps —
      // either way, not comparable)
      p.select(col("vec_id"), col("max_abs"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 2147483647)")
          .as("q_checksum"),
        expr("aggregate(zip_with(v, q, (x, qq) -> " +
          "(x - qq * max_abs / 127.0) * (x - qq * max_abs / 127.0)), " +
          "CAST(0 AS DOUBLE), (acc, e) -> acc + e) / CAST(size(v) AS DOUBLE)")
          .as("mse"))
    },
      """WITH p AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |      (a, b) -> greatest(a, b)) AS max_abs
        |  FROM p),
        |q AS (
        |  SELECT vec_id, v, max_abs,
        |    list_transform(v, x -> CASE WHEN max_abs = 0.0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(round(127.0 * x / max_abs) AS BIGINT) END) AS qv
        |  FROM m)
        |SELECT vec_id, max_abs,
        |  CAST(list_reduce(list_prepend(0::BIGINT, qv),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT) AS q_checksum,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
        |    i -> (v[i] - qv[i] * max_abs / 127.0)
        |       * (v[i] - qv[i] * max_abs / 127.0))),
        |    (acc, e) -> acc + e) / CAST(len(v) AS DOUBLE) AS mse
        |FROM q""".stripMargin),

    // ---- exact-k uniform sample per group -------------------------------
    // ---- L71: training-data ordering (seeded epoch shuffle + shards) ----
    Q("q183_epoch_order", (s, d) => {
      // the data-ORDERING operator a training run needs after curation
      // picks WHAT to train on (L36 samples, L34 packs, THIS orders):
      // a deterministic, seeded global shuffle with fixed shard
      // assignment — md5(seed:doc_id) is the permutation key, so the
      // order is reproducible across engines/reruns (no RNG), any
      // worker re-derives ITS shard's order independently (resumable
      // mid-epoch from (shard, pos) alone — no central shuffle index),
      // and a new epoch = a new seed, decorrelating consecutive passes
      // without reshuffling bytes. Scale: NO global sort — the shard
      // is the hash's first hex byte (256-way, deterministic, balanced
      // in expectation) and position is a SHARD-LOCAL window, so the
      // plan is one narrow map + parallel per-shard sorts; the same
      // construction at 100 TB emits shard files a data loader streams
      // in (shard, pos) order. Both epochs face the hash compare.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val epochs = Seq("ep1", "ep2").map { seed =>
        docs.withColumn("epoch", lit(seed))
          .withColumn("h", md5(concat(lit(seed + ":"),
            col("doc_id").cast("string")).cast("binary")))
      }
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("h"), col("doc_id"))
      epochs.reduce(_.unionAll(_))
        .withColumn("shard", substring(col("h"), 1, 2))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
    },
      // q183 mirror: identical permutation arithmetic — md5 of the same
      // seeded preimage, the same first-hex-byte shard, the same
      // shard-local rank; hex text order is portable (q85's idiom)
      """WITH e AS (
        |  SELECT 'ep1' AS epoch, doc_id,
        |         md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
        |  UNION ALL
        |  SELECT 'ep2' AS epoch, doc_id,
        |         md5('ep2:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
        |SELECT epoch, substr(h, 1, 2) AS shard, doc_id,
        |  CAST(row_number() OVER (PARTITION BY epoch, substr(h, 1, 2)
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM e""".stripMargin),

    Q("q85_group_sample", (s, d) => {
      // Deterministic exact-k uniform sample per language: rank rows by
      // the md5 of their id (a fixed pseudo-random permutation — no RNG,
      // same sample on every engine and every rerun) and keep the first
      // SampleK. Complements q82's rate-based mixing with exact-count
      // sampling. Plan shape: row_number + rk<=k executes with
      // WindowGroupLimit — each map task forwards only its local top-k
      // per group, so the shuffle carries ≤ k·|groups| rows PER MAP
      // PARTITION instead of every group member.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= SampleK)
    },
      s"""SELECT lang, doc_id, h, rk FROM (
         |  SELECT lang, doc_id, h,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
         |      AS BIGINT) AS rk
         |  FROM (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
         |        FROM documents))
         |WHERE rk <= $SampleK""".stripMargin),

    // ---- bloom-screened contamination check -----------------------------
    Q("q89_bloom_screen", (s, d) => core.Materialize.caching { c =>
      // Contamination SCREEN: train docs sharing ≥ ScreenMinHits
      // shingles with the benchmark set. q61 computes rare-shingle
      // containment (inherently needs corpus-wide df counts); this is
      // the cheap upstream pass a 100-TB pipeline runs first, and its
      // plan never shuffles the clean corpus:
      //   1. the benchmark shingle universe (fixed-size — eval suites
      //      don't grow with the corpus) aggregates into ONE Bloom
      //      filter; partials merge by bit-OR, so the shuffle carries a
      //      ~300 KB bitset per partition, not the shingles;
      //   2. every corpus doc counts probe hits INSIDE its shingle
      //      array, map-side (`size(filter(...))` + native
      //      bloom_might_contain): docs below the threshold — the
      //      overwhelming majority of a real crawl — drop without
      //      shuffling a byte. The threshold carries the screen's
      //      robustness: a clean doc would need ~ScreenMinHits
      //      INDEPENDENT false positives to leak through (P ≈ 0), where
      //      an any-hit screen leaks |sh|·fpp of the whole corpus;
      //   3. only the suspects explode and equi-join the exact benchmark
      //      set: Bloom over-admissions die here (bloom hit-counts are
      //      ≥ true counts, so the threshold re-applies exactly), and
      //      the no-false-negative guarantee makes the composed result
      //      bit-exact vs the all-exact oracle.
      val sh = c(DedupOps.shingled(DedupOps.corpus(Tables.documents(s, d))))
      val isBench = col("doc_id") % BenchMod === 0 &&
        col("doc_id") < DedupOps.NearCopyOffset
      // persisted: the explode+distinct shuffle feeds BOTH the eager
      // bloom build below and the broadcast verify join — without the
      // persist the benchmark-shingle aggregation would run twice
      val bench = c(sh.filter(isBench).select(explode(col("sh")).as("h"))
        .distinct())
      // one bounded-size row (~300 KB at 2^17 items / 1e-4 fpp): a
      // sketch constant, not data — the scalar-aggregate driver
      // pattern, same as Spark's scalar-subquery runtime join filters
      val bloom = bench
        .agg(expr(s"bloom_build(h, ${BloomExpected}L, ${BloomFpp}d)"))
        .head().getAs[Array[Byte]](0)
      val suspects = sh.filter(!isBench)
        .filter(size(filter(col("sh"),
          x => call_function("bloom_might_contain", lit(bloom), x)))
          >= ScreenMinHits)
      suspects
        .select(col("doc_id").as("train_id"), explode(col("sh")).as("h"))
        .join(broadcast(bench), "h")
        .groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_hits"))
        .filter(col("n_hits") >= ScreenMinHits)
    },
      // The oracle is ALL-EXACT (no bloom): the screen must not change the
      // result, only the plan — any bloom false negative would show here.
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM shingled),
         |bench AS (SELECT DISTINCT h FROM ex
         |          WHERE doc_id % $BenchMod = 0
         |            AND doc_id < ${DedupOps.NearCopyOffset}),
         |tr AS (SELECT doc_id AS train_id, h FROM ex
         |       WHERE NOT (doc_id % $BenchMod = 0
         |              AND doc_id < ${DedupOps.NearCopyOffset}))
         |SELECT train_id, count(*) AS n_hits
         |  FROM tr JOIN bench USING (h) GROUP BY 1
         |HAVING count(*) >= $ScreenMinHits""".stripMargin),

    // ---- incremental dedup vs a reference corpus ------------------------
    Q("q90_incremental_dedup", (s, d) => core.Materialize.caching { c =>
      // The nightly-crawl shape: dedup ONLY the new snapshot against the
      // accumulated reference corpus, and classify each new doc as
      // exact-dup / near-dup / unique (exact ≻ near). Scale contract:
      // the reference is the 100-TB side and NEVER shuffles — every
      // join streams ref rows against a BROADCAST artifact derived from
      // the (small) snapshot:
      //   exact — ref content-hashes ⋈_bcast new hashes → matched ids;
      //   near  — ref band buckets ⋈_bcast new band buckets → candidate
      //           (new, ref) pairs; candidate ref shingle sets are then
      //           fetched by streaming ref against the broadcast pair
      //           set and Jaccard-verified exactly (same formulation,
      //           and so bit-parity, as q36);
      //   intra-snapshot duplicates are deliberately out of scope — the
      //   full-corpus passes (q33–q36) own those; this op is the delta.
      val corpus = DedupOps.corpus(Tables.documents(s, d))
      // the planted zones are two DISJOINT ranges — a single
      // [NearCopyOffset, PlantCeil) interval would also swallow every
      // base doc in the gap [NearCopyOffset+NearCopyN, ExactCopyOffset),
      // inflating the "new" delta side (the side the scale contract
      // requires to stay broadcast-small) on any corpus with base ids
      // above 10050
      val isNew = col("doc_id") % NewMod === NewResidue ||
        (col("doc_id") >= DedupOps.NearCopyOffset &&
          col("doc_id") < DedupOps.NearCopyOffset + DedupOps.NearCopyN) ||
        (col("doc_id") >= DedupOps.ExactCopyOffset &&
          col("doc_id") < DedupOps.PlantCeil)
      val prep = c(corpus.select(col("doc_id"),
          DedupOps.contentHashSpark().as("content_hash"),
          expr(s"shingle_hashes(text, ${DedupOps.ShingleK})").as("sh")))
      val newIds = prep.filter(isNew).select(col("doc_id"))
      val exactIds = prep.filter(!isNew).select(col("content_hash"))
        .join(broadcast(prep.filter(isNew)
          .select(col("doc_id").as("new_id"), col("content_hash"))),
          "content_hash")
        .select(col("new_id")).distinct()
      val buckets =
        DedupOps.lshBucketsFromSig(DedupOps.signaturesFromShingles(prep))
      val cand = buckets.filter(!isNew)
        .join(broadcast(buckets.filter(isNew)
          .select(col("doc_id").as("new_id"), col("band_id"), col("band_key"))),
          Seq("band_id", "band_key"))
        .select(col("new_id"), col("doc_id").as("ref_id")).distinct()
      val nearIds = prep.filter(!isNew)
        .select(col("doc_id").as("ref_id"), col("sh").as("sh_ref"))
        .join(broadcast(cand), "ref_id")
        .join(broadcast(prep.filter(isNew)
          .select(col("doc_id").as("new_id"), col("sh").as("sh_new"))),
          "new_id")
        .filter(expr("CAST(size(array_intersect(sh_new, sh_ref)) AS DOUBLE) / " +
          "CAST(size(array_union(sh_new, sh_ref)) AS DOUBLE)")
          >= JaccardThreshold)
        .select(col("new_id")).distinct()
      newIds
        .join(broadcast(exactIds.select(col("new_id").as("doc_id"),
          lit(true).as("is_exact"))), Seq("doc_id"), "left")
        .join(broadcast(nearIds.select(col("new_id").as("doc_id"),
          lit(true).as("is_near"))), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact").when(col("is_near"), "near")
            .otherwise("unique").as("verdict"))
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |prep AS (
         |  SELECT s.doc_id, h.content_hash, s.sh
         |  FROM (${DedupOps.shingledDuckBody}) s
         |  JOIN (SELECT doc_id, ${DedupOps.contentHashDuck("text")}
         |            AS content_hash
         |        FROM corpus) h ON h.doc_id = s.doc_id),
         |newdocs AS (SELECT * FROM prep
         |            WHERE doc_id % $NewMod = $NewResidue
         |               OR (doc_id >= ${DedupOps.NearCopyOffset}
         |                   AND doc_id < ${DedupOps.NearCopyOffset + DedupOps.NearCopyN})
         |               OR (doc_id >= ${DedupOps.ExactCopyOffset}
         |                   AND doc_id < ${DedupOps.PlantCeil})),
         |refdocs AS (SELECT * FROM prep
         |            WHERE NOT (doc_id % $NewMod = $NewResidue
         |                    OR (doc_id >= ${DedupOps.NearCopyOffset}
         |                        AND doc_id < ${DedupOps.NearCopyOffset + DedupOps.NearCopyN})
         |                    OR (doc_id >= ${DedupOps.ExactCopyOffset}
         |                        AND doc_id < ${DedupOps.PlantCeil}))),
         |exact AS (SELECT DISTINCT n.doc_id
         |          FROM newdocs n JOIN refdocs r USING (content_hash)),
         |sigs AS (SELECT doc_id, ${DedupOps.signatureDuck("sh")} AS sig
         |         FROM prep),
         |buckets AS (${DedupOps.lshBucketsDuckBody}),
         |cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_id, rb.doc_id AS ref_id
         |  FROM buckets nb JOIN buckets rb
         |    ON nb.band_id = rb.band_id AND nb.band_key = rb.band_key
         |  WHERE nb.doc_id IN (SELECT doc_id FROM newdocs)
         |    AND rb.doc_id IN (SELECT doc_id FROM refdocs)),
         |near AS (
         |  SELECT DISTINCT c.new_id AS doc_id
         |  FROM cand c
         |  JOIN newdocs a ON a.doc_id = c.new_id
         |  JOIN refdocs b ON b.doc_id = c.ref_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         |        >= $JaccardThreshold)
         |SELECT n.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near'
         |       ELSE 'unique' END AS verdict
         |FROM newdocs n
         |LEFT JOIN exact e ON e.doc_id = n.doc_id
         |LEFT JOIN near nr ON nr.doc_id = n.doc_id""".stripMargin),

    // ---- cross-document repeated-paragraph fraction ---------------------
    Q("q92_par_dedup", (s, d) => core.Materialize.caching { c =>
      // The Gopher/MassiveText paragraph-level quality signal: what
      // fraction of a doc's paragraphs also appear verbatim in OTHER
      // docs. Boilerplate-heavy pages score high and get dropped; q77
      // owns WITHIN-doc repetition, this owns the cross-doc kind. The
      // fixture text has no punctuation, so "paragraph" = consecutive
      // non-overlapping ParTokens-token block — which also makes the
      // operator's known boundary sensitivity explicit (a one-token
      // shift, e.g. the planted near copies, realigns every block;
      // that is exactly how punctuation-split paragraph dedup behaves
      // on shifted text, and why MinHash q34–q36 exists beside it).
      // Scale shape: blocks shuffle as 32-char md5 keys only (never
      // text); the df side is corpus-proportional (block vocabulary
      // grows with the corpus) so it joins as a plain shuffled hash
      // join — broadcasting it would be a driver OOM at 100 TB,
      // exactly the q61 rare-set reasoning.
      val W = ParTokens
      val pars = c(DedupOps.corpus(Tables.documents(s, d))
        .select(col("doc_id"), expr(tokensSpark("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, CAST(ceil(size(toks) / $W.0) AS INT)),
             |  i -> md5(array_join(slice(toks, (i - 1) * $W + 1, $W), ' ')))"""
            .stripMargin)).as("ph")))
      val dfq = pars.groupBy(col("ph"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      pars.join(dfq, "ph")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pars"),
          expr("count_if(ndocs > 1)").as("n_dup_pars"))
        .withColumn("dup_frac",
          col("n_dup_pars").cast("double") / col("n_pars").cast("double"))
    },
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |toked AS (
         |  SELECT doc_id, ${TextOps.tokensDuck("text")} AS toks,
         |         len(toks) AS n
         |  FROM corpus),
         |pars AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      range(1, CAST(ceil(n / $ParTokens.0) AS BIGINT) + 1),
         |      i -> md5(array_to_string(list_slice(toks,
         |             (i - 1) * $ParTokens + 1,
         |             least((i - 1) * $ParTokens + $ParTokens, n)), ' '))))
         |      AS ph
         |  FROM toked WHERE n > 0),
         |dfq AS (SELECT ph, count(DISTINCT doc_id) AS ndocs
         |        FROM pars GROUP BY 1)
         |SELECT doc_id, count(*) AS n_pars,
         |  count(*) FILTER (ndocs > 1) AS n_dup_pars,
         |  CAST(count(*) FILTER (ndocs > 1) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS dup_frac
         |FROM pars JOIN dfq USING (ph) GROUP BY 1""".stripMargin),

    // ---- cross-doc block dedup with document REWRITE --------------------
    Q("q126_block_dedup_rewrite", (s, d) => core.Materialize.caching { c =>
      // q92 reports the repeated-paragraph fraction; this PERFORMS the
      // RefinedWeb/C4-style repair: every block that appears verbatim
      // in more than one document is removed from ALL of them and the
      // documents are reassembled from their surviving blocks in
      // original order — the only operator in the dedup family that
      // rewrites text instead of dropping or flagging documents.
      // Planted exact copies gut their base doc too (every shared
      // block dies in both) — deliberately the published behavior, and
      // why this runs on boilerplate, not as the primary dedup pass;
      // the near copies realign every block (q92's boundary note) and
      // survive untouched. Result carries md5 + sizes of the rebuilt
      // text, so the rewrite itself is oracle-pinned.
      //
      // Scale shape: blocks carry text exactly twice — once into the
      // df hash aggregate AS 32-char md5 keys (text never shuffles
      // there), once into the rebuild groupBy where only SURVIVING
      // blocks shuffle (boilerplate — the high-df mass — is already
      // gone). Order restoration is array_sort over an in-group
      // (pos, block) list: per-doc state, never a global sort. The df
      // side is corpus-proportional and stays a shuffled hash join
      // (q61/q92 reasoning: broadcasting a corpus-sized table OOMs).
      val W = ParTokens
      val blocks = c(DedupOps.corpus(Tables.documents(s, d))
        .select(col("doc_id"), expr(tokensSpark("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(1, CAST(ceil(size(toks) / $W.0) AS INT)),
             |  i -> array_join(slice(toks, (i - 1) * $W + 1, $W), ' '))"""
            .stripMargin)).as(Seq("i", "btext"))))
      val dfq = blocks.select(md5(col("btext").cast("binary")).as("bh"),
          col("doc_id"))
        .groupBy(col("bh")).agg(countDistinct(col("doc_id")).as("ndocs"))
      val kept = blocks
        .withColumn("bh", md5(col("btext").cast("binary")))
        .join(dfq, "bh").filter(col("ndocs") === 1)
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(i, btext))), x -> x.btext), ' ')").as("clean"))
      blocks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_blocks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          md5(col("clean").cast("binary")).as("clean_md5"),
          length(col("clean")).cast("long").as("clean_chars"))
    },
      // q126 mirror: same blocks (struct keeps (i, btext) paired through
      // the unnest), same ndocs=1 keep rule, same order-pinned rebuild
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |toked AS (
         |  SELECT doc_id, ${tokensDuck("text")} AS toks,
         |         len(toks) AS n
         |  FROM corpus),
         |blocks AS (
         |  SELECT doc_id, u.i, u.btext FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(1, CAST(ceil(n / $ParTokens.0) AS BIGINT) + 1),
         |      i -> struct_pack(i := i - 1,
         |        btext := array_to_string(list_slice(toks,
         |          (i - 1) * $ParTokens + 1,
         |          least((i - 1) * $ParTokens + $ParTokens, n)), ' '))))
         |      AS u
         |    FROM toked WHERE n > 0)),
         |dfq AS (
         |  SELECT md5(btext) AS bh, count(DISTINCT doc_id) AS ndocs
         |  FROM blocks GROUP BY 1),
         |kept AS (
         |  SELECT b.doc_id, b.i, b.btext
         |  FROM blocks b JOIN dfq ON md5(b.btext) = dfq.bh
         |  WHERE ndocs = 1),
         |rebuilt AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    array_to_string(list(btext ORDER BY i), ' ') AS clean
         |  FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_blocks FROM blocks GROUP BY 1)
         |SELECT t.doc_id, t.n_blocks, coalesce(r.n_kept, 0) AS n_kept,
         |  md5(r.clean) AS clean_md5,
         |  CAST(length(r.clean) AS BIGINT) AS clean_chars
         |FROM tot t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin),

    // ---- shingle document frequency via the native generator ------------
    Q("q93_shingle_df", (s, d) =>
      // The shared-shingle DF table (whose complement is q61's rare
      // set), produced by the UDTF-tier `shingle_rows` generator:
      // Generate streams straight into the partial aggregate — no
      // per-doc shingle array is ever materialized, no persist
      // discipline needed (see functions/ShingleRows). Only (hash,
      // partial count) pairs shuffle.
      DedupOps.corpus(Tables.documents(s, d))
        .selectExpr("doc_id", s"shingle_rows(text, ${DedupOps.ShingleK})")
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2),
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |shingled AS (${DedupOps.shingledDuckBody})
         |SELECT h, count(*) AS df
         |FROM (SELECT doc_id, unnest(sh) AS h FROM shingled)
         |GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    // ---- length-quartile stratification ---------------------------------
    Q("q94_length_strata", (s, d) => {
      // Curation report: bucket the corpus by exact token-count
      // quartiles and count per (lang, stratum) — the length histogram
      // behind "drop the shortest quartile / cap the longest" curation
      // rules. Exact interpolated percentile (bit-parity with DuckDB's
      // quantile_cont, proven on q69) computes the three thresholds in
      // one aggregate whose result rides along as a broadcast scalar
      // row — the corpus itself sees one narrow map + one hash agg.
      // avg_tokens = BIGINT sum / BIGINT count in one exact IEEE
      // division, so the double matches the oracle bit-for-bit.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr(s"CAST(size(${tokensSpark("text")}) AS BIGINT)").as("n_tokens"))
      val th = toks.agg(
        expr("percentile(n_tokens, 0.25)").as("q1"),
        expr("percentile(n_tokens, 0.5)").as("q2"),
        expr("percentile(n_tokens, 0.75)").as("q3"))
      toks.crossJoin(broadcast(th))
        .select(col("lang"), col("n_tokens"),
          when(col("n_tokens") <= col("q1"), 0L)
            .when(col("n_tokens") <= col("q2"), 1L)
            .when(col("n_tokens") <= col("q3"), 2L)
            .otherwise(3L).as("stratum"))
        .groupBy(col("lang"), col("stratum"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_tokens")).cast("double") /
            count(lit(1)).cast("double")).as("avg_tokens"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |         CAST(len(${tokensDuck("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |th AS (SELECT quantile_cont(n_tokens, 0.25) AS q1,
         |              quantile_cont(n_tokens, 0.5) AS q2,
         |              quantile_cont(n_tokens, 0.75) AS q3
         |       FROM toks)
         |SELECT lang,
         |  CASE WHEN n_tokens <= q1 THEN 0
         |       WHEN n_tokens <= q2 THEN 1
         |       WHEN n_tokens <= q3 THEN 2
         |       ELSE 3 END AS stratum,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS avg_tokens
         |FROM toks, th GROUP BY 1, 2""".stripMargin),

    // ---- semantic dedup (SemDeDup: cluster, then prune near-copies) ------
    Q("q95_semantic_dedup", (s, d) => core.Materialize.caching { c =>
      // The SemDeDup curation pass: assign every embedding to its
      // nearest coarse centroid, then drop any vector with a lower-id
      // cosine-near-copy in the same cluster — keep-one verdicts, which
      // the pair-emitting q40 doesn't give. Candidates within a cluster
      // come from the adaptive-width sign-bucket equi-join (bits from
      // corpus count, exact duplicates pre-collapsed inside
      // semanticDedup), not the paper's all-pairs-within-cluster
      // (quadratic in cluster size — a skewed cluster is an executor
      // OOM at 100 TB); scaled/exact copies agree on every sign bit so
      // true-dup recall is unaffected. The planted scaled copies
      // (cos ≈ 1, same signs, same centroid — scaling by 0.5 is
      // exponent-only in IEEE, so every cosine is bit-identical to its
      // base's) must all be dropped with dup_of = their base.
      // Assignment is persisted: it feeds the collapse plus the member
      // expansion, and its window would otherwise run twice.
      val e = Tables.embeddings(s, d)
      val bits = nearDupBits(e)
      val vecs = vecCorpus(e, bits)
        .select(col("vec_id"), col("v"), col("nrm"))
      val cents =
        vecs.filter(col("vec_id").between(IvfCentroidLo, IvfCentroidHi))
      val assigned = c(SimilarityOps.assignToCentroids(vecs, cents, 1))
      SimilarityOps.semanticDedup(assigned, bits,
        CosineDupThreshold)
    },
      // q95 mirror: same planted corpus (vecCorpusDuckCtes), same arn=1
      // nearest-centroid assignment as q46, same adaptive-width sign-bucket
      // candidate join as q40 (bits from the nb CTE — the integer-exact
      // mirror of the Spark side's count-derived width) — cosines are the
      // identical left-to-right fold, so the threshold cut and min/count
      // aggregates are bit-stable. The oracle stays MEMBER-LEVEL on
      // purpose: the Spark side's exact-duplicate collapse is an internal
      // optimization whose output must be indistinguishable from this
      // reference pair join.
      s"""WITH $vecCorpusDuckCtes,
         |c AS (SELECT vec_id, v, nrm FROM corpus),
         |centroids AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM c
         |  WHERE vec_id BETWEEN $IvfCentroidLo AND $IvfCentroidHi),
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT p.vec_id, p.v, p.nrm, ct.cid,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${SimilarityOps.dotDuck("p.v", "ct.cv")} / (p.nrm * ct.cn) DESC,
         |                 ct.cid) AS arn
         |    FROM c p, centroids ct)
         |  WHERE arn = 1),
         |wb AS (
         |  SELECT vec_id, v, nrm, cid,
         |         ${SimilarityOps.bucketDuckExpr("v", "nb.bits")} AS bucket
         |  FROM assign, nb)
         |SELECT b.vec_id AS vec_id, b.cid, min(a.vec_id) AS dup_of,
         |  count(*) AS n_dups
         |FROM wb a JOIN wb b ON a.cid = b.cid AND a.bucket = b.bucket
         |  AND a.vec_id < b.vec_id
         |WHERE ${SimilarityOps.dotDuck("a.v", "b.v")} / (a.nrm * b.nrm)
         |  >= $CosineDupThreshold
         |GROUP BY b.vec_id, b.cid""".stripMargin),

    // ---- exact-substring span dedup --------------------------------------
    Q("q96_span_dedup", (s, d) =>
      // Passage-level duplication report (the exact-substring dedup pass):
      // maximal runs of consecutive SpanN-gram positions that occur more
      // than once in the corpus — catches a copied paragraph inside an
      // otherwise-unique page, which doc-level dedup (q33/q36) and
      // block-aligned q92 both miss (grams slide by 1 token, so a
      // copied passage is found at ANY offset). Planted exact copies
      // duplicate every gram; the first-token-dropped near copies
      // realign to one long span each. Plan shape in DedupOps.spanDedup:
      // grams shuffle as a dual-modulus BIGINT pair (16 bytes, integer
      // folds only — r10; was md5 of the joined token slice), islands
      // merge via one window per doc.
      DedupOps.spanDedup(DedupOps.corpus(Tables.documents(s, d))),
      // q96 mirror: 1-based gram positions (Spark sequence(1, n-k+1) ≡
      // DuckDB range(1, n-k+2)), dual-modulus polynomial gram key over
      // wide per-token char hashes (bit-identical integer folds on both
      // sides; statistical collision bound in DedupOps.spanDedup),
      // islands via pos − row_number — integer arithmetic end to end.
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |toks AS (SELECT doc_id, ${tokensDuck("text")} AS tk FROM corpus),
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(tk, t -> ${DedupOps.wideHashDuck("t", DedupOps.SpanP1)}) AS h1,
         |    list_transform(tk, t -> ${DedupOps.wideHashDuck("t", DedupOps.SpanP2)}) AS h2,
         |    len(tk) AS n
         |  FROM toks WHERE len(tk) >= ${DedupOps.SpanN}),
         |grams AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    ${DedupOps.spanGramDuck("h1", "i", DedupOps.SpanP1)} AS g1,
         |    ${DedupOps.spanGramDuck("h2", "i", DedupOps.SpanP2)} AS g2
         |  FROM (SELECT doc_id, h1, h2,
         |          unnest(range(1, n - ${DedupOps.SpanN - 2})) AS i
         |        FROM hs)),
         |dup AS (SELECT g1, g2 FROM grams GROUP BY g1, g2 HAVING count(*) > 1),
         |marked AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM grams JOIN dup USING (g1, g2)),
         |spans AS (
         |  SELECT doc_id, grp, count(*) AS span_len, min(pos) AS strt
         |  FROM marked GROUP BY doc_id, grp)
         |SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS n_dup_grams,
         |  count(*) AS n_spans, max(span_len) AS max_span_grams,
         |  min(strt) AS first_dup_pos
         |FROM spans GROUP BY doc_id""".stripMargin),

    // ---- ANN recall report -------------------------------------------------
    Q("q97_ann_recall", (s, d) => core.Materialize.caching { c =>
      // The number an ANN user actually needs (VERDICT r2 §missing-2,
      // measured in AnnRecallSpec, now a first-class query): recall@k of
      // each approximate index against the exact brute-force top-k, per
      // method. The prepped corpus feeds the ground truth AND all three
      // indexes — persist once; the truth set is tiny (k·|probes|) but
      // joins three times, so it persists too. Hit counts are integers
      // and recall is one exact IEEE division — bit-stable cross-engine.
      val p = c(SimilarityOps.prepped(Tables.embeddings(s, d)))
      val probes = p.filter(col("vec_id") < ProbeN)
      val truth = c(SimilarityOps.bruteForceTopK(p, probes, LshK)
        .select(col("probe_id"), col("vec_id")))
      val cents = p.filter(col("vec_id").between(IvfCentroidLo, IvfCentroidHi))
      val methods = Seq(
        "ivf_nprobe3" -> SimilarityOps.ivfTopK(p, probes, cents, LshK, IvfNprobe),
        "lsh_single" -> SimilarityOps.lshTableTopK(p, probes, LshK,
          multiProbe = false),
        "lsh_multiprobe" -> SimilarityOps.lshTableTopK(p, probes, LshK,
          multiProbe = true))
      val approx = methods.map { case (m, df) =>
        df.select(lit(m).as("method"), col("probe_id"), col("vec_id"))
      }.reduce(_ unionAll _)
      // denominator = the ACTUAL truth-set size (ADVICE r4): if any
      // probe has fewer than k neighbors the constant ProbeN·k would
      // understate recall. One scalar row, broadcast onto the 3-row agg.
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      approx.join(truth, Seq("probe_id", "vec_id"))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nTruth))
        .select(col("method"), col("n_hits"), col("n_truth"),
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    },
      // q97 mirror: truth = q38's brute force at k=$LshK; the three
      // approximate arms are q46/q39/q47's CTEs verbatim; hit counts are
      // integers and recall is one exact IEEE division.
      {
        val flips = ("bucket" +: (0 until SimilarityOps.TableBits)
          .map(i => s"xor(bucket, ${1L << i})")).mkString("[", ", ", "]")
        s"""WITH prepped AS (
           |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm,
           |         ${SimilarityOps.tableBucketsDuck("v")} AS buckets FROM (
           |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings)),
           |truth AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY cosine DESC, vec_id) AS rk FROM (
           |      SELECT p.vec_id AS probe_id, c.vec_id,
           |        ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
           |      FROM prepped p, prepped c
           |      WHERE p.vec_id < $ProbeN AND p.vec_id <> c.vec_id))
           |  WHERE rk <= $LshK),
           |idx AS (
           |  SELECT vec_id, v, nrm, t.tbl, buckets[t.tbl + 1] AS bucket
           |  FROM prepped,
           |       (SELECT unnest(range(0, ${SimilarityOps.NumTables})) AS tbl) t),
           |sing AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY cosine DESC, vec_id) AS rk FROM (
           |      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id,
           |        ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
           |      FROM idx p JOIN idx c ON p.tbl = c.tbl AND p.bucket = c.bucket
           |      WHERE p.vec_id < $ProbeN AND p.vec_id <> c.vec_id))
           |  WHERE rk <= $LshK),
           |mprobes AS (
           |  SELECT probe_id, pv, pn, tbl, unnest($flips) AS bucket FROM (
           |    SELECT vec_id AS probe_id, v AS pv, nrm AS pn, tbl, bucket
           |    FROM idx WHERE vec_id < $ProbeN)),
           |multi AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY cosine DESC, vec_id) AS rk FROM (
           |      SELECT DISTINCT p.probe_id, c.vec_id,
           |        ${SimilarityOps.dotDuck("p.pv", "c.v")} / (p.pn * c.nrm) AS cosine
           |      FROM idx c JOIN mprobes p ON p.tbl = c.tbl AND p.bucket = c.bucket
           |      WHERE p.probe_id <> c.vec_id))
           |  WHERE rk <= $LshK),
           |centroids AS (
           |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM prepped
           |  WHERE vec_id BETWEEN $IvfCentroidLo AND $IvfCentroidHi),
           |assign AS (
           |  SELECT vec_id, v, nrm, cid FROM (
           |    SELECT p.vec_id, p.v, p.nrm, ct.cid,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY ${SimilarityOps.dotDuck("p.v", "ct.cv")} / (p.nrm * ct.cn) DESC,
           |                 ct.cid) AS arn
           |    FROM prepped p, centroids ct)
           |  WHERE arn = 1),
           |passign AS (
           |  SELECT vec_id, v, nrm, cid FROM (
           |    SELECT p.vec_id, p.v, p.nrm, ct.cid,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY ${SimilarityOps.dotDuck("p.v", "ct.cv")} / (p.nrm * ct.cn) DESC,
           |                 ct.cid) AS arn
           |    FROM prepped p, centroids ct WHERE p.vec_id < $ProbeN)
           |  WHERE arn <= $IvfNprobe),
           |ivf AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY cosine DESC, vec_id) AS rk FROM (
           |      SELECT p.vec_id AS probe_id, c.vec_id,
           |        ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
           |      FROM passign p JOIN assign c ON p.cid = c.cid
           |      WHERE p.vec_id <> c.vec_id))
           |  WHERE rk <= $LshK),
           |approx AS (
           |  SELECT 'ivf_nprobe3' AS method, probe_id, vec_id FROM ivf
           |  UNION ALL SELECT 'lsh_single', probe_id, vec_id FROM sing
           |  UNION ALL SELECT 'lsh_multiprobe', probe_id, vec_id FROM multi),
           |hits AS (
           |  SELECT method, count(*) AS n_hits
           |  FROM approx JOIN truth USING (probe_id, vec_id) GROUP BY method),
           |nt AS (SELECT count(*) AS n_truth FROM truth)
           |SELECT method, n_hits, n_truth,
           |  CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
           |FROM hits, nt""".stripMargin
      }),

    // ---- token-budget corpus selection ------------------------------------
    Q("q98_budget_select", (s, d) => core.Materialize.caching { c =>
      // Quality-ordered token-budget curation: per language, admit
      // documents best-quality-first until the token budget; a doc is
      // admitted if its span STARTS under budget (the q83 rule).
      // Integer running sum (bit-exact cross-engine; a double cumsum
      // would not be) SHARDED on (lang, descending-quality bucket) via
      // ShardedWindows — the bucket is a monotone function of the sort
      // key (equal scores share a bucket, higher scores sort into lower
      // buckets), so the regrouped sum is bit-identical to the one-task-
      // per-language window it replaces, with QualityShards× the
      // parallelism per language.
      // Persisted for the same reason as q83's toks: the running sum's
      // two branches can't share a plan (window pruned from the totals
      // side), and the quality regexes are the dominant cost — 4 narrow
      // columns cache cheaply.
      val scored = c(qualitySpark("text").foldLeft(Tables.documents(s, d)) {
        case (df, (n, e)) => df.withColumn(n, expr(e))
      }.withColumn("quality_score", expr(qualityScoreExpr))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          col("quality_score"))
        // quality ∈ [0,1] (GraftProps law) → shard ∈ 0..QualityShards,
        // descending in score: shard order ≡ quality-desc order
        .withColumn("shard",
          expr(s"CAST(floor((1.0 - quality_score) * $QualityShards) AS INT)")))
      ShardedWindows.runningSum(scored, "lang", "shard",
          Seq(col("quality_score").desc, col("doc_id")), "n_tokens", "cum")
        .filter(col("cum") - col("n_tokens") < TokenBudget)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_tokens")).as("tokens_kept"),
          min(col("quality_score")).as("min_quality_kept"))
    },
      // q98 mirror: quality_score is the q30-parity expression; the
      // running sum is over BIGINT token counts (integer window sums are
      // cross-engine safe; double ones are not), one division never
      // happens — min(quality_score) carries the double through unchanged.
      {
        val cols = qualityDuck("text").map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
        s"""WITH scored AS (
           |  SELECT lang, doc_id, n_tokens, $qualityScoreExpr AS quality_score FROM (
           |    SELECT lang, doc_id, $cols FROM documents)),
           |c AS (
           |  SELECT lang, n_tokens, quality_score,
           |    CAST(sum(n_tokens) OVER (PARTITION BY lang
           |      ORDER BY quality_score DESC, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM scored)
           |SELECT lang, count(*) AS n_docs_kept,
           |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           |  min(quality_score) AS min_quality_kept
           |FROM c WHERE cum - n_tokens < $TokenBudget GROUP BY lang""".stripMargin
      }),

    Q("q100_heavy_hitters", (s, d) => {
      // Exact top-k tokens with a vocabulary-independent shuffle — the
      // scale form of q29. q29's exact aggregate shuffles one partial
      // count per DISTINCT token per map partition; on web text the
      // vocabulary grows quasi-linearly with the corpus, so at 100 TB
      // the shuffle IS the vocabulary. Here pass 1 builds a Misra-Gries
      // sketch (native `mg_sketch`, state ≤ 2·cap terms per partition,
      // k-bounded partial merge → one ≤2·cap-term struct reaches the
      // driver), pass 2 rescans counting ONLY the broadcast candidate
      // terms. Provably exact — not approximate — whenever the k-th
      // candidate count exceeds the sketch's err bound (≤ n/(cap+1)):
      // at HhSketchCap=4096 any token above 1/4097 relative frequency
      // is guaranteed a candidate (stopwords sit ~1e-2; FreqSketchSpec
      // pins the guarantee and demonstrates its failure mode).
      // Two scans of the token stream vs a full-vocab shuffle is the
      // right 100-TB trade; both scans are narrow maps into tiny aggs.
      val toks = Tables.documents(s, d)
        .select(explode(expr(tokensSpark("text"))).as("tok"))
      // err rides on every candidate row so the exactness precondition
      // is ENFORCED at runtime, not just documented: after the top-k
      // cut, every surviving count must exceed err (⇒ the k-th does ⇒
      // any true top-k member was guaranteed a candidate slot). On a
      // distribution too flat for the capacity, assert_true raises
      // instead of returning a plausible-looking wrong "exact" answer.
      // isnull(assert_true(..)) = TRUE on the passing path but is not
      // statically foldable, so the check survives optimization; the
      // filter references err, so pruning keeps it out of the output
      // schema without dropping the check.
      val cands = toks.agg(expr(s"mg_sketch(tok, $HhSketchCap)").as("sk"))
        .select(explode(col("sk.terms")).as("tok"), col("sk.err").as("err"))
      toks.join(broadcast(cands), "tok")
        .groupBy(col("tok"), col("err")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(TopK)
        .where(isnull(expr(
          "assert_true(cnt > err, 'mg_sketch screen cannot certify " +
            "exactness at this capacity: raise HhSketchCap')")))
        .select(col("tok"), col("cnt"))
    },
      // q100 is exact (the sketch only screens candidates; the counts are
      // a rescan), so the oracle is the plain exact top-k
      s"""SELECT tok, count(*) AS cnt FROM (
         |  SELECT unnest(${tokensDuck("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY cnt DESC, tok LIMIT $TopK""".stripMargin),

    Q("q101_surprisal", (s, d) => core.Materialize.caching { c =>
      // Unigram-LM quality filter (the CCNet/RedPajama "perplexity
      // filter" family member), made bit-exact: token surprisal is
      // computed in WHOLE BITS as floor(log2(N/cnt)) =
      // length(bin(N DIV cnt)) − 1 — pure integer arithmetic, so
      // per-doc bit totals are BIGINTs and cross-engine exact (a
      // transcendental ln-based score is not; the q84 reasoning).
      // Shape: per-(doc, tok) counts (the only corpus-wide shuffle —
      // distinct pairs, not the raw token stream), unigram totals from
      // a second small agg, bits computed once per DISTINCT token on
      // the vocabulary side and joined back UNHINTED (vocabulary is
      // corpus-proportional; AQE broadcasts while small — q84), N as a
      // broadcast scalar. The flag compare is integer-only:
      // bits·16 > 65·n_toks ⟺ mean > 4.0625 bits/token — no float
      // boundary can disagree between engines. Per-lang report:
      // integer sums + ONE IEEE division per output row.
      val pair = c(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("k")))
      val tf = pair.groupBy(col("tok")).agg(sum(col("k")).as("cnt"))
      val n = tf.agg(sum(col("cnt")).as("n"))
      val tokBits = tf.crossJoin(broadcast(n))
        .select(col("tok"),
          expr("CAST(length(bin(n DIV cnt)) - 1 AS BIGINT)").as("bits"))
      val perDoc = pair.join(tokBits, "tok")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("k") * col("bits")).as("bits"),
          sum(col("k")).as("n_toks"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bits") * SurprisalFlagDen >
            col("n_toks") * SurprisalFlagNum, 1L).otherwise(0L))
            .as("flagged"),
          sum(col("bits")).as("total_bits"),
          sum(col("n_toks")).as("total_tokens"))
        .withColumn("bits_per_token",
          col("total_bits").cast("double") /
            col("total_tokens").cast("double"))
    },
      // q101 mirror: Spark length(bin(x)) ≡ DuckDB length(format('{:b}', x))
      // (binary digits of a positive BIGINT, no leading zeros); everything
      // up to the final division is BIGINT
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest(${tokensDuck("text")}) AS tok
         |  FROM documents),
         |pair AS (
         |  SELECT doc_id, lang, tok, count(*) AS k
         |  FROM toks GROUP BY doc_id, lang, tok),
         |tf AS (SELECT tok, CAST(sum(k) AS BIGINT) AS cnt FROM pair GROUP BY tok),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tf),
         |tb AS (
         |  SELECT tok, CAST(length(format('{:b}', n // cnt)) - 1 AS BIGINT) AS bits
         |  FROM tf CROSS JOIN n),
         |db AS (
         |  SELECT doc_id, lang, CAST(sum(k * bits) AS BIGINT) AS bits,
         |    CAST(sum(k) AS BIGINT) AS n_toks
         |  FROM pair JOIN tb USING (tok) GROUP BY doc_id, lang)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(count(*) FILTER (bits * $SurprisalFlagDen
         |    > n_toks * $SurprisalFlagNum) AS BIGINT) AS flagged,
         |  CAST(sum(bits) AS BIGINT) AS total_bits,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(bits) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE)
         |    AS bits_per_token
         |FROM db GROUP BY lang""".stripMargin),

    Q("q102_temperature_mix", (s, d) => {
      // Temperature-based mixing weights (α = 0.5): the multilingual /
      // multi-source rebalancing rule w_s ∝ n_s^α that upsamples tails
      // relative to proportional mixing. α = 1/2 is the one temperature
      // whose power is an IEEE-exact primitive (sqrt is correctly
      // rounded; pow is not) — so the whole report is bit-stable
      // cross-engine PROVIDED the normalizer Σ√n_s folds in a defined
      // order: collect_list gives nondeterministic order, array_sort
      // pins it, and the HOF fold is left-to-right by spec (DuckDB
      // mirror: list_sort + list_reduce over the same values). Counts
      // aggregate distributed; only |sources| scalars reach the fold.
      // target_docs = floor(T·√n_s / Z) — identical op sequence on both
      // sides, so the floor boundary cannot disagree.
      val counts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val z = counts.agg(expr(
        """aggregate(array_sort(collect_list(sqrt(CAST(n_docs AS DOUBLE)))),
          |  CAST(0.0 AS DOUBLE), (a, x) -> a + x)""".stripMargin).as("z"))
      counts.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          (sqrt(col("n_docs").cast("double")) / col("z")).as("weight"),
          expr(s"CAST(floor($MixTargetDocs * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT)")
            .as("target_docs"))
    },
      // q102 mirror: list_prepend(0.0) ≡ Spark's 0.0-initialized fold
      // (0.0 + x0 = x0 exactly); list_sort ≡ array_sort on doubles
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |z AS (
         |  SELECT list_reduce(
         |    list_prepend(0.0::DOUBLE,
         |      list_sort(list(sqrt(CAST(n_docs AS DOUBLE))))),
         |    (a, x) -> a + x) AS z
         |  FROM counts)
         |SELECT source, n_docs,
         |  sqrt(CAST(n_docs AS DOUBLE)) / z AS weight,
         |  CAST(floor($MixTargetDocs * sqrt(CAST(n_docs AS DOUBLE)) / z)
         |    AS BIGINT) AS target_docs
         |FROM counts CROSS JOIN z""".stripMargin),

    Q("q103_hash_embed", (s, d) => core.Materialize.caching { c =>
      // Feature-hash text embeddings (the hashing trick) + exact
      // retrieval — text becomes a vector with NO model: bucket
      // j = h(tok) mod D, sign from the next hash bit, weight = token
      // count, so every coordinate is an exact BIGINT and the oracle
      // compares bit-for-bit (dot products are integer sums; the two
      // sqrts and one division are the only IEEE ops, identical
      // sequence both engines). The embedding never materializes as an
      // array: docs live as ≤ D (doc, bucket, weight) rows, dot =
      // equi-join on bucket + integer product-sum — the relational form
      // of cosine, which is also how the DuckDB mirror states it.
      // Scale shape: per-doc state is ≤ D rows (narrow aggs); retrieval
      // is brute-force against a BROADCAST probe set (the q38 cost
      // model — exact truth; the LSH/IVF indexes q39/q46/q47 are the
      // approximate scale path for big probe sets).
      val pair = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
        .withColumn("h", expr(TextOps.rollingHashSpark("tok")))
        .withColumn("j", col("h") % HashDim)
        .withColumn("w",
          expr(s"k * (CASE WHEN (h DIV $HashDim) % 2 = 0 THEN 1L ELSE -1L END)"))
      val buckets = c(pair.groupBy(col("doc_id"), col("j"))
        .agg(sum(col("w")).as("w")))
      val norms = buckets.groupBy(col("doc_id"))
        .agg(sum(col("w") * col("w")).as("n2")).filter(col("n2") > 0)
      val probeB = buckets.filter(col("doc_id") < ProbeN)
        .select(col("doc_id").as("probe_id"), col("j"), col("w").as("pw"))
      val probeN = norms.filter(col("doc_id") < ProbeN)
        .select(col("doc_id").as("probe_id"), col("n2").as("pn2"))
      val dots = buckets.join(broadcast(probeB), "j")
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(sum(col("w") * col("pw")).as("dot"))
      val scored = dots.join(norms, "doc_id")
        .join(broadcast(probeN), "probe_id")
        .withColumn("cosine", col("dot").cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= LshK)
        .select(col("probe_id"), col("doc_id"), col("cosine"))
    },
      // q103 mirror: the relational cosine — integer product-sums joined
      // on the hash bucket; sqrt·sqrt then one division, same op sequence
      s"""WITH pair AS (
         |  SELECT doc_id, tok, count(*) AS k FROM (
         |    SELECT doc_id, unnest(${tokensDuck("text")}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |hashed AS (
         |  SELECT doc_id, h % $HashDim AS j,
         |    k * (CASE WHEN (h // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) AS w
         |  FROM (SELECT doc_id, k, ${TextOps.rollingHashDuck("tok")} AS h
         |        FROM pair)),
         |buckets AS (
         |  SELECT doc_id, j, CAST(sum(w) AS BIGINT) AS w
         |  FROM hashed GROUP BY doc_id, j),
         |norms AS (
         |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
         |  FROM buckets GROUP BY doc_id HAVING sum(w * w) > 0),
         |dots AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id,
         |    CAST(sum(c.w * p.w) AS BIGINT) AS dot
         |  FROM buckets c JOIN buckets p USING (j)
         |  WHERE p.doc_id < $ProbeN AND c.doc_id <> p.doc_id
         |  GROUP BY p.doc_id, c.doc_id)
         |SELECT probe_id, doc_id, cosine FROM (
         |  SELECT probe_id, d.doc_id,
         |    CAST(dot AS DOUBLE) /
         |      (sqrt(CAST(pn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))
         |      AS cosine,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY CAST(dot AS DOUBLE) /
         |        (sqrt(CAST(pn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))
         |        DESC, d.doc_id) AS rk
         |  FROM dots d
         |  JOIN norms cn ON d.doc_id = cn.doc_id
         |  JOIN norms pn ON d.probe_id = pn.doc_id)
         |WHERE rk <= $LshK""".stripMargin),

    Q("q106_bm25", (s, d) =>
      core.Materialize.caching(bm25Plan(s, d)),
      // q106 mirror: the same whole-bit idf (format('{:b}', …) ≡ bin),
      // the same IEEE op sequence per term score, and the q102
      // order-pinned fold (list_prepend(0.0) ≡ the 0.0-initialized
      // aggregate; 0.0 + x0 = x0 exactly)
      Bm25DuckSql),

    Q("q107_dsir_weights", (s, d) =>
      core.Materialize.caching(dsirPlan(s, d)),
      // q107 mirror: identical hashed-feature construction (1-based list
      // indexing ≡ element_at; range(1, len) is end-exclusive ≡
      // sequence(1, len−1) inclusive), identical whole-bit llr via
      // format('{:b}', …) ≡ bin, BIGINT arithmetic throughout
      s"""WITH toks AS (
         |  SELECT doc_id, source, ${tokensDuck("text")} AS tk
         |  FROM documents),
         |uni AS (SELECT doc_id, source, unnest(tk) AS g FROM toks),
         |big AS (
         |  SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS g
         |  FROM (SELECT doc_id, source, tk, unnest(range(1, len(tk))) AS i
         |        FROM toks WHERE len(tk) >= 2)),
         |feats AS (
         |  SELECT doc_id, source,
         |    ${TextOps.rollingHashDuck("g")} % $DsirBuckets AS b,
         |    count(*) AS cnt
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
         |  GROUP BY doc_id, source, b),
         |raw AS (
         |  SELECT b, CAST(sum(cnt) + 1 AS BIGINT) AS c_r FROM feats
         |  GROUP BY b),
         |tgt AS (
         |  SELECT b, CAST(sum(cnt) AS BIGINT) AS t0 FROM feats
         |  WHERE source = '$DsirTarget' GROUP BY b),
         |dist AS (
         |  SELECT b, c_r, coalesce(t0, 0) + 1 AS c_t
         |  FROM raw LEFT JOIN tgt USING (b)),
         |totals AS (
         |  SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
         |    CAST(sum(c_r) AS BIGINT) AS n_r FROM dist),
         |llr AS (
         |  SELECT b,
         |    (CAST(length(format('{:b}', c_t)) AS BIGINT)
         |      - CAST(length(format('{:b}', c_r)) AS BIGINT))
         |    + (CAST(length(format('{:b}', n_r)) AS BIGINT)
         |      - CAST(length(format('{:b}', n_t)) AS BIGINT)) AS llr
         |  FROM dist CROSS JOIN totals)
         |SELECT doc_id, source, CAST(sum(cnt) AS BIGINT) AS n_feats,
         |  CAST(sum(cnt * llr) AS BIGINT) AS weight
         |FROM feats JOIN llr USING (b)
         |WHERE source <> '$DsirTarget'
         |GROUP BY doc_id, source
         |ORDER BY weight DESC, doc_id LIMIT $DsirTopK""".stripMargin),

    // ---- classifier-based quality filtering (supervised NB) -------------
    Q("q165_quality_classifier", (s, d) => {
      // The GPT-3/LLaMA-family supervised quality filter: train a
      // multinomial Naive Bayes on exemplar-source positives vs the
      // rest, score every doc by its integer log-odds margin, keep on
      // score > 0 — see [[nbScoresOn]] for the whole-bit training
      // identity and the one-shuffle scale shape. Reported per source
      // (the corpus-level audit view); per-doc decisions + planted
      // on/off-distribution recall are pinned in LlmOpsSpec.
      core.Materialize.caching(nbClassifierPlanOn(Tables.documents(s, d)))
    },
      // q165 mirror: identical feature CTEs as q107; class counts via
      // FILTERed sums, the same bit-length log-odds, the same integer
      // keep compare; one division per output row, identical sequence
      s"""WITH toks AS (
         |  SELECT doc_id, source, ${tokensDuck("text")} AS tk
         |  FROM documents),
         |uni AS (SELECT doc_id, source, unnest(tk) AS g FROM toks),
         |big AS (
         |  SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS g
         |  FROM (SELECT doc_id, source, tk, unnest(range(1, len(tk))) AS i
         |        FROM toks WHERE len(tk) >= 2)),
         |feats AS (
         |  SELECT doc_id, source,
         |    ${TextOps.rollingHashDuck("g")} % $DsirBuckets AS b,
         |    count(*) AS cnt
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
         |  GROUP BY doc_id, source, b),
         |cls AS (
         |  SELECT b,
         |    CAST(coalesce(sum(CASE WHEN source = '$DsirTarget'
         |      THEN cnt END), 0) AS BIGINT) AS c_pos,
         |    CAST(coalesce(sum(CASE WHEN source <> '$DsirTarget'
         |      THEN cnt END), 0) AS BIGINT) AS c_neg
         |  FROM feats GROUP BY b),
         |totals AS (
         |  SELECT CAST(sum(c_pos) AS BIGINT) AS np0,
         |    CAST(sum(c_neg) AS BIGINT) AS nn0 FROM cls),
         |wts AS (
         |  SELECT b,
         |    (${bitsDuck("c_pos + 1")} - ${bitsDuck("c_neg + 1")})
         |    + (${bitsDuck(s"nn0 + $DsirBuckets")}
         |       - ${bitsDuck(s"np0 + $DsirBuckets")}) AS w
         |  FROM cls CROSS JOIN totals),
         |scored AS (
         |  SELECT doc_id, source, CAST(sum(cnt * w) AS BIGINT) AS score
         |  FROM feats JOIN wts USING (b)
         |  GROUP BY doc_id, source)
         |SELECT source, count(*) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN score > 0 THEN 1 END), 0) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(score) AS BIGINT) AS total_score,
         |  CAST(coalesce(sum(CASE WHEN score > 0 THEN 1 END), 0) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS kept_frac
         |FROM scored GROUP BY source""".stripMargin),

    // ---- hybrid retrieval: reciprocal-rank fusion -----------------------
    Q("q173_rrf_fusion", (s, d) => core.Materialize.caching { c =>
      // the production retrieval stack's merge step: a LEXICAL ranker
      // (q106 BM25 more-like-this) and a SEMANTIC one (q38 brute-force
      // cosine) rank the same corpus for the same probes, and RRF
      // fuses them on RANKS ALONE — rrf(d) = Σ_lists 1/(k + rank_d),
      // k = 60 — so the fusion is scoring-scale-free (BM25 bits and
      // cosine doubles never meet) and integer-exact once scaled:
      // points = 1e6 DIV (60 + rank), a BIGINT sum. Docs surfaced by
      // BOTH rankers rise (n_lists = 2); each side's contribution is
      // bounded by its rank. Scale: both inputs are already top-K per
      // probe (|probes|·K rows each), so fusion is a union + one tiny
      // hash aggregate + one WindowGroupLimit — the heavy lifting
      // stays inside the rankers, which is the point of fusing ranks
      // instead of re-scoring.
      import org.apache.spark.sql.expressions.Window
      val bm = bm25Plan(s, d)(c)
      val lex = bm.select(col("query_id"), col("doc_id"),
        col("rk").cast("long").as("rk"))
      val p = SimilarityOps.prepped(Tables.embeddings(s, d))
      val sem = SimilarityOps.bruteForceTopK(p,
          p.filter(col("vec_id") < Bm25ProbeN), TopK)
        .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
          col("rk").cast("long").as("rk"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("doc_id"))
      lex.unionAll(sem)
        .withColumn("pts", expr(s"$RrfScale DIV ($RrfK + rk)"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("pts")).as("rrf"), count(lit(1)).as("n_lists"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= FusedK)
    },
      // q173 mirror: both ranker CTEs are the SAME oracle texts as
      // q106/q38 (shared vals — rank drift would be a bug), fused on
      // ranks with the identical integer point formula
      s"""WITH bm AS (
         |  SELECT query_id, doc_id, rk FROM ($Bm25DuckSql)),
         |cs AS (
         |  SELECT probe_id AS query_id, vec_id AS doc_id, rk
         |  FROM ($CosineTopkDuckSql) WHERE probe_id < $Bm25ProbeN),
         |u AS (
         |  SELECT query_id, doc_id, $RrfScale // ($RrfK + rk) AS pts
         |  FROM (SELECT * FROM bm UNION ALL SELECT * FROM cs)),
         |f AS (
         |  SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf,
         |         CAST(count(*) AS BIGINT) AS n_lists
         |  FROM u GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf, n_lists, rk FROM (
         |  SELECT query_id, doc_id, rrf, n_lists,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
         |  FROM f)
         |WHERE rk <= $FusedK""".stripMargin),

    // ---- inverted index build (impact-ordered, capped postings) ---------
    Q("q110_inverted_index", (s, d) => {
      // The index-build counterpart of q106's query-time BM25: per term,
      // exact df and total tf plus the top-PostingsK postings by impact
      // (tf desc, doc_id tiebreak) rendered doc:tf — the capped
      // "head index" WAND-style early-termination retrieval serves from
      // memory while the full postings stay in the (term-bucketed, T9)
      // base layout. The cap is what makes stopword terms safe: a term
      // appearing in every doc of a 100-TB crawl still contributes ONE
      // bounded row, not a corpus-sized array.
      //
      // Plan: two exchanges, DELIBERATELY. A repartition(term) before
      // the tf aggregate would cut this to one (term alone satisfies
      // every downstream distribution requirement) — measured, it does —
      // but that single exchange moves RAW tokens hashed only by term,
      // so a stopword's entire token stream (Σ tf ≈ 50·|docs| rows for
      // "the" on web text) lands on ONE reducer: a guaranteed straggler
      // at 100 TB. The default plan instead shuffles (term, doc)
      // map-side partials first — hot terms spread across their docs,
      // volume compressed to tf rows — and only then re-shuffles the
      // one-row-per-(term, doc) tf table on term for the window, where
      // per-term skew is bounded by |docs| and inherent to building a
      // per-term result at all. The rank → CASE-inside-agg trick
      // (instead of filter(rk<=k) + re-join for df) keeps the window
      // output single-pass: collect_list skips the NULLs the CASE
      // leaves on rank > k, and array_sort on the (rk, rendered) struct
      // pins the emission order that collect_list alone would leave
      // partition-dependent.
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("term"))
        .orderBy(col("tf").desc, col("doc_id"))
      tf.withColumn("rk", row_number().over(w))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          sum(col("tf")).as("total_tf"),
          array_join(
            transform(
              array_sort(collect_list(when(col("rk") <= PostingsK,
                struct(col("rk"),
                  concat_ws(":", col("doc_id"), col("tf")).as("p"))))),
              x => x.getField("p")),
            ",").as("postings"))
    },
      // q110 mirror: string_agg(... ORDER BY rk) ≡ the array_sort-then-
      // join rendering (rk is unique per term so both orders are total);
      // aggregate functions in both engines skip the NULLs the CASE
      // leaves on rank > k
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensDuck("text")}) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT term, doc_id, count(*) AS tf FROM toks
         |  WHERE term <> '' GROUP BY 1, 2),
         |ranked AS (
         |  SELECT term, doc_id, tf,
         |    CAST(row_number() OVER (PARTITION BY term
         |      ORDER BY tf DESC, doc_id) AS BIGINT) AS rk
         |  FROM tf)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
         |  string_agg(CASE WHEN rk <= $PostingsK
         |               THEN doc_id || ':' || tf END, ',' ORDER BY rk)
         |    AS postings
         |FROM ranked GROUP BY term""".stripMargin),

    // ---- per-source document caps (domain anti-domination) --------------
    Q("q113_source_cap", (s, d) => {
      // The C4/RefinedWeb-style domain cap: no source may contribute more
      // than CapPerSource documents; keepers are chosen by a
      // DETERMINISTIC quality order (distinct-token count desc, doc_id
      // tiebreak) so reruns and the oracle agree row-for-row. rank ≤ k
      // over a partitioned window compiles to WindowGroupLimit: each
      // task keeps a k-row heap per source, so a skew source (one domain
      // = half the crawl — the case the cap exists FOR) costs k rows of
      // state, never a full per-source sort.
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        expr(s"CAST(size(array_distinct(${tokensSpark("text")})) AS BIGINT)")
          .as("n_uniq"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_uniq").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= CapPerSource)
    },
      // q113 mirror: identical deterministic order (n_uniq desc, doc_id)
      s"""SELECT doc_id, source, n_uniq, rk FROM (
         |  SELECT doc_id, source, n_uniq,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_uniq DESC, doc_id) AS BIGINT) AS rk
         |  FROM (SELECT doc_id, source,
         |          CAST(len(list_distinct(${tokensDuck("text")})) AS BIGINT)
         |            AS n_uniq
         |        FROM documents))
         |WHERE rk <= $CapPerSource""".stripMargin),

    // ---- bigram PMI collocation mining ----------------------------------
    Q("q114_pmi_bigrams", (s, d) => {
      // Adjacent-bigram pointwise mutual information — the standard
      // collocation detector a curation pipeline runs to find glued
      // phrases ("new york") worth treating as units. Made bit-exact the
      // q101/q106 way: PMI in WHOLE BITS, bits(c_ab)+bits(N) −
      // bits(c_a)−bits(c_b) ≈ floor-log2 of (c_ab·N)/(c_a·c_b) with NO
      // product ever formed — at 100-TB counts c_a·c_b overflows BIGINT,
      // the per-term bit lengths never do. Marginals are aggregated from
      // the COMPRESSED bigram table (≤ |vocab|² rows, web-real ~1e9),
      // not by re-scanning the token stream; N is one scalar broadcast.
      core.Materialize.caching(pmiPlanOn(Tables.documents(s, d)))
    },
      // q114 mirror: 1-based tk[i] ≡ element_at, range end-exclusive ≡
      // sequence inclusive (the q107 equivalences), whole-bit pmi via
      // format('{:b}', …) ≡ bin
      s"""WITH tk AS (
         |  SELECT ${tokensDuck("text")} AS tk FROM documents
         |  WHERE len(${tokensDuck("text")}) >= 2),
         |big AS (
         |  SELECT tk[i] AS a, tk[i + 1] AS b
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)),
         |cab AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM big
         |  GROUP BY a, b),
         |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
         |cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY b),
         |nn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM cab)
         |SELECT a, b, c_ab, c_a, c_b,
         |  (${bitsDuck("c_ab")} + ${bitsDuck("n_big")})
         |    - (${bitsDuck("c_a")} + ${bitsDuck("c_b")}) AS pmi_bits
         |FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN nn
         |WHERE c_ab >= $PmiMinCount
         |ORDER BY pmi_bits DESC, c_ab DESC, a, b
         |LIMIT $PmiTopK""".stripMargin),

    // ---- bigram-LM quality scoring (transition surprisal) ---------------
    Q("q132_bigram_lm_score", (s, d) => {
      // The 2-gram upgrade of q101's unigram surprisal filter — the
      // published perplexity-filter family's actual shape (CCNet scores
      // with an n-gram LM, not a unigram one): a doc whose WORDS are
      // common but whose TRANSITIONS are broken (scrambled text, word-
      // salad spam, bad OCR segment order) sails through q101 and is
      // exactly what this catches. Per-transition surprisal in WHOLE
      // BITS with add-1 smoothing over the vocabulary:
      // bits(a→b) = floor(log2((c_a + V)/(c_ab + 1)))
      //           = length(bin((c_a + V) DIV (c_ab + 1))) − 1
      // (pure BIGINT; the integer floor never crosses the power of two
      // below — the q101/q111 identity; c_a + V ≥ c_ab + 1 always, so
      // the ratio ≥ 1 and the bin length is defined). The flag compare
      // is integer-only: bits·16 > 65·n_trans ⟺ mean > 4.0625
      // bits/transition. Per-lang report; one IEEE division per row.
      //
      // Scale shape: ONE corpus-wide shuffle — the per-doc compressed
      // (doc, a, b, k) table (distinct transitions per doc, not the raw
      // stream); corpus bigram counts and the left-context marginal
      // aggregate FROM it (q114's compressed-table discipline); V and
      // nothing else broadcasts as a scalar; the transition-bits table
      // joins back unhinted (bigram vocabulary is corpus-proportional —
      // the q84 no-forced-broadcast reasoning).
      core.Materialize.caching(bigramLmPlanOn(Tables.documents(s, d)))
    },
      // q132 mirror: same compressed per-doc transition table, same add-1
      // whole-bit surprisal ((c_a + V) // (c_ab + 1) then bin length),
      // same integer flag compare, one IEEE division per report row
      s"""WITH docs AS (
         |  SELECT doc_id, lang, ${tokensDuck("text")} AS tk FROM documents
         |  WHERE len(${tokensDuck("text")}) >= 2),
         |pair AS (
         |  SELECT doc_id, lang, a, b, CAST(count(*) AS BIGINT) AS k FROM (
         |    SELECT doc_id, lang, tk[i] AS a, tk[i + 1] AS b
         |    FROM (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i
         |          FROM docs))
         |  GROUP BY 1, 2, 3, 4),
         |cab AS (
         |  SELECT a, b, CAST(sum(k) AS BIGINT) AS c_ab FROM pair
         |  GROUP BY a, b),
         |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
         |vv AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS v FROM cab),
         |tb AS (
         |  SELECT a, b,
         |    CAST(length(format('{:b}', (c_a + v) // (c_ab + 1))) - 1
         |      AS BIGINT) AS tbits
         |  FROM cab JOIN ca USING (a) CROSS JOIN vv),
         |db AS (
         |  SELECT doc_id, lang, CAST(sum(k * tbits) AS BIGINT) AS bits,
         |         CAST(sum(k) AS BIGINT) AS n_trans
         |  FROM pair JOIN tb USING (a, b) GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CAST(bits * $SurprisalFlagDen
         |    > n_trans * $SurprisalFlagNum AS BIGINT)) AS BIGINT) AS n_flagged,
         |  CAST(sum(bits) AS BIGINT) AS sum_bits,
         |  CAST(sum(n_trans) AS BIGINT) AS sum_trans,
         |  CAST(sum(bits) AS DOUBLE) / CAST(sum(n_trans) AS DOUBLE) AS avg_bits
         |FROM db GROUP BY 1""".stripMargin),

    // ---- embedding-space decontamination --------------------------------
    Q("q115_semantic_decontam", (s, d) => {
      // Semantic (embedding-cosine) eval-set decontamination — the
      // companion of the n-gram decontam q61/q89 for paraphrased leaks
      // an exact-substring screen can't see. Cost model: the eval suite
      // is small (thousands of probes) → BROADCAST it; the corpus side
      // is one narrow scan, no shuffle at all before the ≤|corpus|-row
      // hit aggregate. The hit test is ALL-INTEGER: coordinates quantize
      // to a 1/Q grid (floor, so both engines agree bit-for-bit), and
      // cos ≥ τ with τ = 19/20 becomes dot > 0 ∧ Den²·dot² ≥
      // Num²·|c|²·|p|² — no IEEE op survives quantization. Overflow
      // budget at Q=1000, dim 64, coords |x| ≤ ~0.53: dot ≤ 1.8e7,
      // Den²·dot² ≤ 1.3e17 < 2^63; n2·pn2·Num² ≤ 2.9e16. Probes are
      // planted as half-scaled copies of vec_id < DecontamEvalN (the q40
      // convention): cosine ≈ 1 survives quantization, so the screen
      // must flag exactly those originals.
      decontamPlanOn(Tables.embeddings(s, d))
    },
      // q115 mirror: identical quantization (left-assoc x * 0.5 * Q, floor
      // → BIGINT), identical integer hit test — no IEEE op differs
      s"""WITH dv AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, q,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(q, x -> x * x)), (acc, x) -> acc + x) AS n2
         |  FROM (SELECT vec_id,
         |          list_transform(v, x -> CAST(floor(x * $DecontamQuant) AS BIGINT)) AS q
         |        FROM dv)),
         |probes AS (
         |  SELECT probe_id, pq,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(pq, x -> x * x)), (acc, x) -> acc + x) AS pn2
         |  FROM (SELECT vec_id + $DecontamEvalOffset AS probe_id,
         |          list_transform(v, x -> CAST(floor(x * 0.5 * $DecontamQuant) AS BIGINT)) AS pq
         |        FROM dv WHERE vec_id < $DecontamEvalN)),
         |pairs AS (
         |  SELECT c.vec_id,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, len(q) + 1), i -> q[i] * pq[i])),
         |      (acc, x) -> acc + x) AS dot,
         |    n2, pn2
         |  FROM corpus c CROSS JOIN probes)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM pairs
         |WHERE dot > 0 AND ${DecontamTauDen * DecontamTauDen} * dot * dot >=
         |  ${DecontamTauNum * DecontamTauNum} * n2 * pn2
         |GROUP BY vec_id""".stripMargin),

    // ---- token-frequency spectrum (Zipf profile) ------------------------
    Q("q116_freq_spectrum", (s, d) =>
      // The corpus frequency spectrum (quantitative-linguistics form of
      // the Zipf profile): how many token TYPES occur at each count
      // magnitude, bucketed by whole bits of the count. Chosen over the
      // rank-axis profile deliberately: rank needs a global total order
      // (single-partition window at 100 TB), while the spectrum is two
      // cascaded aggregates — token (vocabulary-wide shuffle, same cost
      // class as q29) then bits(cnt) (≤ ~40 groups) — with no sort
      // anywhere. All integers, bit-exact.
      Tables.documents(s, d)
        .select(explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .groupBy(expr(bitsSpark("cnt")).as("freq_bucket"))
        .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("n_tokens"),
          min(col("cnt")).as("min_cnt"), max(col("cnt")).as("max_cnt")),
      // q116 mirror: same two cascaded aggregates, same whole-bit bucket
      s"""WITH cnt AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(${tokensDuck("text")}) AS tok FROM documents)
         |  GROUP BY tok)
         |SELECT ${bitsDuck("cnt")} AS freq_bucket,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  min(cnt) AS min_cnt, max(cnt) AS max_cnt
         |FROM cnt GROUP BY 1""".stripMargin),

    // ---- pairwise source-overlap audit ----------------------------------
    Q("q118_source_overlap", (s, d) => {
      // "Is source A a mirror of source B?" — the corpus-level audit run
      // before merging crawls (mirror sites, re-crawled dumps, and
      // wholesale scrapes show up as high shingle-Jaccard SOURCE pairs
      // long before doc-level dedup runs). Shingle sets per source via
      // the `shingle_rows` generator (streams into the distinct, no
      // per-doc array), |A∩B| by self-join on the shingle hash —
      // per-shingle fanout is bounded by |sources|² (a few hundred), so
      // a stop-shingle costs a bounded pair burst, never a corpus-sized
      // one. |A|,|B| ride a broadcast (|sources| rows). The only
      // corpus-wide shuffle is the distinct (source, shingle) pair
      // table — q93's cost class. One IEEE division per output row,
      // identical sequence in the oracle.
      core.Materialize.caching(overlapPlanOn(Tables.documents(s, d)))
    },
      // q118 mirror: same distinct (source, shingle) table (per-doc
      // distinctness subsumed by the source-level DISTINCT), same
      // self-join + lexicographic pair order, same single division
      s"""WITH ss AS (
         |  SELECT DISTINCT source, sh AS h FROM (
         |    SELECT source, unnest(${DedupOps.shingleHashesDuck("hs")}) AS sh
         |    FROM (SELECT source, ${DedupOps.tokenHashesDuck("text")} AS hs
         |          FROM documents))),
         |counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ss
         |  GROUP BY source),
         |shared AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ss a JOIN ss b USING (h)
         |  WHERE a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
         |  CAST(n_shared AS DOUBLE) /
         |    CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE) AS jaccard
         |FROM shared
         |JOIN counts ca ON source_a = ca.source
         |JOIN counts cb ON source_b = cb.source""".stripMargin),

    // ---- product quantization + ADC retrieval ---------------------------
    Q("q119_pq_adc", (s, d) =>
      core.Materialize.caching(pqAdcPlan(s, d)),
      // q119 mirror: identical quantization, 1-based list_slice ≡ slice,
      // identical integer subvector distances, identical one-Lloyd-step
      // codebook training (floor-div means via the pmod-subtraction trick,
      // so `//` and Spark's `div` agree on negatives), identical (d2, c)
      // and (adc_dist, vec_id) tie-pinned orders
      s"""WITH dv AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * $PqQuant) AS BIGINT)) AS q
         |  FROM embeddings),
         |sub AS (
         |  SELECT vec_id, j, list_slice(q, j * $PqSub + 1, j * $PqSub + $PqSub) AS s
         |  FROM (SELECT vec_id, q, unnest(range(0, $PqM)) AS j FROM dv)),
         |cent AS (
         |  SELECT vec_id AS c, j, s AS cs FROM sub
         |  WHERE vec_id BETWEEN $PqCentLo AND ${PqCentLo + PqK - 1}),
         |$pqBookCtesDuck,
         |dist AS (
         |  SELECT v.vec_id, v.j, c.c,
         |    ${pqD2Duck("v.s", "c.cs")} AS d2
         |  FROM sub v JOIN book c USING (j)),
         |codes AS (
         |  SELECT vec_id, j, c AS code FROM (
         |    SELECT vec_id, j, c,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
         |    FROM dist)
         |  WHERE rk = 1),
         |dtab AS (
         |  SELECT vec_id AS probe_id, j, c, d2 FROM dist
         |  WHERE vec_id < $ProbeN),
         |adc AS (
         |  SELECT d.probe_id, co.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_dist
         |  FROM codes co JOIN dtab d ON co.j = d.j AND co.code = d.c
         |  WHERE co.vec_id <> d.probe_id
         |  GROUP BY d.probe_id, co.vec_id)
         |SELECT probe_id, vec_id, adc_dist, rk FROM (
         |  SELECT probe_id, vec_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adc_dist, vec_id) AS BIGINT) AS rk
         |  FROM adc)
         |WHERE rk <= $LshK""".stripMargin),

    // ---- IVFADC: coarse inverted lists × PQ residual codes --------------
    Q("q120_ivfadc", (s, d) =>
      core.Materialize.caching(ivfadcPlan(s, d)),
      // q120 mirror: identical coarse assignment (full-width integer L2,
      // (cd2, cc) tie order), identical residuals, the shared trained-book
      // CTEs over residual subvectors, identical per-cell ADC tables and
      // (adc_dist, vec_id) final order
      s"""$ivfadcCtesDuck
         |SELECT probe_id, vec_id, cid, adc_dist, rk FROM (
         |  SELECT probe_id, vec_id, cid, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adc_dist, vec_id) AS BIGINT) AS rk
         |  FROM adc)
         |WHERE rk <= $LshK""".stripMargin),

    // ---- corpus drift audit (snapshot-over-snapshot) --------------------
    Q("q128_corpus_drift", (s, d) => {
      // The ingest monitor a recurring crawl runs BEFORE accepting a new
      // snapshot into the training mix: which tokens changed frequency
      // most between crawl A and crawl B? A drift burst is how template
      // spam, a new boilerplate family, or a scraper regression
      // surfaces — at the corpus level, before any doc-level filter
      // sees it. Score = the token's log-frequency-ratio in WHOLE BITS
      // (bits(c_b+1) − bits(N_b)) − (bits(c_a+1) − bits(N_a)) — the
      // q107 llr quantization with add-1 smoothing, so absent-in-one-
      // snapshot tokens score finitely and nothing ever overflows (no
      // c·N product forms, the L50/L53 discipline). The fixture seam
      // puts all planted duplicates in snapshot B, so the top of the
      // report is the duplicated content — a real drift signal, not
      // parity noise.
      //
      // Scale shape: ONE vocabulary-wide shuffle (the compressed
      // (tok, c_a, c_b) table via count_if partials — both snapshots
      // counted in one pass, no self-join of count tables); totals ride
      // a broadcast scalar row; the report is a distributed top-k
      // (TakeOrderedAndProject), never a global-window sort.
      val toks = DedupOps.corpus(Tables.documents(s, d))
        .withColumn("snap",
          when(col("doc_id") < DriftSplitId, "a").otherwise("b"))
        .select(col("snap"), explode(expr(tokensSpark("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val counts = toks.groupBy(col("tok"))
        .agg(expr("count_if(snap = 'a')").as("c_a"),
             expr("count_if(snap = 'b')").as("c_b"))
      val totals = counts.agg(sum(col("c_a")).as("n_a"),
        sum(col("c_b")).as("n_b"))
      counts.crossJoin(broadcast(totals))
        .select(col("tok"), col("c_a"), col("c_b"),
          (expr(bitsSpark("c_b + 1")) - expr(bitsSpark("n_b")) -
           expr(bitsSpark("c_a + 1")) + expr(bitsSpark("n_a")))
            .as("drift_bits"))
        .orderBy(abs(col("drift_bits")).desc, col("tok"))
        .limit(DriftTopK)
    },
      // q128 mirror: same one-pass FILTER counts, same add-1 whole-bit
      // llr, same (|drift| desc, tok) report order
      s"""WITH corpus AS (${DedupOps.corpusDuck}),
         |toks AS (
         |  SELECT CASE WHEN doc_id < $DriftSplitId THEN 'a' ELSE 'b' END
         |           AS snap,
         |         unnest(${tokensDuck("text")}) AS tok
         |  FROM corpus),
         |counts AS (
         |  SELECT tok,
         |    CAST(count(*) FILTER (snap = 'a') AS BIGINT) AS c_a,
         |    CAST(count(*) FILTER (snap = 'b') AS BIGINT) AS c_b
         |  FROM toks WHERE length(tok) > 0 GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
         |         CAST(sum(c_b) AS BIGINT) AS n_b
         |  FROM counts)
         |SELECT tok, c_a, c_b,
         |  ${bitsDuck("c_b + 1")} - ${bitsDuck("n_b")}
         |    - ${bitsDuck("c_a + 1")} + ${bitsDuck("n_a")} AS drift_bits
         |FROM counts CROSS JOIN tot
         |ORDER BY abs(${bitsDuck("c_b + 1")} - ${bitsDuck("n_b")}
         |    - ${bitsDuck("c_a + 1")} + ${bitsDuck("n_a")}) DESC, tok
         |LIMIT $DriftTopK""".stripMargin),

    // ---- random-projection (JL) compression + retrieval -----------------
    Q("q127_random_projection", (s, d) => core.Materialize.caching { c =>
      // The Johnson-Lindenstrauss tier of the embedding-compression
      // family (int8 q88 shrinks the CELLS, PQ q119 shrinks to CODES;
      // this shrinks the DIMENSIONS): a deterministic ±1 sign matrix —
      // pure integer hash, no stored projection matrix, any executor
      // regenerates any entry — maps 64-dim grid vectors to 16 dims
      // (4× less bandwidth/compute per distance), and retrieval runs
      // brute-force in the PROJECTED space. Everything stays BIGINT
      // (p[k] = Σ ±q[i] ≤ 64·10⁶; projected d² ≤ 16·(1.3·10⁸)² ≪ 2⁶³),
      // so projections AND rankings are oracle-bit-exact. AnnRecallSpec
      // measures the property JL actually promises — distance ratios
      // proj_d2/(D'·exact_d2) concentrate around 1 (spread √(2/D') =
      // 0.35) — and shows the deterministic hash ranks identically to
      // a true random sign matrix; top-k recall on the uniform fixture
      // is concentration-limited for ANY projection (documented there).
      //
      // Scale shape: projection is a narrow map (zero shuffle); the
      // probe set broadcasts (q38's exact-truth cost model — the scan
      // is the price of exactness IN the projected space; the L13/L18
      // index machinery composes on top of `p` unchanged when the
      // corpus outgrows brute force); top-k cut = WindowGroupLimit.
      import org.apache.spark.sql.expressions.Window
      // persist-before-fanout (the q61 lesson): the 1024-term projection
      // must evaluate ONCE per vector — unpersisted, Catalyst inlines it
      // past the cross join and pays it |probes|+1 times per vector.
      // (The projection itself is the UNROLLED codegen form — see
      // rpProjSpark: the HOF-lambda form evaluated interpreted and
      // measured 8× slower for the whole query at sf0.1.)
      val proj = c(quantVecs(s, d).select(col("vec_id"),
        rpProjSpark.as("p")))
      val probes = proj.filter(col("vec_id") < ProbeN)
        .select(col("vec_id").as("probe_id"), col("p").as("pp"))
      val scored = proj.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("proj_d2", expr("int_l2sq(p, pp)"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("proj_d2"), col("vec_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= LshK)
        .select(col("probe_id"), col("vec_id"), col("proj_d2"), col("rk"))
    },
      // q127 mirror: identical sign hash (same integer mix, // ≡ div on
      // the non-negative operands), identical projected-L2 tie order
      s"""WITH dv AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * $PqQuant) AS BIGINT)) AS q
         |  FROM embeddings),
         |proj AS (SELECT vec_id, $rpProjDuck AS p FROM dv),
         |probes AS (
         |  SELECT vec_id AS probe_id, p AS pp FROM proj
         |  WHERE vec_id < $ProbeN),
         |scored AS (
         |  SELECT pr.probe_id, v.vec_id,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, $RpDims + 1),
         |        i -> (v.p[i] - pr.pp[i]) * (v.p[i] - pr.pp[i]))),
         |      (acc, x) -> acc + x) AS proj_d2
         |  FROM proj v, probes pr WHERE v.vec_id <> pr.probe_id)
         |SELECT probe_id, vec_id, proj_d2, rk FROM (
         |  SELECT probe_id, vec_id, proj_d2,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY proj_d2, vec_id) AS BIGINT) AS rk
         |  FROM scored)
         |WHERE rk <= $LshK""".stripMargin),

    // ---- IVFADC + exact re-rank (the refine tier) -----------------------
    Q("q125_ivfadc_rerank", (s, d) =>
      core.Materialize.caching(ivfadcRerankPlan(s, d)),
      // q125 mirror: q120's chain cut at RerankR, then exact full-width
      // integer L2 over just the candidates, re-ranked (exact_d2, vec_id)
      s"""$ivfadcCtesDuck,
         |cand AS (
         |  SELECT probe_id, vec_id, adc_dist FROM (
         |    SELECT probe_id, vec_id, adc_dist,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY adc_dist, vec_id) AS rk
         |    FROM adc)
         |  WHERE rk <= $RerankR),
         |refine AS (
         |  SELECT c.probe_id, c.vec_id, c.adc_dist,
         |    ${fullD2Duck("cv.q", "pv.q")} AS exact_d2
         |  FROM cand c
         |  JOIN dv cv ON cv.vec_id = c.vec_id
         |  JOIN dv pv ON pv.vec_id = c.probe_id)
         |SELECT probe_id, vec_id, adc_dist, exact_d2, rk FROM (
         |  SELECT probe_id, vec_id, adc_dist, exact_d2,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY exact_d2, vec_id) AS BIGINT) AS rk
         |  FROM refine)
         |WHERE rk <= $LshK""".stripMargin),

    // ---- end-to-end curation pipeline -----------------------------------
    Q("q121_curation_pipeline", (s, d) =>
      core.Materialize.caching(curationPlan(s, d)),
      // q121 mirror: the five stage mirrors chained verbatim — q113's
      // window cap, q101's whole-bit LM (LEFT join + coalesce for
      // token-less docs), q33's keep-first hash window, q36's
      // LSH-candidate + Jaccard verify (drop the higher id of any
      // qualifying pair), q89's all-exact screen (the Spark bloom is a
      // pre-screen only), q102's pinned-order fold + floor targets
      s"""WITH c0 AS (
         |  SELECT doc_id, source, text,
         |    CAST(len(list_distinct(${tokensDuck("text")})) AS BIGINT) AS n_uniq
         |  FROM (
         |    SELECT doc_id, source, text FROM documents
         |    UNION ALL SELECT doc_id + ${DedupOps.ExactCopyOffset} AS doc_id,
         |      source, text FROM documents WHERE doc_id < ${DedupOps.ExactCopyN}
         |    UNION ALL SELECT doc_id + ${DedupOps.NearCopyOffset} AS doc_id,
         |      source, substr(text, length(${tokensDuck("text")}[1]) + 2) AS text
         |      FROM documents WHERE doc_id < ${DedupOps.NearCopyN})),
         |s1 AS (
         |  SELECT doc_id, source, text, n_uniq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY n_uniq DESC, doc_id) AS rk FROM c0)
         |  WHERE rk <= $PipeCapPerSource),
         |pair AS (
         |  SELECT doc_id, tok, count(*) AS k FROM (
         |    SELECT doc_id, unnest(${tokensDuck("text")}) AS tok FROM s1)
         |  GROUP BY doc_id, tok),
         |tf AS (SELECT tok, CAST(sum(k) AS BIGINT) AS cnt FROM pair GROUP BY tok),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tf),
         |tb AS (
         |  SELECT tok, CAST(length(format('{:b}', n // cnt)) - 1 AS BIGINT) AS bits
         |  FROM tf CROSS JOIN n),
         |db AS (
         |  SELECT doc_id, CAST(sum(k * bits) AS BIGINT) AS bits,
         |    CAST(sum(k) AS BIGINT) AS n_toks
         |  FROM pair JOIN tb USING (tok) GROUP BY doc_id),
         |s2 AS (
         |  SELECT s1.doc_id, source, text, n_uniq FROM s1 LEFT JOIN db USING (doc_id)
         |  WHERE coalesce(bits * $SurprisalFlagDen
         |    <= n_toks * $SurprisalFlagNum, TRUE)),
         |s3 AS (
         |  SELECT doc_id, source, text, n_uniq FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY ${DedupOps.contentHashDuck("text")}
         |      ORDER BY doc_id) AS rk FROM s2)
         |  WHERE rk = 1),
         |corpus AS (SELECT doc_id, text FROM c0),
         |shingled AS (${DedupOps.shingledDuckBody}),
         |sigs AS (
         |  SELECT doc_id, ${DedupOps.signatureDuck("sh")} AS sig FROM shingled
         |  WHERE doc_id IN (SELECT doc_id FROM s3)),
         |buckets AS (${DedupOps.lshBucketsDuckBody}),
         |pairs AS (${DedupOps.candidatePairsDuckBody}),
         |neardrop AS (
         |  SELECT DISTINCT id_b AS doc_id FROM (
         |    ${DedupOps.jaccardVerifyDuckBody(JaccardThreshold)})),
         |s4 AS (
         |  SELECT * FROM s3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM shingled),
         |benchsh AS (
         |  SELECT DISTINCT h FROM ex
         |  WHERE doc_id % $BenchMod = 0 AND doc_id < ${DedupOps.NearCopyOffset}),
         |contam AS (
         |  SELECT ex.doc_id FROM ex JOIN benchsh USING (h)
         |  WHERE ex.doc_id IN (SELECT doc_id FROM s4)
         |    AND NOT (ex.doc_id % $BenchMod = 0
         |             AND ex.doc_id < ${DedupOps.NearCopyOffset})
         |  GROUP BY ex.doc_id HAVING count(*) >= $ScreenMinHits),
         |s5 AS (
         |  SELECT * FROM s4
         |  WHERE NOT (doc_id % $BenchMod = 0
         |             AND doc_id < ${DedupOps.NearCopyOffset})
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |counts5 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM s5
         |  GROUP BY source),
         |z AS (
         |  SELECT list_reduce(
         |    list_prepend(0.0::DOUBLE,
         |      list_sort(list(sqrt(CAST(n_docs AS DOUBLE))))),
         |    (a, x) -> a + x) AS z
         |  FROM counts5),
         |targets AS (
         |  SELECT source, sqrt(CAST(n_docs AS DOUBLE)) / z AS weight,
         |    CAST(floor($MixTargetDocs * sqrt(CAST(n_docs AS DOUBLE)) / z)
         |      AS BIGINT) AS target_docs
         |  FROM counts5 CROSS JOIN z),
         |sel AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_selected FROM (
         |    SELECT s5.source, target_docs, row_number() OVER (
         |      PARTITION BY s5.source
         |      ORDER BY n_uniq DESC, doc_id) AS rk
         |    FROM s5 JOIN targets USING (source))
         |  WHERE rk <= target_docs GROUP BY source),
         |n0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_input FROM c0 GROUP BY source),
         |n1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_cap FROM s1 GROUP BY source),
         |n2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quality FROM s2 GROUP BY source),
         |n3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM s3 GROUP BY source),
         |n4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_near FROM s4 GROUP BY source),
         |n5 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_decontam FROM s5 GROUP BY source)
         |SELECT n0.source, n_input,
         |  coalesce(n_cap, 0) AS n_cap,
         |  coalesce(n_quality, 0) AS n_quality,
         |  coalesce(n_exact, 0) AS n_exact,
         |  coalesce(n_near, 0) AS n_near,
         |  coalesce(n_decontam, 0) AS n_decontam,
         |  coalesce(weight, 0.0) AS weight,
         |  coalesce(target_docs, 0) AS target_docs,
         |  coalesce(n_selected, 0) AS n_selected
         |FROM n0
         |LEFT JOIN n1 USING (source) LEFT JOIN n2 USING (source)
         |LEFT JOIN n3 USING (source) LEFT JOIN n4 USING (source)
         |LEFT JOIN n5 USING (source)
         |LEFT JOIN targets USING (source) LEFT JOIN sel USING (source)""".stripMargin),

    // ---- count-min sketch as relational state ---------------------------
    Q("q117_cms_reagg", (s, d) => {
      // Count-min sketch built, persisted, and RE-AGGREGATED relationally
      // (the q112 pattern for counts instead of distincts): a CMS is a
      // D×W counter matrix, which in relational form is ≤ D·W
      // (depth, pos, cnt) rows — so per-source partial sketches are a
      // groupBy with a CAPACITY-BOUNDED key space (|sources|·D·W cells,
      // independent of vocabulary!), and merging partials into the
      // corpus sketch ≡ SUM by cell, exact by associativity. That is the
      // whole scale story: unlike q29's vocabulary-sized shuffle, the
      // sketch build's shuffle key space is fixed at D·W per source, and
      // map-side combine compresses the token stream into ≤ D·W partial
      // rows per task. Point queries join the broadcast probe watchlist
      // against the merged cells: est = min over D rows. The CMS
      // one-sided guarantee (est ≥ true, over ≤ εN w.h.p.) is ENFORCED
      // in-plan via assert_true, q100-style; true counts for the ≤|probe|
      // tokens come from a broadcast-semi-join rescan, never a full
      // vocabulary aggregate. Probes include tokens ABSENT from the
      // corpus — a CMS answers those with pure overcount, pinned here.
      cmsPlanOn(s, Tables.documents(s, d))
    },
      // q117 mirror: same rolling hash, same row-hash family via 1-based
      // array-literal indexing, same left joins + coalesce for absent keys
      {
        val aArr = CmsA.mkString("[", ", ", "]")
        val bArr = CmsB.mkString("[", ", ", "]")
        val probeArr = cmsProbes.map(t => s"'${t.replace("'", "''")}'")
          .mkString("[", ", ", "]")
        s"""WITH toks AS (
           |  SELECT source, unnest(${tokensDuck("text")}) AS tok FROM documents),
           |th AS (
           |  SELECT source, ${TextOps.rollingHashDuck("tok")} AS h FROM toks),
           |cells AS (
           |  SELECT source, i AS depth,
           |    ((h * $aArr[i + 1] + $bArr[i + 1]) % ${TextOps.HashMod})
           |      % $CmsWidth AS pos,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT source, h, unnest(range(0, 4)) AS i FROM th)
           |  GROUP BY source, depth, pos),
           |merged AS (
           |  SELECT depth, pos, CAST(sum(cnt) AS BIGINT) AS cnt FROM cells
           |  GROUP BY depth, pos),
           |probes AS (SELECT unnest($probeArr) AS tok),
           |ph AS (SELECT tok, ${TextOps.rollingHashDuck("tok")} AS h FROM probes),
           |pcells AS (
           |  SELECT tok, i AS depth,
           |    ((h * $aArr[i + 1] + $bArr[i + 1]) % ${TextOps.HashMod})
           |      % $CmsWidth AS pos
           |  FROM (SELECT tok, h, unnest(range(0, 4)) AS i FROM ph)),
           |est AS (
           |  SELECT tok, min(coalesce(cnt, 0)) AS est_cnt
           |  FROM pcells LEFT JOIN merged USING (depth, pos) GROUP BY tok),
           |truth AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM toks
           |  WHERE tok IN (SELECT tok FROM probes) GROUP BY tok)
           |SELECT e.tok, coalesce(true_cnt, 0) AS true_cnt, est_cnt,
           |  est_cnt - coalesce(true_cnt, 0) AS overcount
           |FROM est e LEFT JOIN truth USING (tok)""".stripMargin
      }),
  )

  /** q118's plan over an explicit corpus (EdgeCaseSpec: disjoint
    * sources, identical sources, sub-shingle docs).
    */
  private[graft] def overlapPlanOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame = {
    val ss = c(docs
      .selectExpr("source", s"shingle_rows(text, ${DedupOps.ShingleK})")
      .select(col("source"), col("h")).distinct())
    val counts = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val shared = ss
      .join(ss.select(col("source").as("source_b"), col("h")), "h")
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_sh").as("n_a"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_sh").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** q132's plan over an explicit documents table (LlmOpsSpec feeds a
    * corpus with a planted token-scrambled doc through it — same words,
    * broken transitions: the case q101 passes and this flags). Returns
    * per-DOC scores when `perDoc`, else the per-lang report.
    */
  private[graft] def bigramLmPlanOn(docsIn: DataFrame,
                                    perDoc: Boolean = false)
      (c: core.Materialize.Caches): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("lang"), expr(tokensSpark("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pair = c(docs
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> named_struct(" +
          "'a', element_at(tk, i), 'b', element_at(tk, i + 1)))")).as("p"))
      .groupBy(col("doc_id"), col("lang"),
        col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("k")))
    val cab = pair.groupBy(col("a"), col("b"))
      .agg(sum(col("k")).as("c_ab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val v = cab.select(col("b")).distinct()
      .agg(count(lit(1)).as("v"))
    val tb = cab.join(ca, "a").crossJoin(broadcast(v))
      .select(col("a"), col("b"), expr(
        "CAST(length(bin((c_a + v) DIV (c_ab + 1))) - 1 AS BIGINT)")
        .as("tbits"))
    val db = pair.join(tb, Seq("a", "b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k") * col("tbits")).as("bits"),
           sum(col("k")).as("n_trans"))
      .withColumn("flagged",
        (col("bits") * SurprisalFlagDen >
          col("n_trans") * SurprisalFlagNum).cast("long"))
    if (perDoc) db
    else db
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("flagged")).as("n_flagged"),
        sum(col("bits")).as("sum_bits"), sum(col("n_trans")).as("sum_trans"))
      .withColumn("avg_bits",
        col("sum_bits").cast("double") / col("sum_trans").cast("double"))
  }

  /** q114's plan over an explicit corpus (EdgeCaseSpec feeds degenerate
    * docs through the same plan). Returns the unfenced plan; its
    * intermediates persist in `c`.
    */
  private[graft] def pmiPlanOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame = {
    val tk = docs
      .select(expr(tokensSpark("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val big = tk.select(explode(expr(
      "transform(sequence(1, size(tk) - 1), i -> named_struct(" +
        "'a', element_at(tk, i), 'b', element_at(tk, i + 1)))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = c(big.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab")))
    val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("b")).agg(sum(col("c_ab")).as("c_b"))
    val n = cab.agg(sum(col("c_ab")).as("n_big"))
    cab.filter(col("c_ab") >= PmiMinCount)
      .join(ca, "a").join(cb, "b").crossJoin(broadcast(n))
      .withColumn("pmi_bits", expr(
        s"(${bitsSpark("c_ab")} + ${bitsSpark("n_big")})" +
          s" - (${bitsSpark("c_a")} + ${bitsSpark("c_b")})"))
      .orderBy(col("pmi_bits").desc, col("c_ab").desc, col("a"), col("b"))
      .limit(PmiTopK)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        col("pmi_bits"))
  }

  /** q115's plan over an explicit embeddings table (EdgeCaseSpec feeds
    * degenerate vectors — zero vectors, exact duplicates — through it).
    */
  private[graft] def decontamPlanOn(embs: DataFrame): DataFrame = {
    val dv = embs.select(col("vec_id"),
      expr(SimilarityOps.toDoubleSpark("embedding")).as("v"))
    def quant(e: String) =
      s"transform($e, x -> CAST(floor(x * $DecontamQuant) AS BIGINT))"
    def sq(c: String) =
      s"aggregate(transform($c, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    val corpus = dv.select(col("vec_id"), expr(quant("v")).as("q"))
      .withColumn("n2", expr(sq("q")))
    val probes = dv.filter(col("vec_id") < DecontamEvalN)
      .select((col("vec_id") + DecontamEvalOffset).as("probe_id"),
        expr(quant("transform(v, x -> x * 0.5)")).as("pq"))
      .withColumn("pn2", expr(sq("pq")))
    corpus.crossJoin(broadcast(probes))
      .withColumn("dot", expr(
        "aggregate(zip_with(q, pq, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(DecontamTauDen * DecontamTauDen) >=
          col("n2") * col("pn2") * lit(DecontamTauNum * DecontamTauNum))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_hits"))
  }

  /** q117's plan over an explicit corpus (EdgeCaseSpec: empty corpus,
    * absent probes). The probe watchlist stays [[cmsProbes]].
    */
  private[graft] def cmsPlanOn(s: SparkSession, docs: DataFrame): DataFrame = {
    val P = TextOps.HashMod
    def stackExpr = s"stack(4, " + (0 until 4).map(i =>
      s"CAST($i AS BIGINT), ((h * ${CmsA(i)} + ${CmsB(i)}) % $P) % $CmsWidth")
      .mkString(", ") + ") AS (depth, pos)"
    val toks = docs
      .select(col("source"), explode(expr(tokensSpark("text"))).as("tok"))
    val cells = toks
      .withColumn("h", expr(TextOps.rollingHashSpark("tok")))
      .selectExpr("source", stackExpr)
      .groupBy(col("source"), col("depth"), col("pos"))
      .agg(count(lit(1)).as("cnt"))           // per-source partial sketch
    val merged = cells.groupBy(col("depth"), col("pos"))
      .agg(sum(col("cnt")).as("cnt"))         // sketch of the union
    val probeToks = s.range(1).select(
      explode(array(cmsProbes.map(lit): _*)).as("tok"))
    val probeCells = probeToks
      .withColumn("h", expr(TextOps.rollingHashSpark("tok")))
      .selectExpr("tok", stackExpr)
    val est = probeCells.join(merged, Seq("depth", "pos"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
    val truth = toks.join(broadcast(probeToks.select(col("tok"))), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    est.join(truth.withColumnRenamed("cnt", "true_cnt"), Seq("tok"), "left")
      .withColumn("true_cnt", coalesce(col("true_cnt"), lit(0L)))
      .where(isnull(expr(
        "assert_true(est_cnt >= true_cnt, 'CMS one-sided bound violated')")))
      .select(col("tok"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
  }

  /** q106 plan builder, un-detached so PlanAuditSpec can assert the
    * physical shape (Materialize.detached hides the plan behind an
    * ExistingRDD scan). Its intermediates persist in `c`, so the
    * caller fences the plan with [[core.Materialize.caching]].
    *
    * BM25 lexical "more-like-this" retrieval — the standard lexical
    * ranking baseline a curation pipeline runs beside the embedding
    * retrievers (q38/q103): each probe doc's top-TfidfK terms (q84's
    * rank-stable tf·N/df selection) become a query; every doc sharing
    * a query term is BM25-scored against it. Made bit-exact the way
    * q101/q102 are:
    *  - idf in WHOLE BITS: floor(log2((N−df+0.5)/(df+0.5))) =
    *    length(bin((2N−2df+1) DIV (2df+1))) − 1 — the BM25 idf ratio
    *    scaled by 2 into pure BIGINT arithmetic; quotient 0 (df>N/2)
    *    gives 0 bits, i.e. stop-terms contribute nothing (the Lucene
    *    negative-idf floor, integer-exact).
    *  - tf normalization k1=1.2, b=0.75: 0.25 and 0.75 are
    *    binary-exact, 1.2/2.2 parse to the same nearest-double in
    *    both engines, and *,+,/ are correctly-rounded IEEE ops in an
    *    identical sequence → per-term scores are bit-identical.
    *  - the cross-term sum is an order-pinned fold (q102):
    *    array_sort then left-fold, mirrored by list_sort+list_reduce.
    * Scale shape: ONE corpus-wide shuffle builds tf (reused thrice —
    * persist, the q84 discipline); df is counted only for probe-term
    * candidates (map-side broadcast prune BEFORE the agg shuffle);
    * the corpus joins the ≤ ProbeN·TfidfK query terms by broadcast;
    * the dl join is unhinted (AQE decides); N/avgdl ride a broadcast
    * scalar; top-k is a rank-filtered window (WindowGroupLimit trims
    * map-side).
    */
  private[graft] def bm25Plan(s: SparkSession, d: String)
      (c: core.Materialize.Caches): DataFrame =
    bm25PlanOn(Tables.documents(s, d))(c)

  /** [[bm25Plan]] over an explicit corpus — EdgeCaseSpec feeds
    * degenerate in-memory docs through the same plan.
    */
  private[graft] def bm25PlanOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = c(docs
      .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_toks"))
    val pterm = tf.filter(col("doc_id") < Bm25ProbeN)
      .select(col("doc_id").as("query_id"), col("term"), col("tf").as("ptf"))
    val pvocab = pterm.select(col("term")).distinct()
    val dfq = tf.join(broadcast(pvocab), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wsel = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("term"))
    val qterms = pterm.join(dfq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", col("ptf").cast("double") *
        col("n_docs").cast("double") / col("df").cast("double"))
      .withColumn("rk", row_number().over(wsel))
      .filter(col("rk") <= TfidfK)
      .withColumn("bits", expr(
        "CAST(length(bin((2 * n_docs - 2 * df + 1) DIV (2 * df + 1))) - 1 AS BIGINT)"))
      .select(col("query_id"), col("term"), col("bits"))
    val cand = tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("t_score", expr(
        """CAST(bits AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2) /
          |  (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
          |    (CAST(dl AS DOUBLE) /
          |     (CAST(tot_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
          .stripMargin))
    val scored = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        expr("""aggregate(array_sort(collect_list(t_score)),
               |  CAST(0.0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
          .as("score"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(wk).cast("long"))
      .filter(col("rk") <= Bm25TopK)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("score"), col("rk"))
  }

  /** q107 plan builder, un-detached for the same PlanAuditSpec reason
    * as [[bm25Plan]]; its intermediates persist in `c`.
    *
    * DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed n-gram
    * features (unigrams + bigrams → DsirBuckets buckets), a target
    * distribution estimated from one exemplar source, and per-doc
    * importance weights Σ_b cnt_b · llr_b ranking the rest of the
    * corpus by target-likeness. Made integer-exact: the bucket
    * log-likelihood ratio log2(p_t[b]/p_r[b]) is quantized to WHOLE
    * BITS as a DIFFERENCE of floor-log2s — llr_b =
    * (len(bin(c_t))−1) − (len(bin(c_r))−1) + K with
    * K = floor(log2(N_r)) − floor(log2(N_t)) — which never forms the
    * cross product c_t·N_r (BIGINT-overflow-proof at any corpus
    * size, where the exact-ratio form q101/q106 use would overflow
    * at ~10^13 tokens), at the cost of ±1-bit quantization per term.
    * Counts are add-1 smoothed so empty target buckets are defined.
    * Scale shape: ONE corpus-wide shuffle builds (doc, bucket)
    * counts; both distributions live on ≤ DsirBuckets rows (the
    * raw-side agg partial-aggregates map-side into ≤ B groups per
    * partition); the bucket→llr table joins back by BROADCAST; the
    * report is a distributed top-k (TakeOrderedAndProject).
    */
  private[graft] def dsirPlan(s: SparkSession, d: String)
      (c: core.Materialize.Caches): DataFrame =
    dsirPlanOn(Tables.documents(s, d))(c)

  /** Hashed uni+bigram feature table (doc_id, source, b, cnt) — the
    * L48/L50 hashing-trick machinery shared by q107 (DSIR importance
    * weights) and q165 (NB quality classifier): one corpus-wide shuffle
    * producing the COMPRESSED per-doc feature-count table; everything
    * downstream aggregates from it. Unpersisted — callers own caching.
    */
  private def hashedFeatsOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        expr(tokensSpark("text")).as("tk"))
    val uni = toks.select(col("doc_id"), col("source"),
      explode(col("tk")).as("g"))
    // sequence(1, n) runs DESCENDING when n < 1 — guard size >= 2
    val big = toks.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"""
          .stripMargin)).as("g"))
    uni.unionAll(big)
      .withColumn("b", expr(s"${TextOps.rollingHashSpark("g")} % $DsirBuckets"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[dsirPlan]] over an explicit corpus — EdgeCaseSpec feeds
    * degenerate in-memory docs through the same plan.
    */
  private[graft] def dsirPlanOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame = {
    val feats = c(hashedFeatsOn(docs))
    val raw = feats.groupBy(col("b"))
      .agg((sum(col("cnt")) + 1L).as("c_r"))
    val tgt = feats.filter(col("source") === DsirTarget)
      .groupBy(col("b")).agg(sum(col("cnt")).as("t0"))
    val dist = raw.join(tgt, Seq("b"), "left")
      .withColumn("c_t", coalesce(col("t0"), lit(0L)) + 1L)
    val totals = dist.agg(sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"))
    // floor(log2 x) = length(bin(x)) − 1; the −1s cancel in each
    // difference, so lengths compare directly
    val llr = dist.crossJoin(broadcast(totals))
      .withColumn("llr", expr(
        """(CAST(length(bin(c_t)) AS BIGINT) - CAST(length(bin(c_r)) AS BIGINT))
          |  + (CAST(length(bin(n_r)) AS BIGINT) - CAST(length(bin(n_t)) AS BIGINT))"""
          .stripMargin))
      .select(col("b"), col("llr"))
    val weights = feats.filter(col("source") =!= DsirTarget)
      .join(broadcast(llr), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt") * col("llr")).as("weight"),
        sum(col("cnt")).as("n_feats"))
    // global top-k: orderBy + limit plans as TakeOrderedAndProject
    // (per-partition heaps, k rows to the driver-side merge) — a
    // global row_number window would funnel every doc through ONE
    // partition
    weights
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(DsirTopK)
      .select(col("doc_id"), col("source"), col("n_feats"), col("weight"))
  }

  /** Per-doc scores of the q165 multinomial Naive-Bayes quality
    * classifier — the GPT-3/LLaMA-style supervised filter (the one
    * published curation-family member q101/q132's LM filters don't
    * cover): positives = the exemplar source's documents (q107's
    * convention), negatives = everything else; features = the hashed
    * uni+bigram buckets of [[hashedFeatsOn]]; per-feature weight = the
    * whole-bit log-odds of the two add-1-smoothed class likelihoods,
    *   w(b) = floor(log2 (c_pos+1)) − floor(log2 (c_neg+1))
    *        + floor(log2 (N_neg+B)) − floor(log2 (N_pos+B))
    * via length(bin(·)) (the −1s cancel pairwise — the q107 identity),
    * so training IS two integer aggregates and never forms a cross
    * product (the L50 overflow discipline: bit lengths of 100-TB counts
    * stay < 64 where likelihood ratios would not). A doc's score is the
    * NB log-posterior margin Σ_b cnt·w(b) under equal priors — keep ⟺
    * score > 0, a pure BIGINT compare.
    *
    * Scale shape: ONE corpus-wide shuffle (the compressed feature
    * table); class counts collapse to ≤ B rows; the weight table is B
    * rows broadcast back into the per-doc aggregate — the corpus never
    * shuffles a second time. Returns (doc_id, source, n_feats, score);
    * the shared feature table persists in `c`.
    */
  private[graft] def nbScoresOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame = {
    val feats = c(hashedFeatsOn(docs))
    val cls = feats.groupBy(col("b")).agg(
      coalesce(sum(when(col("source") === DsirTarget, col("cnt"))), lit(0L))
        .as("c_pos"),
      coalesce(sum(when(col("source") =!= DsirTarget, col("cnt"))), lit(0L))
        .as("c_neg"))
    val totals = cls.agg(sum(col("c_pos")).as("np0"), sum(col("c_neg")).as("nn0"))
    val wts = cls.crossJoin(broadcast(totals))
      .withColumn("w", expr(
        s"""(CAST(length(bin(c_pos + 1)) AS BIGINT)
           |   - CAST(length(bin(c_neg + 1)) AS BIGINT))
           | + (CAST(length(bin(nn0 + $DsirBuckets)) AS BIGINT)
           |   - CAST(length(bin(np0 + $DsirBuckets)) AS BIGINT))"""
          .stripMargin))
      .select(col("b"), col("w"))
    feats.join(broadcast(wts), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("w")).as("score"))
  }

  /** q165 report: per-source keep counts under the trained classifier —
    * the corpus-level view a curation run reads first (which sources
    * the filter would gut, which pass). n_kept counts score > 0; one
    * IEEE division per output row for the kept fraction.
    */
  private[graft] def nbClassifierPlanOn(docs: DataFrame)
      (c: core.Materialize.Caches): DataFrame =
    nbScoresOn(docs)(c).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("score")).as("total_score"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_docs").cast("double"))

  /** q119 plan builder (un-detached for PlanAuditSpec/ScaleBench).
    *
    * PQ — the missing member of the ANN tier (LSH q39/q47 buckets, IVF
    * q46 partitions; PQ COMPRESSES): vectors become M sub-codes (here
    * 8×5 bits vs 64 floats, a 64× memory cut), and retrieval scores
    * candidates WITHOUT touching raw vectors via asymmetric distance
    * (ADC): per probe, an M×K table of exact probe-subvector→centroid
    * distances; a candidate's approximate distance is Σ_j
    * table[j, code_j] — M lookups per candidate. Everything integer:
    * coordinates on a 1/PqQuant grid, squared L2 in BIGINT, so codes
    * AND rankings are oracle-bit-exact. Codebook: seeded then
    * ONE-Lloyd-step trained in-plan — see [[pqTrainedBook]]
    * (AnnRecallSpec measured +44% ADC recall from exactly this step
    * before it shipped, and pins the shipped top-k sets ≡ the
    * in-memory trained ADC; a production build iterates the same
    * fixed-horizon step and uses K=256).
    *
    * Scale shape: both the assignment pass and the final encode are
    * corpus×M×K rows (constants M, K) against a BROADCAST codebook;
    * the Lloyd shuffle is corpus×M rows hash-aggregated (min_by, no
    * sort) then a ≤ M·K·PqSub-cell mean table; code assignment is a
    * rank-1 window per (vec, j) → WindowGroupLimit, tie-pinned by
    * (d2, c); ADC joins the per-probe distance TABLE (M·K·|probes|
    * rows, broadcast) against codes — the corpus side never shuffles
    * until the ≤|probes|·k top-k cut. This is classic exhaustive-ADC
    * PQ (compression tier); [[ivfadcPlan]] composes the same codes
    * with IVF partitioning into the scanned-fraction retrieval tier.
    */
  private[graft] def pqAdcPlan(s: SparkSession, d: String)
      (c: core.Materialize.Caches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dv = Tables.embeddings(s, d).select(col("vec_id"),
      expr(s"transform(${SimilarityOps.toDoubleSpark("embedding")}, " +
        s"x -> CAST(floor(x * $PqQuant) AS BIGINT))").as("q"))
    val sub = c(dv.select(col("vec_id"), explode(pqSubvectors("q")).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.s").as("s")))
    val book = pqTrainedBook(sub)
    val dist = c(sub.join(broadcast(book), col("j") === col("cj"))
      .withColumn("d2", pqD2Spark("s", "cs"))
      .select(col("vec_id"), col("j"), col("c"), col("d2")))
    val w1 = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2"), col("c"))
    val codes = dist.withColumn("rk", row_number().over(w1))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("j"), col("c").as("code"))
    val dtab = dist.filter(col("vec_id") < ProbeN)
      .select(col("vec_id").as("probe_id"), col("j").as("dj"),
        col("c").as("dc"), col("d2"))
    val adc = codes
      .join(broadcast(dtab),
        col("j") === col("dj") && col("code") === col("dc"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist"))
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= LshK)
  }

  /** The corpus on q119's integer grid: (vec_id, q BIGINT[64]). */
  private def quantVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      expr(s"transform(${SimilarityOps.toDoubleSpark("embedding")}, " +
        s"x -> CAST(floor(x * $PqQuant) AS BIGINT))").as("q"))

  /** q120 plan builder (un-detached for PlanAuditSpec/ScaleBench).
    *
    * The composed production ANN (faiss's IndexIVFPQ): q46's coarse
    * partitioning and q119's PQ compression were each measured alone;
    * a billion-vector deployment needs them TOGETHER — exhaustive ADC
    * still scans corpus×M×K rows, while IVFADC scans only the nprobe
    * probed lists' codes. Mechanics: every vector is assigned to its
    * nearest coarse centroid (integer squared L2, min_by hash agg —
    * no window), PQ encodes the RESIDUAL q − centroid (residuals
    * concentrate near zero, which is what makes a shared codebook
    * work across cells), and a probe searches its nprobe nearest
    * cells with a PER-CELL ADC table built from ITS residual against
    * that cell's centroid. All on the 1/PqQuant integer grid → codes,
    * tables, and rankings are oracle-bit-exact. BOTH quantizer levels
    * train in-plan since r14: the coarse centroids get one quantized
    * Lloyd step (below — cell-capture ceiling 0.460 → 0.540, composed
    * recall 0.120 → 0.200, re-ranked 0.320 → 0.500, AnnRecallSpec),
    * and the residual codebook is [[pqTrainedBook]] (seed + one Lloyd
    * step, same trainer as q119).
    *
    * Scale shape: cost tracks nprobe, not corpus — the coarse
    * assignment and encode are broadcast passes (8 centroids / M·K
    * codebook rows); the ADC table is |probes|·nprobe·M·K rows
    * BROADCAST into a map-side join that drops every vector outside
    * the probed cells before any shuffle (the join key includes cid);
    * the only corpus-keyed shuffle is the candidate aggregate
    * (≈ nprobe/|cells| of the corpus), and the final cut is a
    * WindowGroupLimit of ≤ |probes|·k rows. |cells| scales as √N
    * (q46's note), holding both the assignment broadcast and the
    * per-cell lists balanced at 10⁹ vectors.
    */
  private[graft] def ivfadcPlan(s: SparkSession, d: String,
                                nprobe: Int = IvfNprobe,
                                topK: Int = LshK)
      (c: core.Materialize.Caches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dv = quantVecs(s, d)
    val cd2 = pqD2Spark("q", "cq") // same form; 64-dim arrays here
    // coarse centroids TRAINED in-plan (r13 left them as raw seed
    // vectors; the PQ codebook precedent is pqTrainedBook): seed with
    // corpus vectors [IvfCentroidLo, IvfCentroidHi], then ONE quantized
    // Lloyd step at the COARSE level — assign every vector to its
    // nearest seed (min_by hash agg over the (cd2, cc) total order, no
    // window), per-(cell, dim) integer mean via the same
    // pmod-subtraction floor-div as the codebook trainer (order-free
    // BIGINT sums ⇒ engine-exact; Σq over a cell overflows only past
    // ~9e12 members at the 1e6 grid), empty cells keep their seed.
    // Training raises the cell-capture ceiling that multiplies into
    // q120/q125 recall (AnnRecallSpec measures it). The means table is
    // ≤ |cells|·dims cells; the extra corpus pass is one more
    // broadcast-seed join, and the ~8-row trained table broadcasts
    // everywhere downstream exactly as the seeds did.
    val seedCoarse = dv
      .filter(col("vec_id").between(IvfCentroidLo, IvfCentroidHi))
      .select(col("vec_id").as("cc"), col("q").as("cq"))
    val seedAssign = dv.crossJoin(broadcast(seedCoarse))
      .withColumn("cd2", cd2)
      .groupBy(col("vec_id"))
      .agg(min_by(col("cc"), struct(col("cd2"), col("cc"))).as("cc"),
        first(col("q")).as("q"))
    val coarseMeans = seedAssign
      .select(col("cc"), posexplode(col("q")).as(Seq("dim0", "v")))
      .groupBy(col("cc"), col("dim0"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("mv", expr("(sv - pmod(sv, n)) div n"))
      .groupBy(col("cc").as("tc"))
      .agg(expr("transform(array_sort(collect_list(struct(dim0, mv))), " +
        "x -> x.mv)").as("ms"))
    // the trained table is |cells| rows but its lineage is a corpus
    // pass; it feeds TWO broadcast sites (corpus assignment + probe
    // assignment), so pin it off-lineage once — the training pass runs
    // exactly once per build instead of per broadcast (8-row
    // checkpoint; audit passthrough keeps the full shape visible to
    // the plan snapshot)
    val coarse = core.Materialize.detached(seedCoarse
      .join(coarseMeans, col("cc") === col("tc"), "left")
      .select(col("cc"), coalesce(col("ms"), col("cq")).as("cq")))(())
    val assigned = dv.crossJoin(broadcast(coarse))
      .withColumn("cd2", cd2)
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cc"), col("cq")),
        struct(col("cd2"), col("cc"))).as("a"), first(col("q")).as("q"))
      .select(col("vec_id"), col("a.cc").as("cid"),
        expr("zip_with(q, a.cq, (x, y) -> x - y)").as("r"))
    val rsub = c(assigned
      .select(col("vec_id"), col("cid"), explode(pqSubvectors("r")).as("p"))
      .select(col("vec_id"), col("cid"), col("p.j").as("j"),
        col("p.s").as("s")))
    val book = pqTrainedBook(rsub.select("vec_id", "j", "s"))
    val codes = rsub.join(broadcast(book), col("j") === col("cj"))
      .withColumn("d2", pqD2Spark("s", "cs"))
      .groupBy(col("vec_id"), col("cid"), col("j"))
      .agg(min_by(col("c"), struct(col("d2"), col("c"))).as("code"))
    // probe side: nprobe nearest cells, residual PER PROBED CELL
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(col("cd2"), col("cc"))
    val plists = dv.filter(col("vec_id") < ProbeN)
      .crossJoin(broadcast(coarse))
      .withColumn("cd2", cd2)
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("cc").as("pcid"),
        expr("zip_with(q, cq, (x, y) -> x - y)").as("pr"))
    val prsub = plists
      .select(col("probe_id"), col("pcid"),
        explode(pqSubvectors("pr")).as("p"))
      .select(col("probe_id"), col("pcid"), col("p.j").as("dj"),
        col("p.s").as("s"))
    val dtab = prsub.join(broadcast(book), col("dj") === col("cj"))
      .withColumn("pd2", pqD2Spark("s", "cs"))
      .select(col("probe_id"), col("pcid"), col("dj"),
        col("c").as("dc"), col("pd2"))
    val adc = codes.join(broadcast(dtab),
        col("cid") === col("pcid") && col("j") === col("dj") &&
          col("code") === col("dc"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"), col("cid"))
      .agg(sum(col("pd2")).as("adc_dist"))
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("probe_id"), col("vec_id"), col("cid"),
        col("adc_dist"), col("rk"))
  }

  /** q125 plan builder: IVFADC + exact re-rank (faiss's refine tier,
    * IndexRefineFlat over IndexIVFPQ). The ADC ranking inside the
    * probed cells is the cheap-but-lossy part of q120 — compressed
    * codes can put a true neighbor at rank 12 of 20. The standard
    * production fix costs almost nothing: over-fetch the candidate
    * list (RerankR = 8·k), fetch JUST those candidates' raw vectors,
    * and re-rank by exact distance. Recall then climbs from
    * ADC-quality × cell-capture toward the cell-capture ceiling —
    * measured 0.20 → 0.50 vs the exact-IVF ceiling 0.54 with the r14
    * trained coarse level (0.32 vs 0.46 untrained; AnnRecallSpec — the
    * residual gap is true neighbors the ADC order pushed below rank R,
    * the RerankR knob, worst-case-shaped here by the uniform fixture)
    * — while the corpus-sized cost stays q120's.
    *
    * Scale shape: the candidate set is ≤ |probes|·RerankR rows, so it
    * BROADCASTS into the raw-vector fetch — the corpus scan is never
    * shuffled and drops every non-candidate map-side (the same
    * broadcast-screen shape as q89); probe vectors ride a second
    * |probes|-row broadcast; the exact distances and the final
    * WindowGroupLimit run over candidate-sized frames only. At 10⁹
    * vectors the refine step touches RerankR·|probes| raw vectors —
    * independent of corpus size.
    */
  private[graft] def ivfadcRerankPlan(s: SparkSession, d: String)
      (c: core.Materialize.Caches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = ivfadcPlan(s, d, IvfNprobe, RerankR)(c)
      .select(col("probe_id"), col("vec_id"), col("adc_dist"))
    val dv = quantVecs(s, d)
    val probes = dv.filter(col("vec_id") < ProbeN)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"))
    val exact = dv.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("exact_d2", pqD2Spark("q", "pq")) // full-width 64-dim L2
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("exact_d2"), col("vec_id"))
    exact.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= LshK)
      .select(col("probe_id"), col("vec_id"), col("adc_dist"),
        col("exact_d2"), col("rk"))
  }

  /** q121 plan builder (un-detached for PlanAuditSpec).
    *
    * The integration query a real 100-TB curation RUN is — five
    * already-audited operators composed into one job over the planted-
    * duplicate corpus, with per-source attrition accounting:
    *
    *   1. CAP     — q113's per-source cap (rank ≤ PipeCapPerSource over
    *                (n_uniq DESC, doc_id) → WindowGroupLimit);
    *   2. QUALITY — q101's whole-bit unigram surprisal, LM fit on the
    *                stage-1 survivors; flagged docs (bits·16 > 65·n)
    *                drop, token-less docs pass (LEFT join + coalesce);
    *   3. EXACT   — q33's normalized content hash, keep-min-doc_id
    *                (rank-1 window on the 32-char hash key);
    *   4. NEAR    — q36's MinHash-LSH candidates + Jaccard ≥ 0.6
    *                verify; a doc drops when ANY qualifying pair names
    *                it as the higher id (keep-first, q95's rule);
    *   5. DECONTAM— q89's two-tier screen against the benchmark
    *                shingle universe (bloom pre-drop map-side, exact
    *                verify for suspects); bench docs themselves leave
    *                the training set here;
    *   6. MIX     — q102's temperature weights (α = ½) over the
    *                survivors, then ACTUAL selection: top-target_docs
    *                per source in the stage-1 quality order.
    *
    * Output: one row per input source — doc counts after every stage,
    * the mix weight, and the selected count. All counts integer; the
    * weight/target arithmetic is q102's pinned-order fold.
    *
    * Scale notes: each stage keeps its audited shape (cap:
    * WindowGroupLimit; LM: one corpus-wide (doc, tok) shuffle + an
    * unhinted vocabulary join; dedup: banded candidates only; screen:
    * ~300 KB bloom broadcast); shingles are computed only for the docs
    * that need them — the bench slice (from cached c0) and the capped
    * survivors (from cached s3), each a shallow one-hop frame (see the
    * in-body note for why the one-pass union form measured 6× slower);
    * the accounting joins are |sources|-row broadcasts. The dynamic per-source limit in stage 6 is a
    * rank-filter against a joined target (not a constant k, so no
    * WindowGroupLimit — it trims at the filter, k rows per source
    * survive the window's sort).
    *
    * Cost profile: ~7 s at sf0.1 (r13 final; the corpus term is ~1.5 MB
    * of text, so the number is fixed scheduling + planning cost of ~20
    * AQE stages, not data cost — β ≈ 0 across corpus steps). The
    * per-stage accounting deliberately stays 6 tiny map-side-partial
    * aggregates + |sources|-row joins (the alternative — annotating
    * every doc with 5 survival flags to fuse the accounting into one
    * aggregate — trades them for 5 corpus-sized joins, wrong at
    * 100 TB). Every multi-consumer stage frame is persisted AND forced
    * in dependency order (A3 count-as-materializer): the accounting DAG
    * references each stage from its successor AND its count branch, and
    * concurrent first-use of an unmaterialized shared subtree re-runs
    * its chain per branch. s5 is localCheckpoint'ed, not persisted —
    * see the in-body note on the bloom-literal planning cost (the r13
    * 35→7 s fix).
    */
  private[graft] def curationPlan(s: SparkSession, d: String)
      (c: core.Materialize.Caches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      col("text"))
    // the q33/q36 planted-duplicate corpus, with source carried through
    // (copies inherit the original's source)
    val exact = docs.filter(col("doc_id") < DedupOps.ExactCopyN)
      .select((col("doc_id") + DedupOps.ExactCopyOffset).as("doc_id"),
        col("source"), col("text"))
    val near = docs.filter(col("doc_id") < DedupOps.NearCopyN)
      .select((col("doc_id") + DedupOps.NearCopyOffset).as("doc_id"),
        col("source"),
        expr(s"substr(text, length(element_at(${tokensSpark("text")}, 1)) + 2)")
          .as("text"))
    val c0 = c(docs.unionAll(exact).unionAll(near)
      .withColumn("n_uniq",
        expr(s"CAST(size(array_distinct(${tokensSpark("text")})) AS BIGINT)")))
    // stage 1: per-source cap
    val w1 = Window.partitionBy(col("source"))
      .orderBy(col("n_uniq").desc, col("doc_id"))
    val s1 = c(c0.withColumn("rk", row_number().over(w1))
      .filter(col("rk") <= PipeCapPerSource).drop("rk"))
    // stage 2: unigram-surprisal quality filter, LM fit on s1
    val pair = c(s1
      .select(col("doc_id"), explode(expr(tokensSpark("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k")))
    val tf = pair.groupBy(col("tok")).agg(sum(col("k")).as("cnt"))
    val nTot = tf.agg(sum(col("cnt")).as("n"))
    val tokBits = tf.crossJoin(broadcast(nTot))
      .select(col("tok"),
        expr("CAST(length(bin(n DIV cnt)) - 1 AS BIGINT)").as("bits"))
    val docBits = pair.join(tokBits, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("bits")).as("bits"), sum(col("k")).as("n_toks"))
    // s2 onward are localCheckpoint FENCES, not persists (the s5
    // treatment extended upstream): each stage's lineage from here
    // grows by a window + joins per hop, and EVERY downstream action
    // (the counts, the 8-branch accounting fan-in, the AQE re-plans of
    // each) re-planned and re-rendered the whole chain — stack-sampled
    // gap profiling attributed ~2.3 s/run of q121's driver gaps to
    // plan treeString/planning work proportional to plan size, not
    // data. The eager checkpoint materializes exactly like the
    // count-as-materializer did (A3) and replaces the chain with a
    // leaf for every later consumer. c0/s1/pair stay persisted: their
    // lineages are one hop deep, and pair's two consumers (tf,
    // docBits) want the cache, not a fence. Plan-shape tooling
    // (ExplainAudit, PlanAuditSpec) sets the session's
    // Materialize.PassthroughKey so the audited plan keeps every
    // stage's shape visible.
    val s2 = s1.join(docBits, Seq("doc_id"), "left")
      .filter(coalesce(
        col("bits") * SurprisalFlagDen <= col("n_toks") * SurprisalFlagNum,
        lit(true)))
      .select(col("doc_id"), col("source"), col("text"), col("n_uniq"))
      .transform(core.Materialize.detached(_)(()))
    // stage 3: exact dedup, keep-first on the normalized content hash
    val w3 = Window.partitionBy(col("ch")).orderBy(col("doc_id"))
    val s3 = s2.withColumn("ch", DedupOps.contentHashSpark())
      .withColumn("rk", row_number().over(w3))
      .filter(col("rk") === 1).drop("ch", "rk")
      .transform(core.Materialize.detached(_)(()))
    // shingles are needed by two consumers — stage 4 (survivor dedup)
    // and stage 5 (bench universe) — but NOT by the whole corpus: the
    // bench set is the BenchMod-th of the base docs and the survivors
    // are ≤ cap·|sources| rows after stage 3 (400 of 5800 at sf0.1).
    // The r13 first cut shingled all of c0 (one corpus-sized array
    // materialization mostly for rows the cap had already dropped); a
    // union(bench, s3) single pass embedded the whole stage-1..3 chain
    // in the shingle frame's lineage and measured SLOWER. The shipped
    // shape keeps both shingle frames SHALLOW: benchSh is a pure
    // function of cached c0, survSh of cached s3 — each a one-hop
    // lineage over an already-materialized parent.
    val isBench = col("doc_id") % BenchMod === 0 &&
      col("doc_id") < DedupOps.NearCopyOffset
    val benchSh = c(DedupOps
      .shingled(c0.select(col("doc_id"), col("text")).filter(isBench)))
    val survSh = DedupOps.shingled(s3.select(col("doc_id"), col("text")))
      .transform(core.Materialize.detached(_)(()))
    // stage 4: near dedup over survivors (banded candidates only)
    val sig = DedupOps.signaturesFromShingles(survSh)
    val cand = DedupOps.candidatePairs(DedupOps.lshBucketsFromSig(sig))
    val nearDrop = DedupOps
      .jaccardVerifyShingled(survSh, cand, JaccardThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    val s4 = s3.join(nearDrop, Seq("doc_id"), "left_anti")
      .transform(core.Materialize.detached(_)(()))
    // stage 5: decontamination against the benchmark shingle universe
    // (fixed eval suite: bench docs of the BASE corpus, q89's set)
    val bench = c(benchSh.select(explode(col("sh")).as("h"))
      .distinct())
    val bloom = bench
      .agg(expr(s"bloom_build(h, ${BloomExpected}L, ${BloomFpp}d)"))
      .head().getAs[Array[Byte]](0)
    // A3 materialization discipline, now carried by the checkpoint
    // fences: s2's eager build populates the c0/s1/pair caches en route
    // (one single-threaded action — no concurrent first-use), and
    // s3/survSh/s4 materialize at their own fences, so every frame the
    // accounting fan-in reads is already warm with no separate
    // count-as-materializer jobs left to pay.
    val s4sh = survSh.join(s4.select(col("doc_id")), "doc_id")
      .filter(!isBench)
    val suspects = s4sh.filter(size(filter(col("sh"),
        x => call_function("bloom_might_contain", lit(bloom), x)))
        >= ScreenMinHits)
    val contam = suspects
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= ScreenMinHits)
      .select(col("doc_id"))
    // s5 is the LAST frame whose plan carries the ~300 KB bloom
    // LITERAL (inside the suspects lambda). That literal is poison for
    // every DOWNSTREAM action: each one re-canonicalizes / re-optimizes
    // a plan embedding 300 KB of constant — probe-measured 10-25 s of
    // pure driver-side planning PER ACTION over a cached s5 (data cost
    // ≈ 0; q89 pays it once and is fine). localCheckpoint truncates the
    // lineage — the literal-bearing plan executes exactly once and
    // stage 6 + the accounting read a leaf. (Executor-local blocks,
    // reclaimed by the ContextCleaner on ref drop — the q35/q36
    // pattern; the cache-leak test covers it.)
    val s5 = s4.filter(!isBench)
      .join(contam, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // stage 6: temperature mixing over survivors + actual selection
    val counts5 = s5.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val z = counts5.agg(expr(
      """aggregate(array_sort(collect_list(sqrt(CAST(n_docs AS DOUBLE)))),
        |  CAST(0.0 AS DOUBLE), (a, x) -> a + x)""".stripMargin).as("z"))
    val targets = c(counts5.crossJoin(broadcast(z))
      .select(col("source"),
        (sqrt(col("n_docs").cast("double")) / col("z")).as("weight"),
        expr(s"CAST(floor($MixTargetDocs * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT)")
          .as("target_docs")))
    targets.count() // same discipline for the last multi-consumer frame
    val w6 = Window.partitionBy(col("source"))
      .orderBy(col("n_uniq").desc, col("doc_id"))
    val nSel = s5.withColumn("rk", row_number().over(w6))
      .join(targets, "source")
      .filter(col("rk") <= col("target_docs"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_selected"))
    // per-source attrition accounting (|sources|-row joins)
    def stageCount(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    stageCount(c0, "n_input")
      .join(stageCount(s1, "n_cap"), Seq("source"), "left")
      .join(stageCount(s2, "n_quality"), Seq("source"), "left")
      .join(stageCount(s3, "n_exact"), Seq("source"), "left")
      .join(stageCount(s4, "n_near"), Seq("source"), "left")
      .join(stageCount(s5, "n_decontam"), Seq("source"), "left")
      .join(targets, Seq("source"), "left")
      .join(nSel, Seq("source"), "left")
      .select(col("source"), col("n_input"),
        coalesce(col("n_cap"), lit(0L)).as("n_cap"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("n_decontam"), lit(0L)).as("n_decontam"),
        coalesce(col("weight"), lit(0.0)).as("weight"),
        coalesce(col("target_docs"), lit(0L)).as("target_docs"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
  }

  /** q106 oracle body — a val so q173's fusion oracle composes the
    * SAME text verbatim (rank drift between the two would be a bug,
    * not a tolerance). */
  private lazy val Bm25DuckSql: String =
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${tokensDuck("text")}) AS term
         |    FROM documents)
         |  WHERE term <> '' GROUP BY doc_id, term),
         |dl AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
         |  GROUP BY doc_id),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS tot_toks FROM dl),
         |pterm AS (
         |  SELECT doc_id AS query_id, term, tf AS ptf FROM tf
         |  WHERE doc_id < $Bm25ProbeN),
         |dfq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
         |  WHERE term IN (SELECT term FROM pterm) GROUP BY term),
         |qsel AS (
         |  SELECT query_id, term, df, n_docs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      CAST(ptf AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |        / CAST(df AS DOUBLE) DESC, term) AS rk
         |  FROM pterm JOIN dfq USING (term) CROSS JOIN stats),
         |qterms AS (
         |  SELECT query_id, term,
         |    CAST(length(format('{:b}',
         |      (2 * n_docs - 2 * df + 1) // (2 * df + 1))) - 1 AS BIGINT)
         |      AS bits
         |  FROM qsel WHERE rk <= $TfidfK),
         |cand AS (
         |  SELECT q.query_id, t.doc_id,
         |    CAST(bits AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2) /
         |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |        (CAST(dl AS DOUBLE) /
         |         (CAST(tot_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |      AS t_score
         |  FROM tf t JOIN qterms q USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE t.doc_id <> q.query_id),
         |scored AS (
         |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(t_score))),
         |      (a, x) -> a + x) AS score
         |  FROM cand GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, n_terms, score, rk FROM (
         |  SELECT query_id, doc_id, n_terms, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rk
         |  FROM scored)
         |WHERE rk <= $Bm25TopK""".stripMargin

  /** q38 oracle body, shared by q173 for the same no-drift reason. */
  private lazy val CosineTopkDuckSql: String =
      s"""WITH prepped AS (
         |  SELECT vec_id, v, ${SimilarityOps.normDuck("v")} AS nrm FROM (
         |    SELECT vec_id, ${SimilarityOps.toDoubleDuck("embedding")} AS v FROM embeddings))
         |SELECT probe_id, vec_id, cosine, rk FROM (
         |  SELECT probe_id, vec_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id,
         |      ${SimilarityOps.dotDuck("p.v", "c.v")} / (p.nrm * c.nrm) AS cosine
         |    FROM prepped p, prepped c
         |    WHERE p.vec_id < $ProbeN AND p.vec_id <> c.vec_id))
         |WHERE rk <= $TopK""".stripMargin
}
