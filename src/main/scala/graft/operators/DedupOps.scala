package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline: exact
  * (content-hash groupBy), near-dup via MinHash + LSH band bucketing, and
  * n-gram (hashed-shingle) Jaccard as the verify/refine step.
  *
  * Hashing is pure integer arithmetic, shared bit-for-bit with the DuckDB
  * oracle: per-token polynomial rolling hash (computed once per token),
  * shingle hash = O(1) polynomial combine of its k token hashes, minhash_j
  * = min over shingles of the affine map (a_j·x + b_j) mod p. No md5 in
  * the per-shingle hot path — a doc costs O(chars + shingles·NumHashes)
  * integer ops (measured: 12× faster than the seeded-md5 formulation at
  * sf0.1).
  *
  * Scale design (100 TB):
  *  - Exact dedup shuffles a 32-hex-char content hash, never the raw text.
  *  - Near-dup NEVER builds all pairs: signatures are computed map-side,
  *    docs are exploded to (band_id, band_key) rows, and candidate pairs
  *    are generated only WITHIN an LSH bucket via a self-equi-join on the
  *    band key — a hash join whose key cardinality grows with the corpus,
  *    so it stays shuffle-balanced. Hashed-shingle Jaccard runs only on
  *    the candidate set. Integer band keys can collide across distinct
  *    signature triples (p = 2^31−1 space); a collision only adds a
  *    spurious candidate pair that the verify step rejects.
  *  - The test corpus plants known duplicates (exact copies and
  *    first-token-dropped near copies) so the oracle checks real recall,
  *    not an empty result.
  */
object DedupOps {
  val ShingleK    = 3   // words per shingle
  val NumHashes   = 12  // minhash signature length
  val Bands       = 4   // LSH bands (NumHashes / RowsPerBand)
  val RowsPerBand = NumHashes / Bands
  val P           = 2147483647L // 2^31−1, the minhash modulus

  /** Affine minhash family constants (fixed primes; index j = 0..11). */
  val HashA = Seq(1610612741L, 805306457L, 402653189L, 201326611L,
    100663319L, 50331653L, 25165843L, 12582917L,
    6291469L, 3145739L, 1572869L, 786433L)
  val HashB = Seq(12289L, 24593L, 49157L, 98317L, 196613L, 393241L,
    786433L, 1572869L, 3145739L, 6291469L, 12582917L, 25165843L)

  /** Planted duplicates: exact copies of doc_id < ExactCopyN at
    * +ExactCopyOffset, near copies (first token dropped) of
    * doc_id < NearCopyN at +NearCopyOffset.
    */
  val ExactCopyN = 30
  val ExactCopyOffset = 20000L
  val NearCopyN = 50
  val NearCopyOffset = 10000L
  /** Exclusive upper bound of the planted-copy id zone:
    * [NearCopyOffset, NearCopyOffset+NearCopyN) ∪
    * [ExactCopyOffset, ExactCopyOffset+ExactCopyN). Predicates that mean
    * "is a planted copy" must test BOTH bounds — a bare
    * `doc_id >= NearCopyOffset` silently swallows every base doc above
    * the zone once the corpus outgrows the sf0.1 fixture's id range.
    */
  val PlantCeil: Long = ExactCopyOffset + ExactCopyN

  // ---- corpus with planted duplicates (both dialects) -------------------
  /** documents ∪ exact copies ∪ near copies. The near copy drops the
    * first whitespace token: substr(text, len(tok1)+2).
    */
  def corpus(docs: DataFrame): DataFrame = {
    val exact = docs.filter(col("doc_id") < ExactCopyN)
      .select((col("doc_id") + ExactCopyOffset).as("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") < NearCopyN)
      .select((col("doc_id") + NearCopyOffset).as("doc_id"),
        expr(s"substr(text, length(element_at(${TextOps.tokensSpark("text")}, 1)) + 2)")
          .as("text"))
    docs.select(col("doc_id"), col("text")).unionAll(exact).unionAll(near)
  }
  /** DuckDB CTE body mirroring [[corpus]] over the `documents` view. */
  val corpusDuck: String =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL SELECT doc_id + $ExactCopyOffset AS doc_id, text
       |  FROM documents WHERE doc_id < $ExactCopyN
       |UNION ALL SELECT doc_id + $NearCopyOffset AS doc_id,
       |  substr(text, length(${TextOps.tokensDuck("text")}[1]) + 2) AS text
       |  FROM documents WHERE doc_id < $NearCopyN""".stripMargin

  // ---- exact dedup ------------------------------------------------------
  /** Normalized content hash (whitespace-collapsed, trimmed, lowercased
    * md5) — THE exact-dup identity, shared by every operator that
    * compares content so the formula can never drift between them.
    */
  def contentHashSpark(text: org.apache.spark.sql.Column = col("text")): org.apache.spark.sql.Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))
  def contentHashDuck(text: String): String =
    s"md5(lower(trim(regexp_replace($text, '\\s+', ' ', 'g'))))"

  /** Exact dedup on normalized content: group by md5 of the normalized
    * text (32-char shuffle key, not the document body), keep the minimum
    * doc_id, report multiplicity. Returns only groups with >1 copy.
    */
  def exactDups(c: DataFrame): DataFrame =
    c.select(col("doc_id"), contentHashSpark().as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
  val exactDupsDuckBody: String =
    s"""SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM (
       |  SELECT doc_id, ${contentHashDuck("text")} AS content_hash
       |  FROM corpus)
       |GROUP BY content_hash HAVING count(*) > 1""".stripMargin

  // ---- duplicated-span report (exact-substring dedup) --------------------
  /** Tokens per gram for [[spanDedup]] — long enough that a collision is
    * a real repeated passage, short enough to catch template boilerplate
    * (the exact-substring dedup literature uses ~50-token windows on
    * web-scale corpora; 10 fits the fixture's ~50-token docs).
    */
  val SpanN = 10

  /** Dual-modulus gram key for [[spanDedup]] (primes; see the proof in
    * the scaladoc below). Single source of truth is the native
    * generator ([[graft.functions.SpanGramRows]]) — re-exported here
    * for the SQL spec and the DuckDB oracle so they can never drift.
    */
  val SpanP1: Long = graft.functions.SpanGramRows.P1
  val SpanP2: Long = graft.functions.SpanGramRows.P2

  /** Wide (≈58-bit) per-token polynomial char hash, mod p — the SQL
    * spec of the native generator's token hashing (parity pinned in
    * LlmOpsSpec); the oracle mirrors it via [[wideHashDuck]]. Both
    * delegate to the ONE rolling-hash formula in [[TextOps]].
    */
  def wideHashSpark(tok: String, p: Long): String =
    TextOps.rollingHashSpark(tok, p)
  def wideHashDuck(tok: String, p: Long): String =
    TextOps.rollingHashDuck(tok, p)

  /** SpanN-gram combine at 1-based position `i` over wide-hash array
    * `hs`: unrolled base-31 polynomial fold mod p.
    */
  def spanGramSpark(hs: String, i: String, p: Long): String =
    (2 to SpanN).foldLeft(s"element_at($hs, $i)") {
      (acc, o) => s"($acc * 31 + element_at($hs, $i + ${o - 1})) % $p"
    }
  def spanGramDuck(hs: String, i: String, p: Long): String =
    (2 to SpanN).foldLeft(s"$hs[$i]") {
      (acc, o) => s"($acc * 31 + $hs[$i + ${o - 1}]) % $p"
    }

  /** Exact-substring duplication report: for every document, the maximal
    * RUNS of consecutive token positions whose SpanN-gram also occurs
    * elsewhere in the corpus (another doc, or another position of the
    * same doc). Doc-level dedup (q33/q36) misses a unique page that
    * embeds a copied passage; this finds the passage itself — the
    * "exact substring dedup" pass of LLM curation pipelines.
    *
    * Shape: the native [[graft.functions.SpanGramRows]] generator
    * lateral-emits (pos, g1, g2) per gram in ONE pass over each string
    * (no char arrays, no md5 — grams shuffle as TWO BIGINTs, 16 bytes
    * fixed-width vs a 32-char varlen string). r10 measurement: equal to
    * the md5 formulation at sf0.1 within the run envelope (medians
    * 1.47 vs 1.56 s — the downstream shuffle+window dominate at this
    * size); the win is the halved, fixed-width shuffle/agg key and zero
    * per-gram string building, which is what the x64–x256 cells (where
    * q96 is the family's most expensive member) are made of. The
    * interpreted-HOF formulation of the same key measured 1.9× WORSE
    * than md5 (2.72 s) — the native generator is what makes the
    * integer key viable.
    * A hash agg computes gram frequency; duplicated positions come back
    * via an equi-join on (g1, g2); runs are merged with the islands
    * trick (pos − row_number is constant within a consecutive run) —
    * one window per doc, two hash aggs. Every stage is
    * corpus-proportional; nothing is quadratic.
    *
    * Why the dual-modulus key is safe at 100 TB: g1 and g2 are
    * INDEPENDENT ≈58-bit hashes (separate per-token hash arrays, mod
    * SpanP1 and SpanP2, combined by separate base-31 polynomial folds),
    * so the pair is a ≈116-bit statistical key — at 10^12 grams the
    * expected number of colliding pairs is ~10^24/2^117 ≈ 6·10^-12.
    * This is a STATISTICAL guarantee of the same kind as md5's 128
    * bits (not a deterministic one: a base-31 polynomial over
    * 58-bit-range coefficients is not injective), bought in pure
    * integer arithmetic instead of per-gram string building + digest.
    *
    * Returns one row per document that contains at least one duplicated
    * gram: (doc_id, n_dup_grams, n_spans, max_span_grams,
    * first_dup_pos); span lengths are in grams (a run of g grams covers
    * g + SpanN − 1 tokens).
    */
  def spanDedup(docs: DataFrame): DataFrame =
    graft.core.Materialize.caching { c =>
      import org.apache.spark.sql.expressions.Window
      val grams = c(docs
        .select(col("doc_id"), expr(s"span_gram_rows(text, $SpanN)")))
      // gram vocabulary is corpus-proportional → shuffled hash join, not
      // broadcast (the q61/q92 reasoning)
      val dupHashes = grams.groupBy(col("g1"), col("g2"))
        .agg(count(lit(1)).as("gcnt"))
        .filter(col("gcnt") > 1)
        .select(col("g1"), col("g2"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = grams.join(dupHashes, Seq("g1", "g2"))
        .select(col("doc_id"), col("pos"))
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("span_len"), min(col("pos")).as("start"))
      spans.groupBy(col("doc_id"))
        .agg(sum(col("span_len")).as("n_dup_grams"),
          count(lit(1)).as("n_spans"),
          max(col("span_len")).as("max_span_grams"),
          min(col("start")).as("first_dup_pos"))
    }

  // ---- hashed shingles --------------------------------------------------
  /** Per-token rolling hashes (each token hashed once). */
  def tokenHashesSpark(text: String): String =
    s"transform(${TextOps.tokensSpark(text)}, t -> ${TextOps.rollingHashSpark("t")})"
  def tokenHashesDuck(text: String): String =
    s"list_transform(${TextOps.tokensDuck(text)}, t -> ${TextOps.rollingHashDuck("t")})"

  /** Distinct k-shingle hashes from the token-hash array `hs`: polynomial
    * combine of k consecutive token hashes mod p, O(1) per shingle.
    */
  def shingleHashesSpark(hs: String): String = {
    val combine = (2 to ShingleK).foldLeft(s"element_at($hs, i)") {
      (acc, o) => s"($acc * 31 + element_at($hs, i + ${o - 1})) % $P"
    }
    s"CASE WHEN size($hs) >= $ShingleK THEN " +
      s"array_distinct(transform(sequence(1, size($hs) - ${ShingleK - 1}), i -> $combine)) " +
      s"ELSE CAST(array() AS ARRAY<BIGINT>) END"
  }
  def shingleHashesDuck(hs: String): String = {
    val combine = (2 to ShingleK).foldLeft(s"$hs[i]") {
      (acc, o) => s"($acc * 31 + $hs[i + ${o - 1}]) % $P"
    }
    s"CASE WHEN len($hs) >= $ShingleK THEN " +
      s"list_distinct(list_transform(range(1, len($hs) - ${ShingleK - 2}), i -> $combine)) " +
      s"ELSE []::BIGINT[] END"
  }

  // ---- minhash signatures + LSH bands -----------------------------------
  /** MinHash signature from the shingle-hash array `xs`: sig_j = min over
    * shingles of (a_j·x + b_j) mod p.
    */
  def signatureSpark(xs: String): String =
    (0 until NumHashes).map(j =>
      s"array_min(transform($xs, x -> (${HashA(j)} * x + ${HashB(j)}) % $P))")
      .mkString("array(", ", ", ")")
  def signatureDuck(xs: String): String =
    (0 until NumHashes).map(j =>
      s"list_min(list_transform($xs, x -> (${HashA(j)} * x + ${HashB(j)}) % $P))")
      .mkString("[", ", ", "]")

  /** LSH band keys from the signature array: polynomial combine of each
    * band's RowsPerBand signature values.
    */
  def bandKeysSpark(sig: String): String =
    (0 until Bands).map { b =>
      (2 to RowsPerBand).foldLeft(s"element_at($sig, ${b * RowsPerBand + 1})") {
        (acc, o) => s"($acc * 31 + element_at($sig, ${b * RowsPerBand + o})) % $P"
      }
    }.mkString("array(", ", ", ")")
  /** DuckDB band key for a dynamic band index expression `b`. */
  def bandKeyDuck(sig: String, b: String): String =
    (2 to RowsPerBand).foldLeft(s"$sig[$b * $RowsPerBand + 1]") {
      (acc, o) => s"($acc * 31 + $sig[$b * $RowsPerBand + $o]) % $P"
    }

  /** (doc_id, sig) — the minhash signature table. Shingle hashing runs
    * through the native fused expression (see [[shingled]]); the 12
    * affine mins then fold over the small per-doc hash array. At scale
    * this is the table to persist (MEMORY_AND_DISK) when more than one
    * downstream pass needs it.
    */
  def signatures(c: DataFrame): DataFrame =
    signaturesFromShingles(shingled(c))
  /** DuckDB mirror of [[signatures]] over `corpus` (staged subselects). */
  val signaturesDuckBody: String =
    s"""SELECT doc_id, ${signatureDuck("xs")} AS sig FROM (
       |  SELECT doc_id, ${shingleHashesDuck("hs")} AS xs FROM (
       |    SELECT doc_id, ${tokenHashesDuck("text")} AS hs FROM corpus))""".stripMargin

  /** (doc_id, shingle-hash set) — for the Jaccard verify step and all
    * downstream minhash/decontamination passes. Uses the native fused
    * [[graft.functions.ShingleHashes]] expression (one pass over the
    * string, no intermediate arrays) — proven bit-equal to the HOF
    * formulation [[shingleHashesSpark]], which remains the
    * cross-dialect spec the DuckDB oracle mirrors.
    */
  def shingled(c: DataFrame): DataFrame =
    c.select(col("doc_id"),
      expr(s"shingle_hashes(text, $ShingleK)").as("sh"))
  val shingledDuckBody: String =
    s"""SELECT doc_id, ${shingleHashesDuck("hs")} AS sh FROM (
       |  SELECT doc_id, ${tokenHashesDuck("text")} AS hs FROM corpus)""".stripMargin
  def signaturesFromShingles(shingled: DataFrame): DataFrame =
    shingled.select(col("doc_id"), expr(signatureSpark("sh")).as("sig"))

  /** (doc_id, band_id, band_key) rows — the LSH bucket table. Signature
    * computation is a narrow map; only the slim bucket triple shuffles.
    */
  def lshBuckets(c: DataFrame): DataFrame =
    lshBucketsFromSig(signatures(c))
  def lshBucketsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        posexplode(expr(bandKeysSpark("sig"))).as(Seq("band_id", "band_key")))
      .select(col("doc_id"), col("band_id").cast("long").as("band_id"), col("band_key"))
  /** DuckDB mirror over a `sigs(doc_id, sig)` CTE. */
  val lshBucketsDuckBody: String =
    s"""SELECT doc_id, CAST(b.band_id AS BIGINT) AS band_id,
       |  ${bandKeyDuck("sig", "b.band_id")} AS band_key
       |FROM sigs, (SELECT unnest(range(0, $Bands)) AS band_id) b""".stripMargin

  /** Candidate pairs: self-join inside (band_id, band_key), a < b,
    * distinct. Never an all-pairs product — the join key is the bucket.
    */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val a = buckets.as("a"); val b = buckets.as("b")
    a.join(b, col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }
  val candidatePairsDuckBody: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM buckets a JOIN buckets b
      |  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin

  /** Hashed-shingle Jaccard verify over candidate pairs: join the (small)
    * candidate set back to per-doc shingle-hash sets, compute
    * |∩| / |∪| in double, keep pairs ≥ threshold.
    */
  def jaccardVerify(c: DataFrame, pairs: DataFrame, threshold: Double): DataFrame =
    jaccardVerifyShingled(shingled(c), pairs, threshold)
  def jaccardVerifyShingled(sh: DataFrame, pairs: DataFrame,
                            threshold: Double): DataFrame = {
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / " +
             "CAST(size(array_union(sh_a, sh_b)) AS DOUBLE)").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
  /** Duplicate clustering: connected components over verified near-dup
    * pairs, labels = min doc_id per component (deterministic canonical
    * representative — the doc a keep-one policy retains).
    *
    * Iterative min-label propagation: each round joins current labels to
    * the (symmetrized, persisted) edge list and takes the per-node min of
    * own and neighbor labels; labels only decrease, so the label SUM is a
    * monotone convergence witness (one scalar to the driver per round —
    * iteration control, not data). Rounds needed = graph diameter
    * (dup clusters are shallow; bounded by `maxIters`). This is the
    * Pregel-style pattern that scales: per round one equi-join + one
    * min-aggregate, both keyed on node id.
    *
    * The converged label table is localCheckpoint'ed (eager) before the
    * edge/label caches are released: only executor-local blocks are
    * materialized — nothing but the per-round scalar label sum ever
    * reaches the driver, so the output can be billions of rows. If the
    * loop exits on `maxIters` before the label sum converges (component
    * diameter > maxIters), a warning is logged: labels are then an
    * upper-bound partition refinement, not full transitive closure.
    */
  def dupComponents(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(lvl)
    // round 1 fused into init: label₀(v) = min(v, min direct neighbor)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label")).persist(lvl)
    def labelSum(df: DataFrame): Long =  // null-safe: empty graph → 0
      Option(df.agg(sum(col("label"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = labelSum(labels)
    var it = 0
    var done = false
    while (it < maxIters && !done) {
      val next = labels
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"))
        .unionAll(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .persist(lvl)
      val s = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      if (s == prevSum) done = true else prevSum = s
      it += 1
    }
    if (!done)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"dupComponents: maxIters=$maxIters reached without label-sum " +
          "convergence; labels may not be the full transitive closure")
    // detach via Materialize (≡ the previous eager localCheckpoint +
    // unpersist, but honors the plan-audit passthrough so q71 snapshots
    // its final-round shape instead of a bare post-checkpoint scan)
    graft.core.Materialize.detached(
      labels.select(col("id").as("doc_id"), col("label").as("component"))) {
      labels.unpersist(blocking = false)
      edges.unpersist(blocking = false)
    }
  }

  /** Fuzzy-key self-join: all DISTINCT key-string pairs within
    * Levenshtein distance 1, found by deletion-neighborhood banding
    * (the FastSS family, Bocek et al. 2007) — never an all-pairs
    * product.
    *
    * Candidate generation: every key emits its 0- and 1-deletion
    * variants (the string itself plus each single-character deletion,
    * len+1 rows). Two strings at edit distance ≤ 1 ALWAYS share a
    * variant (equal → themselves; substitution at i → both drop i;
    * insertion → the longer drops the inserted char and meets the
    * shorter's identity variant), so an equi-join on the variant is a
    * complete band. It is not exact — "ab"/"ba" share variants at
    * distance 2 — so candidates are verified with a real
    * `levenshtein` before leaving the operator. Distance d ≥ 2 would
    * use ≤d-deletion variants (O(len^d) rows/key) with the same
    * join+verify shape; only d = 1 is built because that is the
    * entity-resolution sweet spot (one-keystroke typos).
    *
    * Scale (100 TB): one scan of `keys` projected to two columns,
    * exploded ×(len+1), then a shuffle equi-join on the variant — key
    * cardinality grows with the data, so it stays shuffle-balanced.
    * A bucket holds only strings one deletion apart (≤ alphabet·len
    * in practice); a pathological shared-prefix key population skews
    * single buckets, which AQE's skew-join split absorbs. The verify
    * multiset then dedupes pair-wise (two strings can share several
    * variants) via one more pair-keyed shuffle. Nothing is quadratic
    * in |keys|; nothing is collected.
    *
    * Output: (key_a, name_a, key_b, name_b), name_a < name_b, one row
    * per distinct (name_a, name_b) with representative ids — pairs of
    * DISTINCT names only (lev = 0 twins are exact-dedup's job, q33).
    */
  def editPairs(keys: DataFrame, idCol: String, nameCol: String): DataFrame = {
    // a dimension-sized key table usually arrives as ONE parquet file =
    // one partition, and the ×(len+1) deletion explode below multiplies
    // work BEFORE the join — left single-partition, the whole band
    // (and the broadcast build of the self-join side) runs as one 5 s
    // task at sf0.1 (r14 stage probe). Round-robin the narrow input
    // across the session's width first: the explode, the variant
    // hashing, and the broadcast build all parallelize, and at real
    // dim sizes the downstream v-join's shuffle is unchanged.
    // UNCONDITIONAL on purpose (r15): the r14-advice guard
    // (`if (keys.rdd.getNumPartitions < par) ...`) was tried and
    // MEASURED a 2.0×/1.7× regression on q108/q111 — the input is
    // dimension-sized by contract and arrives effectively narrow (one
    // file, or an AQE-coalesced shuffle the pre-execution partition
    // probe misjudges), so skipping the spread serializes the ×(len+1)
    // explode again; the spread itself shuffles only a dimension table
    // and is noise by comparison.
    val spread = keys.repartition(
      keys.sparkSession.sparkContext.defaultParallelism)
    val vars = spread.select(col(idCol).as("key_id"), col(nameCol).as("name"))
      .select(col("key_id"), col("name"), explode(expr(
        """transform(sequence(0, length(name)),
          |  i -> IF(i = 0, name,
          |          concat(substring(name, 1, i - 1), substring(name, i + 1))))"""
          .stripMargin)).as("v"))
    val left = vars.select(col("key_id").as("key_a"), col("name").as("name_a"),
      col("v"))
    val right = vars.select(col("key_id").as("key_b"), col("name").as("name_b"),
      col("v"))
    left.join(right, Seq("v"))
      .filter(col("name_a") < col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      // a pair found through several shared variants is ONE pair; ids
      // are functionally dependent on names here (distinct names), but
      // min() keeps the answer deterministic even for duplicated names
      .groupBy(col("name_a"), col("name_b"))
      .agg(min(col("key_a")).as("key_a"), min(col("key_b")).as("key_b"))
      .select(col("key_a"), col("name_a"), col("key_b"), col("name_b"))
  }

  def jaccardVerifyDuckBody(threshold: Double): String =
    s"""SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN shingled sa ON sa.doc_id = id_a
       |JOIN shingled sb ON sb.doc_id = id_b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= $threshold""".stripMargin
}
