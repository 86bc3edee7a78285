package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the building blocks
  * of an LLM training-data pipeline: tokenization, quality scoring,
  * language-ID, and content fingerprinting.
  *
  * Every derived quantity that is oracle-checked has BOTH a Spark-SQL
  * fragment (used via `expr`/`selectExpr` inside DataFrame chains) and a
  * DuckDB fragment (used to assemble the oracle SQL), generated here from
  * the same constants so the two dialects cannot drift. All scalar work is
  * built-in-function/HOF only — no UDFs — so everything stays inside
  * whole-stage codegen and scales linearly with no shuffle beyond the
  * final aggregate.
  *
  * Scale notes (100 TB): all per-document derivations are map-side
  * narrow transforms; the only shuffles are the explicit `groupBy`s, all
  * of which partial-aggregate map-side first. Token explosion (top-k,
  * simhash) multiplies rows by ~|tokens| but never materializes the
  * exploded set — it flows straight into a hash aggregate.
  */
object TextOps {

  /** Stopword list used by quality scoring (subset of the corpus vocab). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Marker-token sets for the n-gram/keyword language-ID heuristic.
    * Declaration order is the argmax tie-break order.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "table", "row"),
    "de" -> Seq("hash", "join", "customer"),
    "es" -> Seq("slow", "merge", "vector"),
    "fr" -> Seq("query", "scan", "data"),
    "zh" -> Seq("window", "batch", "stream"))

  /** "BPE-ish" subword tokenizer: greedy runs of ≤4 letters. */
  val SubwordRegex = "[a-z]{1,4}"

  val HashMod = 2147483647L // 2^31-1; polynomial rolling-hash modulus
  val SimhashBits = 16

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")
  private def duckArray(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  // ---- tokenization ----------------------------------------------------
  /** Whitespace tokens; corpus text is single-space separated. */
  def tokensSpark(c: String): String = s"split($c, ' ')"
  def tokensDuck(c: String): String  = s"string_split($c, ' ')"

  def subwordCountSpark(c: String): String =
    s"CAST(size(regexp_extract_all($c, '$SubwordRegex', 0)) AS BIGINT)"
  def subwordCountDuck(c: String): String =
    s"CAST(len(regexp_extract_all($c, '$SubwordRegex', 0)) AS BIGINT)"

  // ---- rolling hash (document / token fingerprint) ---------------------
  /** Polynomial rolling hash over characters, mod 2^31-1. Identical
    * left-to-right fold in both dialects (verified: h("abc") = 96354).
    */
  // The one rolling-hash formula (split on '', code-point ascii,
  // (acc·31+x) mod p): every tier — shingles (HashMod), span grams
  // (DedupOps.SpanP1/P2) — must parameterize THIS definition so an
  // edge-case fix can never desynchronize them.
  def rollingHashSpark(c: String, p: Long = HashMod): String =
    s"aggregate(transform(split($c, ''), ch -> CAST(ascii(ch) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % $p)"
  def rollingHashDuck(c: String, p: Long = HashMod): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($c, ''), " +
      s"ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) % $p)"

  // ---- quality scoring --------------------------------------------------
  /** Shared quality formula: 0.4·uniq_ratio + 0.3·(1−stop_ratio) +
    * 0.3·min(1, n_tokens/100). Arithmetic shape mirrored exactly so the
    * doubles are bit-identical across engines.
    */
  def qualitySpark(text: String): Seq[(String, String)] = {
    val toks = tokensSpark(text)
    Seq(
      "n_tokens"   -> s"CAST(size($toks) AS BIGINT)",
      "stop_ratio" -> (s"CAST(size(filter($toks, t -> t IN ${sqlList(Stopwords)})) AS DOUBLE)" +
                       s" / CAST(size($toks) AS DOUBLE)"),
      "uniq_ratio" -> (s"CAST(size(array_distinct($toks)) AS DOUBLE)" +
                       s" / CAST(size($toks) AS DOUBLE)"),
      "mean_tok_len" -> (s"CAST(length($text) - (size($toks) - 1) AS DOUBLE)" +
                         s" / CAST(size($toks) AS DOUBLE)"))
  }
  def qualityDuck(text: String): Seq[(String, String)] = {
    val toks = tokensDuck(text)
    Seq(
      "n_tokens"   -> s"CAST(len($toks) AS BIGINT)",
      "stop_ratio" -> (s"CAST(len(list_filter($toks, t -> t IN ${sqlList(Stopwords)})) AS DOUBLE)" +
                       s" / CAST(len($toks) AS DOUBLE)"),
      "uniq_ratio" -> (s"CAST(len(list_distinct($toks)) AS DOUBLE)" +
                       s" / CAST(len($toks) AS DOUBLE)"),
      "mean_tok_len" -> (s"CAST(length($text) - (len($toks) - 1) AS DOUBLE)" +
                         s" / CAST(len($toks) AS DOUBLE)"))
  }
  /** score := 0.4*uniq + 0.3*(1-stop) + 0.3*least(1, n_tokens/100) —
    * identical text in both dialects (column-name level).
    */
  val qualityScoreExpr: String =
    "0.4 * uniq_ratio + 0.3 * (1.0 - stop_ratio) + " +
      "0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)"

  // ---- language id ------------------------------------------------------
  /** Per-language marker-hit scores; argmax with declaration-order
    * tie-break (CASE chain, first-wins).
    */
  def langScoresSpark(text: String): Seq[(String, String)] =
    LangMarkers.map { case (l, ws) =>
      s"score_$l" -> (s"CAST(size(array_intersect(array_distinct(${tokensSpark(text)}), " +
        s"array${sqlList(ws)})) AS BIGINT)")
    }
  def langScoresDuck(text: String): Seq[(String, String)] =
    LangMarkers.map { case (l, ws) =>
      s"score_$l" -> (s"CAST(len(list_intersect(list_distinct(${tokensDuck(text)}), " +
        s"${duckArray(ws)})) AS BIGINT)")
    }
  /** CASE chain over score_<lang> columns — dialect-neutral. */
  val langArgmaxExpr: String = {
    val langs = LangMarkers.map(_._1)
    val arms = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"score_$l >= score_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE '${langs.last}' END"
  }

  // ---- simhash ----------------------------------------------------------
  /** 16-bit SimHash over whitespace tokens (term-frequency weighted):
    * explode tokens → per-token rolling hash → 16 signed bit-sums →
    * reassemble. The explode feeds straight into a partial-aggregating
    * hash aggregate, so the token blow-up never shuffles raw tokens —
    * only 16 running sums per doc.
    */
  def simhashSpark(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(expr(tokensSpark(textCol))).as("tok"))
      .withColumn("h", expr(rollingHashSpark("tok")))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1)).as(s"s_$b"))
    val assemble = (0 until SimhashBits).map(b =>
      s"CASE WHEN s_$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), expr(assemble).as("simhash"))
  }
  /** DuckDB mirror of [[simhashSpark]] as a full SELECT over `relation`. */
  def simhashDuck(relation: String, idCol: String, textCol: String): String = {
    val bitSums = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(", ")
    val assemble = (0 until SimhashBits).map(b =>
      s"CASE WHEN s_$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""SELECT $idCol, $assemble AS simhash FROM (
       |  SELECT $idCol, $bitSums FROM (
       |    SELECT $idCol, ${rollingHashDuck("tok")} AS h FROM (
       |      SELECT $idCol, unnest(${tokensDuck(textCol)}) AS tok FROM $relation))
       |  GROUP BY $idCol)""".stripMargin
  }
}
