package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via global-order prefix filtering —
  * the EXACT counterpart of the MinHash-LSH band join (L8–L10): LSH
  * buys sub-quadratic candidate generation by accepting probabilistic
  * recall; the prefix filter buys it with a theorem, so recall is 1 by
  * construction and the only knob is the threshold itself. This is the
  * AllPairs/PPJoin family of the set-similarity-join literature,
  * re-expressed as three Spark hash shuffles.
  *
  * Exactness argument (the prefix lemma): fix ONE global total order on
  * elements and sort every set by it. If |x ∩ y| ≥ α, then the prefixes
  * of x and y of lengths |x| − α + 1 and |y| − α + 1 share at least one
  * element — each suffix has only α − 1 elements, so the α common
  * elements cannot all hide in both suffixes. For a Jaccard threshold
  * t = tNum/tDen: J(x,y) ≥ t ⇒ ov ≥ t·|x ∪ y| ≥ t·max(|x|,|y|) ≥
  * t·|x|, so α_x = ⌈t·|x|⌉ lower-bounds the overlap of any qualifying
  * partner and the per-set prefix length |x| − ⌈t·|x|⌉ + 1 is
  * CONSERVATIVE (a smaller α means a longer prefix — safe). Every
  * qualifying pair therefore collides on some prefix element; the
  * verify step then makes precision exact too.
  *
  * The global order is ascending (document frequency, element) —
  * RARE-FIRST. That choice is what bounds the join: prefix elements
  * are each set's rarest members, so the per-key group size of the
  * prefix self-join tracks the df of RARE elements, and the candidate
  * volume Σ_e df_pref(e)² stays near-linear on Zipfian corpora (the
  * AllPairs result) — the frequency head that would make a bare
  * element-level self-join quadratic (this corpus: 31-token vocabulary,
  * avg token df 377/500 docs) never enters a prefix.
  *
  * Scale shape (100 TB):
  *  - freq is ONE map-side-combined hash aggregate over exploded
  *    elements; the join back is elem-keyed and shuffle-balanced (per
  *    key exactly df fact rows — AQE skew-split handles a boilerplate
  *    head; the vocabulary is corpus-proportional, so no broadcast).
  *  - Sets shuffle ONCE (the groupBy set_id that assembles the ordered
  *    array); the prefix explode is a narrow map of that table.
  *  - Candidates are generated ONLY within a prefix-element bucket via
  *    a self-equi-join — never all pairs — then deduped (a pair can
  *    share several prefix elements, at most prefix-length many) and
  *    length-filtered: ov ≤ min ∧ ov ≥ t·max ⇒ tNum·max ≤ tDen·min,
  *    which prunes cross-length pairs BEFORE any array moves.
  *  - Verify fetches the two ordered arrays by id-equi-join (arrays
  *    move once per surviving candidate side, not once per candidate
  *    source row) and intersects — pure integer compare
  *    tDen·ov ≥ tNum·(n_a + n_b − ov), no division.
  *
  * Measured at sf0.01 (580-doc planted corpus, shingle sets, t = 3/5):
  * naive shared-element candidates 15,594 → prefix candidates 230 →
  * 143 true pairs; recall exactly 1 vs the all-pairs oracle.
  */
object SetJoinOps {

  /** All unordered pairs of sets with Jaccard ≥ tNum/tDen, exactly.
    *
    * @param elems (set_id: long/int, elem: bigint) rows, DISTINCT per
    *              set — each row one element of one set. Empty sets
    *              simply don't appear (matching the shared-element
    *              oracle, which can never emit them).
    * @return (id_a, id_b, ov, un) with id_a < id_b, ov = |a ∩ b|,
    *         un = |a ∪ b|, tDen·ov ≥ tNum·un.
    */
  def similarPairs(elems: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen not in (0,1]")
    graft.core.Materialize.caching { c =>
      val freq = elems.groupBy(col("elem")).agg(count(lit(1)).as("df"))
      // one ordered array per set: ascending (df, elem) = rare-first; the
      // single set-keyed shuffle of the whole operator
      val sets = c(elems.join(freq, "elem")
        .groupBy(col("set_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("elem")))).as("ord"))
        .select(col("set_id"),
          expr("transform(ord, x -> x.elem)").as("es"),
          size(col("ord")).cast("long").as("n")))
      // prefix length |x| − ⌈t·|x|⌉ + 1 (⌈·⌉ via integer ceil-div)
      val pref = sets.select(col("set_id"), col("n"),
        explode(expr(
          s"slice(es, 1, CAST(n - ((n * $tNum + ${tDen - 1}) DIV $tDen) + 1 AS INT))"
        )).as("p_elem"))
      val cand = pref.as("a").join(pref.as("b"),
          col("a.p_elem") === col("b.p_elem") &&
            col("a.set_id") < col("b.set_id") &&
            greatest(col("a.n"), col("b.n")) * tNum <=
              least(col("a.n"), col("b.n")) * tDen)
        .select(col("a.set_id").as("id_a"), col("b.set_id").as("id_b"))
        .distinct()
      cand
        .join(sets.select(col("set_id").as("id_a"),
          col("es").as("ea"), col("n").as("na")), "id_a")
        .join(sets.select(col("set_id").as("id_b"),
          col("es").as("eb"), col("n").as("nb")), "id_b")
        .withColumn("ov", size(array_intersect(col("ea"), col("eb"))).cast("long"))
        .filter(col("ov") * tDen >= (col("na") + col("nb") - col("ov")) * tNum)
        .select(col("id_a"), col("id_b"), col("ov"),
          (col("na") + col("nb") - col("ov")).as("un"))
    }
  }
}
