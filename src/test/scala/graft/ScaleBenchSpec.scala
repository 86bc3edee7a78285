package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** The scale checkpoint is only a measurement if the replicated corpus
  * keeps the fixture's duplicate density — these tests pin the generator
  * invariants ScaleBench's doc claims: replica 0 is byte-identical to
  * the base, within-replica structure is preserved (lengths for text,
  * cosines for vectors), cross-replica content is disjoint, and ids
  * never enter the planted-fixture zones.
  */
class ScaleBenchSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("scaledDocs: 3x rows, distinct ids, replica 0 untouched") {
    val scaled = ScaleBench.scaledDocs(docs, 3).cache()
    val n = docs.count()
    assert(scaled.count() == 3 * n)
    assert(scaled.select("doc_id").distinct().count() == 3 * n)
    // replica 0 = the base corpus, bit-for-bit
    assert(scaled.filter(col("doc_id") < ScaleBench.IdStride)
      .exceptAll(docs).isEmpty)
    // no replica id lands in a planted-copy zone (plant zone tops out at
    // DedupOps.PlantCeil = 20030 < IdStride)
    assert(graft.operators.DedupOps.PlantCeil < ScaleBench.IdStride)
  }

  test("scaledDocs: cipher preserves lengths, kills cross-replica dups") {
    val scaled = ScaleBench.scaledDocs(docs, 3).cache()
    // cipher is length-preserving: every replica row keeps its base length
    val base = docs.select(col("doc_id"), length(col("text")).as("l0"))
    val rep = scaled
      .withColumn("base_id", col("doc_id") % ScaleBench.IdStride)
      .select(col("base_id").as("doc_id"), length(col("text")).as("l1"))
    assert(rep.join(base, "doc_id").filter(col("l1") =!= col("l0")).count() == 0)
    // within-replica duplicate groups replicate (planted fixture aside,
    // the base corpus's identical-text groups survive the cipher)...
    val baseDup = docs.groupBy(col("text")).count().filter(col("count") > 1).count()
    val repDup = scaled.filter(col("doc_id") >= 2 * ScaleBench.IdStride)
      .groupBy(col("text")).count().filter(col("count") > 1).count()
    assert(repDup == baseDup)
    // ...while across replicas no text repeats: total distinct = 3x base
    val distinctBase = docs.select("text").distinct().count()
    assert(scaled.select("text").distinct().count() == 3 * distinctBase)
  }

  test("scaledEmbeddings: within-replica cosines preserved, cross ~0") {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val scaled = ScaleBench.scaledEmbeddings(emb, 2, dim).cache()
    assert(scaled.count() == 2 * emb.count())
    def cos(df: org.apache.spark.sql.DataFrame, a: Long, b: Long): Double = {
      val v = df.filter(col("vec_id").isin(a, b))
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val dot = v(0).zip(v(1)).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(v(0).map(x => x * x).sum) *
        math.sqrt(v(1).map(x => x * x).sum))
    }
    val ids = emb.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    val c0 = cos(scaled, ids(0), ids(1))
    val c1 = cos(scaled, ids(0) + ScaleBench.IdStride,
      ids(1) + ScaleBench.IdStride)
    assert(math.abs(c0 - c1) < 1e-6,
      s"within-replica cosine drifted: $c0 vs $c1")
    // a vector vs its own sign-flipped replica: quasi-orthogonal
    val cx = cos(scaled, ids(0), ids(0) + ScaleBench.IdStride)
    assert(math.abs(cx) < 0.5, s"cross-replica cosine too high: $cx")
  }

  test("beta fits the exponent of an exact power law") {
    val lin = ScaleBench.beta(Seq(1 -> 2.0, 4 -> 8.0, 16 -> 32.0))
    val quad = ScaleBench.beta(Seq(1 -> 1.0, 4 -> 16.0, 16 -> 256.0))
    assert(math.abs(lin - 1.0) < 1e-9)
    assert(math.abs(quad - 2.0) < 1e-9)
    assert(ScaleBench.beta(Seq(1 -> 1.0)).isNaN)
  }

  test("buildDir cache is keyed by base dir + generator version") {
    import java.nio.file.{Files, Paths}
    val out = tempDir("scalebench-cache").toString
    val marker = Paths.get(out, "x1", "_DONE")
    ScaleBench.buildDir(spark, sf, 1, s"$out/x1")
    assert(Files.readString(marker) ==
      s"base=$sf gen=${ScaleBench.GenVersion}\n")
    val t0 = Files.getLastModifiedTime(marker)
    // same base + version: cache hit, nothing rewritten
    ScaleBench.buildDir(spark, sf, 1, s"$out/x1")
    assert(Files.getLastModifiedTime(marker) == t0)
    // a stale marker (older generator / different base) forces a rebuild
    Files.writeString(marker, s"base=$sf gen=${ScaleBench.GenVersion - 1}\n")
    ScaleBench.buildDir(spark, sf, 1, s"$out/x1")
    assert(Files.readString(marker) ==
      s"base=$sf gen=${ScaleBench.GenVersion}\n")
    assert(Files.exists(Paths.get(out, "x1", "documents.parquet")))
    // a marker-less non-empty directory is NOT ours: refuse to wipe it
    val foreign = tempDir("scalebench-foreign")
    Files.writeString(foreign.resolve("precious.txt"), "user data\n")
    val err = intercept[IllegalArgumentException] {
      ScaleBench.buildDir(spark, sf, 1, foreign.toString)
    }
    assert(err.getMessage.contains("refusing to delete"))
    assert(Files.exists(foreign.resolve("precious.txt")))
  }

  test("canary probe times positive and scales with work") {
    ScaleBench.canary(1, 4000000L) // JIT warmup — untimed, like main()
    // best-of-3 on both sides: a single 1M-iteration probe is ~1 ms and
    // one scheduler stall would fail an assertion about the machine, not
    // the code — minimums are the stable statistic on a contended host
    val short = (1 to 3).map(_ => ScaleBench.canary(1, 4000000L)).min
    val long = (1 to 3).map(_ => ScaleBench.canary(1, 64000000L)).min
    assert(short > 0 && long > 0)
    // 16x the iterations must cost measurably more (loose 2x bound —
    // this is a smoke test, not a benchmark of the benchmark)
    assert(long > short * 2, s"canary not work-proportional: $short vs $long")
    assert(ScaleBench.canary(2, 1000000L) > 0)
  }

  test("cell comparability: both bracketing probes must sit near the norm") {
    // quiet cell: both probes within 1.3x of the session's MEDIAN probe
    // (the norm — not the min: a fast late-session moment must not
    // retroactively discredit ordinary cells, see cellComparable)
    assert(ScaleBench.cellComparable(0.21, 0.25, sessionNorm = 0.20))
    // contention on EITHER side of the cell marks it: the probe series
    // brackets the measurement window, and a busy host before or after
    // means the cell's own window was suspect
    assert(!ScaleBench.cellComparable(0.45, 0.21, sessionNorm = 0.20))
    assert(!ScaleBench.cellComparable(0.21, 0.45, sessionNorm = 0.20))
    // boundary: exactly margin passes (<=), just over fails
    assert(ScaleBench.cellComparable(0.26, 0.26, sessionNorm = 0.20))
    assert(!ScaleBench.cellComparable(0.261, 0.20, sessionNorm = 0.20))
    // degenerate norm never certifies anything
    assert(!ScaleBench.cellComparable(0.2, 0.2, sessionNorm = 0.0))
  }

  test("sign pattern is deterministic and roughly balanced") {
    val s1 = (0 until 64).map(ScaleBench.sign(1, _))
    val s2 = (0 until 64).map(ScaleBench.sign(1, _))
    assert(s1 == s2)
    val pos = s1.count(_ > 0)
    assert(pos >= 16 && pos <= 48, s"degenerate sign balance: $pos/64")
    // patterns differ across replicas
    val t1 = (0 until 64).map(ScaleBench.sign(2, _))
    assert(s1 != t1)
  }
}
