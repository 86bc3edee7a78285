package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

/** Per-file column statistics for the `graft-avro` connector — the
  * piece that turns filter pushdown into FILE SKIPPING.
  *
  * Writers track (lo,hi) for every numeric column while streaming rows
  * out (zero extra passes); task commit ships the intervals inside the
  * WriterCommitMessage; job commit publishes them as a sidecar manifest
  * `_graft_stats` next to the containers, swapped in by rename so a
  * concurrent reader sees the old manifest or the new one, never a torn
  * file. At planning time [[AvroScan]] refutes pushed range/equality
  * predicates against each file's interval and never opens files that
  * cannot match — the row-major container's analogue of parquet
  * row-group pruning, at the granularity the one-container-per-task
  * layout actually has.
  *
  * Skipping is an OPTIMIZATION, never a correctness dependency: a file
  * with no manifest entry (pre-manifest data, utility-written
  * containers, a column of all NULLs) is always planned, and the
  * pushed filters still run row-level in the reader. Values are stored
  * exactly — integers as decimal text, floating point as raw IEEE bits
  * — so reload never rounds; -0.0 is folded into +0.0 at observation
  * time and NaN ranks greatest, matching both Spark's ordering and
  * [[AvroFilterEval]].
  *
  * Two stat kinds per file-column:
  *  - INTERVALS (numeric columns) refute range and equality predicates
  *    whose value falls outside [lo,hi];
  *  - BLOOMS (numeric AND string columns) refute EQUALITY where
  *    intervals can't — keys interleaved across files (every file's
  *    interval covers the probe) and string columns (no interval at
  *    all). A bloom false positive only KEEPS a file; pruning requires
  *    a present value to probe absent, which cannot happen.
  *
  * Manifest line formats (tab-separated):
  * `fileName  column  i|f  lo  hi` (intervals; `f` raw-bits encoded) and
  * `fileName  column  b  base64(bits)` (blooms).
  */
private[sources] object AvroStats {

  /** Types the write-side [[Tracker]] keeps stats for — numerics carry
    * (lo,hi) intervals + blooms, strings blooms only. The scan's
    * runtime-filterable attribute set is derived from this, so Catalyst
    * only plants dynamic-pruning subqueries the planner can cash.
    */
  def trackable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType => true
    case _ => false
  }

  sealed trait ColRange
  final case class LongRange(lo: Long, hi: Long) extends ColRange
  final case class DblRange(lo: Double, hi: Double) extends ColRange

  /** Per-file per-column stats: interval (numeric columns) and/or a
    * small bloom (numeric AND string columns — equality pruning where
    * intervals can't help: overlapping ranges, string keys).
    */
  final case class ColStats(range: Option[ColRange],
      bloom: Option[Array[Long]])

  // ---- fixed-size per-column bloom --------------------------------------
  // 1024 bits / 4 probes: ~1% false-keep at ~100 distinct values per
  // file-column, saturating (= never pruning, always safe) beyond a few
  // hundred. Production files would size m by tracked ndv; the SHAPE —
  // observe at write, refute EqualTo at planning — is what's load-
  // bearing. A false POSITIVE only keeps a file; pruning is wrong only
  // if a present value probes absent, which cannot happen.
  private[sources] val BloomWords = 16        // 16 × 64 = 1024 bits
  private[sources] val BloomK = 4
  private[sources] val GoldenGamma = 0x9E3779B97F4A7C15L

  private[sources] def mix64(z0: Long): Long = {
    var z = z0 + GoldenGamma
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[sources] def hashBytes(bs: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a 64
    var i = 0
    while (i < bs.length) { h = (h ^ (bs(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }
  /** The value → probe-hash mapping, shared verbatim by observe (write
    * side) and refute (plan side) — fold -0.0 exactly as the interval
    * tracker does so EqualTo(0.0) still sees -0.0 rows.
    */
  private[sources] def valueHash(v: Any): Option[Long] = v match {
    case y: Long    => Some(mix64(y))
    case y: Int     => Some(mix64(y.toLong))
    case y: Double  =>
      Some(mix64(java.lang.Double.doubleToLongBits(if (y == 0.0d) 0.0d else y)))
    case y: Float   =>
      Some(mix64(java.lang.Double.doubleToLongBits(
        if (y == 0.0f) 0.0d else y.toDouble)))
    case y: String  =>
      Some(mix64(hashBytes(y.getBytes(StandardCharsets.UTF_8))))
    case y: org.apache.spark.unsafe.types.UTF8String =>
      Some(mix64(hashBytes(y.getBytes)))
    case _ => None
  }
  private[sources] def setBits(bits: Array[Long], h1: Long): Unit = {
    val h2 = mix64(h1)
    var i = 0
    while (i < BloomK) {
      val idx = ((h1 + i * h2) & Long.MaxValue) % (BloomWords * 64)
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      i += 1
    }
  }
  private[sources] def testBits(bits: Array[Long], h1: Long): Boolean = {
    val h2 = mix64(h1)
    var i = 0
    while (i < BloomK) {
      val idx = ((h1 + i * h2) & Long.MaxValue) % (BloomWords * 64)
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
  private[sources] def bloomEncode(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(BloomWords * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  private[sources] def bloomDecode(s: String): Option[Array[Long]] =
    scala.util.Try {
      val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      require(bb.remaining() == BloomWords * 8)
      Array.fill(BloomWords)(bb.getLong)
    }.toOption

  // ---- HLL NDV sketches (`<col>=h:` tokens) ------------------------------
  // HyperLogLog with p=8 (256 one-byte registers, ~6.5% RSE, 256 B per
  // column per file before base64): per-file PARTIALS that merge by
  // register-max, so the scan's estimateStatistics rolls a whole
  // snapshot's distinct count up from the manifest alone — the NDV
  // feed Spark's cost-based join reordering needs. Observed from the
  // same projected read (and the same 64-bit value hashes) as the
  // bloom tokens — one pass, two sketches.

  private[sources] val HllRegisters = 256

  private[sources] def hllObserve(regs: Array[Byte], h: Long): Unit = {
    val idx = (h >>> 56).toInt
    val w = h << 8
    val rho =
      (if (w == 0L) 57 else java.lang.Long.numberOfLeadingZeros(w) + 1)
        .toByte
    if (regs(idx) < rho) regs(idx) = rho
  }

  private[sources] def hllMergeInto(acc: Array[Byte],
      other: Array[Byte]): Unit = {
    var i = 0
    while (i < acc.length) {
      if (other(i) > acc(i)) acc(i) = other(i)
      i += 1
    }
  }

  /** Bias-corrected HLL estimate with linear counting for the small
    * range — the standard Flajolet construction; ±~6.5% at p=8, which
    * is selectivity-grade (CBO needs the ORDER of magnitude).
    */
  private[sources] def hllEstimate(regs: Array[Byte]): Long = {
    val m = regs.length.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < regs.length) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * m * m / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else e
    math.max(1L, math.round(est))
  }

  private[sources] def hllEncode(regs: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(regs)

  private[sources] def hllDecode(s: String): Option[Array[Byte]] =
    scala.util.Try {
      val b = java.util.Base64.getDecoder.decode(s)
      require(b.length == HllRegisters)
      b
    }.toOption

  /** Streaming (lo,hi) tracker over the numeric fields of `schema`. */
  final class Tracker(schema: StructType) {
    private val tracked = schema.fields.zipWithIndex.filter { case (f, _) =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType => true
        case _                                               => false
      }
    }
    private val n = tracked.length
    private val names = tracked.map(_._1.name)
    private val dts = tracked.map(_._1.dataType)
    private val pos = tracked.map(_._2)
    private val isInt = dts.map(dt => dt == LongType || dt == IntegerType)
    private val loL = new Array[Long](n)
    private val hiL = new Array[Long](n)
    private val loD = new Array[Double](n)
    private val hiD = new Array[Double](n)
    private val seen = new Array[Boolean](n)
    // bloom-tracked: the numeric columns PLUS strings (equality-only)
    private val btracked = schema.fields.zipWithIndex.filter { case (f, _) =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType |
             StringType => true
        case _ => false
      }
    }
    private val bn = btracked.length
    private val bnames = btracked.map(_._1.name)
    private val bdts = btracked.map(_._1.dataType)
    private val bpos = btracked.map(_._2)
    private val blooms = Array.fill(bn)(new Array[Long](BloomWords))
    private val bseen = new Array[Boolean](bn)
    private var rows = 0L

    def observe(row: InternalRow): Unit = {
      rows += 1
      var j = 0
      while (j < bn) {
        val i = bpos(j)
        if (!row.isNullAt(i)) {
          // EXACTLY valueHash's mapping, per type (incl. the -0.0 fold)
          val h = bdts(j) match {
            case LongType    => mix64(row.getLong(i))
            case IntegerType => mix64(row.getInt(i).toLong)
            case DoubleType  =>
              val d = row.getDouble(i)
              mix64(java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d))
            case FloatType   =>
              val d = row.getFloat(i).toDouble
              mix64(java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d))
            case _ => mix64(hashBytes(row.getUTF8String(i).getBytes))
          }
          setBits(blooms(j), h)
          bseen(j) = true
        }
        j += 1
      }
      var k = 0
      while (k < n) {
        val i = pos(k)
        if (!row.isNullAt(i)) {
          if (isInt(k)) {
            val v =
              if (dts(k) == LongType) row.getLong(i) else row.getInt(i).toLong
            if (!seen(k)) { loL(k) = v; hiL(k) = v; seen(k) = true }
            else {
              if (v < loL(k)) loL(k) = v
              if (v > hiL(k)) hiL(k) = v
            }
          } else {
            val raw =
              if (dts(k) == DoubleType) row.getDouble(i)
              else row.getFloat(i).toDouble
            val v = if (raw == 0.0d) 0.0d else raw  // -0.0 → +0.0
            if (!seen(k)) { loD(k) = v; hiD(k) = v; seen(k) = true }
            else {
              if (java.lang.Double.compare(v, loD(k)) < 0) loD(k) = v
              if (java.lang.Double.compare(v, hiD(k)) > 0) hiD(k) = v
            }
          }
        }
        k += 1
      }
    }

    /** One interval line per numeric column and one bloom line per
      * bloom-tracked column that saw a non-null value, plus the file's
      * exact ROW COUNT (`_  n  <rows>` — the `_` pseudo-column can
      * never parse as a real column's interval/bloom, so old readers
      * skip it): the piece that lets COUNT(*) answer from the manifest
      * with zero data IO.
      */
    def lines: Array[String] =
      ((0 until n).iterator.filter(seen).map { k =>
        if (isInt(k)) s"${names(k)}\ti\t${loL(k)}\t${hiL(k)}"
        else {
          val lo = java.lang.Double.doubleToRawLongBits(loD(k))
          val hi = java.lang.Double.doubleToRawLongBits(hiD(k))
          s"${names(k)}\tf\t$lo\t$hi"
        }
      } ++ (0 until bn).iterator.filter(bseen).map { j =>
        s"${bnames(j)}\tb\t${bloomEncode(blooms(j))}"
      } ++ Iterator.single(s"_\tn\t$rows")).toArray
  }

  private def manifest(dir: String) = new Path(dir, AvroDataSource.StatsFile)

  private def loadLines(dir: String, conf: Configuration): Seq[String] =
    scala.util.Try {
      val p = manifest(dir)
      Bytes.readUtf8(p.getFileSystem(conf), p)
        .split('\n').toSeq.filter(_.nonEmpty)
    }.getOrElse(Nil)

  /** Replace the manifest with (surviving old lines for `keepNames`) ++
    * `newLines`; rename-published. The brief absence window between
    * delete and rename only costs skipping, never rows.
    */
  def publish(dir: String, keepNames: Set[String], newLines: Seq[String],
              conf: Configuration): Unit = {
    val kept =
      if (keepNames.isEmpty) Nil
      else loadLines(dir, conf)
        .filter(l => keepNames.contains(l.takeWhile(_ != '\t')))
    val all = kept ++ newLines
    val fs = manifest(dir).getFileSystem(conf)
    val tmp = new Path(dir, AvroDataSource.StatsFile + ".inprogress")
    val out = fs.create(tmp, true)
    try out.write(
      all.mkString("", "\n", if (all.isEmpty) "" else "\n")
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(manifest(dir), false)
    require(fs.rename(tmp, manifest(dir)),
      s"graft-avro stats publish: rename failed under $dir")
  }

  /** fileName → column → stats; empty when absent/unreadable. */
  def load(dir: String, conf: Configuration): Map[String, Map[String, ColStats]] =
    loadLines(dir, conf).flatMap { line =>
      line.split('\t') match {
        case Array(file, col, "i", lo, hi) =>
          scala.util.Try((file, col,
            Left(LongRange(lo.toLong, hi.toLong): ColRange))).toOption
        case Array(file, col, "f", lo, hi) =>
          scala.util.Try((file, col, Left(DblRange(
            java.lang.Double.longBitsToDouble(lo.toLong),
            java.lang.Double.longBitsToDouble(hi.toLong)): ColRange))).toOption
        case Array(file, col, "b", payload) =>
          bloomDecode(payload).map(b => (file, col,
            Right(b): Either[ColRange, Array[Long]]))
        case _ => None
      }
    }.groupBy(_._1).map { case (f, ls) =>
      f -> ls.groupBy(_._2).map { case (c, es) =>
        c -> ColStats(
          es.collectFirst { case (_, _, Left(r)) => r },
          es.collectFirst { case (_, _, Right(b)) => b })
      }
    }

  /** fileName → exact row count, for files whose manifest carries the
    * `_ n` line (written since the count tier; older manifests simply
    * lack entries and aggregate pushdown falls back to a real scan).
    */
  def loadCounts(dir: String, conf: Configuration): Map[String, Long] =
    loadLines(dir, conf).flatMap { line =>
      line.split('\t') match {
        case Array(file, "_", "n", rows) =>
          scala.util.Try(file -> rows.toLong).toOption
        case _ => None
      }
    }.toMap

  // (cmp(v,lo), cmp(v,hi)) under the engine's ordering, or None when
  // the filter value's type doesn't pair with the stored interval —
  // None always KEEPS the file.
  private def bounds(v: Any, r: ColRange): Option[(Int, Int)] = (v, r) match {
    case (y: Long, LongRange(lo, hi)) =>
      Some((java.lang.Long.compare(y, lo), java.lang.Long.compare(y, hi)))
    case (y: Int, LongRange(lo, hi)) =>
      Some((java.lang.Long.compare(y.toLong, lo),
        java.lang.Long.compare(y.toLong, hi)))
    case (y: Double, DblRange(lo, hi)) =>
      val v0 = if (y == 0.0d) 0.0d else y
      Some((java.lang.Double.compare(v0, lo), java.lang.Double.compare(v0, hi)))
    case (y: Float, DblRange(lo, hi)) =>
      val v0 = if (y == 0.0f) 0.0d else y.toDouble
      Some((java.lang.Double.compare(v0, lo), java.lang.Double.compare(v0, hi)))
    case _ => None
  }

  /** Could ANY row of a file with stats `cols` satisfy `f`?
    * Conservative: unknown columns/filter shapes keep the file (stats
    * lines exist only for columns with ≥1 non-null value, so IsNull /
    * IsNotNull never prune — null counts aren't tracked). EqualTo
    * refutes by interval AND by bloom — the bloom is what prunes when
    * intervals overlap (high-cardinality keys interleaved across
    * files) and on string columns, which have no interval at all.
    */
  def mayMatch(f: Filter, cols: Map[String, ColStats]): Boolean = {
    def rng(a: String) = cols.get(a).flatMap(_.range)
    f match {
      case EqualTo(a, v) =>
        val rangeOk = rng(a).flatMap(bounds(v, _)).forall {
          case (cl, ch) => cl >= 0 && ch <= 0
        }
        val bloomOk = (for {
          st <- cols.get(a); b <- st.bloom; h <- valueHash(v)
        } yield testBits(b, h)).getOrElse(true)
        rangeOk && bloomOk
      case GreaterThan(a, v) =>
        rng(a).flatMap(bounds(v, _)).forall { case (_, ch) => ch < 0 }
      case GreaterThanOrEqual(a, v) =>
        rng(a).flatMap(bounds(v, _)).forall { case (_, ch) => ch <= 0 }
      case LessThan(a, v) =>
        rng(a).flatMap(bounds(v, _)).forall { case (cl, _) => cl > 0 }
      case LessThanOrEqual(a, v) =>
        rng(a).flatMap(bounds(v, _)).forall { case (cl, _) => cl >= 0 }
      // the runtime-filter shape (DPP hands the build side's observed
      // join keys as one In): the file survives iff ANY probed key may
      // be present — each key tested by interval AND bloom as EqualTo
      case In(a, vs) => vs.exists(v => mayMatch(EqualTo(a, v), cols))
      case _ => true
    }
  }
}
