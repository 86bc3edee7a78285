package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, datediff, hash, lit, month,
  pmod, substring, to_date, unix_seconds, upper, when, year}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual,
  Or}
import org.apache.spark.sql.types._

/** Hidden partitioning for the manifested table — the Iceberg
  * partition-spec construction: a table DECLARES transforms
  * (`PARTITIONED BY (identity(k) | bucket(n, k) | days|months|years(d))`),
  * every staged file is stamped with the partition TUPLE its rows fall
  * in, and scans prune files from the tuple alone — manifest-level,
  * zero footer reads, and (unlike min/max stats) exact for hash
  * buckets. Queries never name the transform: filters on the SOURCE
  * column prune (the "hidden" in hidden partitioning — no Hive-style
  * dt-string double bookkeeping for users to get wrong).
  *
  * Specs are VERSIONED and append-only (`#partitionspecs=` manifest
  * meta, the same discipline as `#fieldepochs=`): a spec CHANGE is one
  * metadata commit, old files keep the spec they were written under
  * (their `ps:` token indexes the history), and pruning consults each
  * file's OWN spec — Iceberg partition evolution. Encodings keep the
  * manifest's existing token grammar: column names ride hex-encoded so
  * delimiters round-trip.
  *
  * Transform semantics (all evaluated with Spark's own expressions at
  * write AND re-derived exactly on the driver at prune time):
  *  - `identity(c)`: the value itself (int/long/string).
  *  - `bucket(n, c)`: `pmod(hash(c), n)` — Spark's Murmur3 `hash()`
  *    (seed 42), NULL source → NULL tuple (never hashed, so null rows
  *    are a distinguishable partition and IS NULL prunes exactly).
  *  - `days|months|years(c)`: date binning relative to epoch, DATE
  *    columns only (a DATE is a timezone-free day count, so both
  *    engines agree bit-exactly; calendar binning of a timestamp
  *    would drag the session zone into the layout and is refused
  *    loudly).
  *  - `hours(c)`: TIMESTAMP columns — floor(epochSecond/3600). Sound
  *    where days/months on timestamps are not, because the epoch-hour
  *    of an instant is zone-free.
  *  - `truncate(w, c)`: ints/longs floor to the nearest multiple of w
  *    (floorMod, so negatives bin correctly); strings keep their
  *    first w code points. Monotone in both flavors.
  *
  * Monotone transforms (identity, days, months, years, hours,
  * truncate) prune range predicates; bucket prunes equality/IN.
  * Everything unknown
  * conservatively matches — pruning is an optimization, never a
  * correctness dependency (the engine re-applies every filter
  * row-level).
  */
private[graft] object ManifestPartitions {

  sealed trait PartTransform { def colName: String }
  final case class PIdentity(colName: String) extends PartTransform
  final case class PBucket(n: Int, colName: String) extends PartTransform
  final case class PDays(colName: String) extends PartTransform
  final case class PMonths(colName: String) extends PartTransform
  final case class PYears(colName: String) extends PartTransform
  // hours(ts): TIMESTAMP columns — sound where days/months on
  // timestamps are refused, because Spark timestamps are INSTANTS
  // (UTC micros) and the epoch-hour is zone-free; both engines bin
  // floor(epochSecond / 3600) bit-exactly
  final case class PHours(colName: String) extends PartTransform
  // truncate(w, c): ints/longs floor to the nearest multiple of w
  // (sign-safe via floorMod), strings keep their first w characters
  // (hex-encoded like identity strings) — MONOTONE in both flavors,
  // so range predicates prune (Iceberg's truncate)
  final case class PTruncate(w: Int, colName: String) extends PartTransform

  /** One file's value for one transform: None = NULL source. Longs for
    * every numeric transform; identity(string) carries UTF-8 bytes
    * (compared unsigned, the manifest's string-stat discipline).
    */
  sealed trait PartVal
  case object PNull extends PartVal
  final case class PLong(v: Long) extends PartVal
  final case class PBytes(v: Array[Byte]) extends PartVal

  // ---- spec encoding (manifest meta `#partitionspecs=`) -----------------
  // specs ';'-joined (append-only history; index = a file's `ps:`);
  // each spec ','-joined transforms; each transform `kind:args:hexcol`.
  // The EMPTY spec (evolution to unpartitioned) encodes as `-`.

  private[graft] val SpecsKey = "partitionspecs"

  private def hexEnc(s: String): String =
    s.getBytes(StandardCharsets.UTF_8).map("%02x".format(_)).mkString
  private def hexDec(h: String): String =
    new String(h.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray,
      StandardCharsets.UTF_8)

  def encodeSpec(ts: Seq[PartTransform]): String =
    if (ts.isEmpty) "-"
    else ts.map {
      case PIdentity(c) => s"identity:${hexEnc(c)}"
      case PBucket(n, c) => s"bucket:$n:${hexEnc(c)}"
      case PDays(c) => s"days:${hexEnc(c)}"
      case PMonths(c) => s"months:${hexEnc(c)}"
      case PYears(c) => s"years:${hexEnc(c)}"
      case PHours(c) => s"hours:${hexEnc(c)}"
      case PTruncate(w, c) => s"truncate:$w:${hexEnc(c)}"
    }.mkString(",")

  def decodeSpec(s: String): Seq[PartTransform] =
    if (s == "-" || s.isEmpty) Nil
    else s.split(',').toSeq.map(_.split(':') match {
      case Array("identity", c) => PIdentity(hexDec(c))
      case Array("bucket", n, c) => PBucket(n.toInt, hexDec(c))
      case Array("days", c) => PDays(hexDec(c))
      case Array("months", c) => PMonths(hexDec(c))
      case Array("years", c) => PYears(hexDec(c))
      case Array("hours", c) => PHours(hexDec(c))
      case Array("truncate", w, c) => PTruncate(w.toInt, hexDec(c))
      case other => throw new IllegalStateException(
        s"unparseable partition transform '${other.mkString(":")}'")
    })

  def encodeSpecs(specs: Seq[Seq[PartTransform]]): String =
    specs.map(encodeSpec).mkString(";")

  def decodeSpecs(s: Option[String]): Seq[Seq[PartTransform]] =
    s.toSeq.flatMap(_.split(';').toSeq.map(decodeSpec))

  /** Parse the user-facing spec string (`CALL set_partition_spec`):
    * comma-separated transforms — `days(d)`, `months(d)`, `years(d)`,
    * `bucket(16, k)`, `identity(k)` or a bare column name; `none`
    * drops partitioning. Validated against the declared schema.
    */
  def parseUserSpec(s: String, schema: StructType): Seq[PartTransform] = {
    val trimmed = s.trim
    if (trimmed.isEmpty || trimmed.equalsIgnoreCase("none")) return Nil
    // split on top-level commas (arguments contain their own)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    trimmed.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    val ts = parts.toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      val m = "^([A-Za-z_]+)\\s*\\((.*)\\)$".r.findFirstMatchIn(p)
      m match {
        case None => PIdentity(p)
        case Some(g) => (g.group(1).toLowerCase, g.group(2).trim) match {
          case ("identity", c) => PIdentity(c)
          case ("days", c) => PDays(c)
          case ("months", c) => PMonths(c)
          case ("years", c) => PYears(c)
          case ("hours", c) => PHours(c)
          case ("bucket", args) =>
            val a = args.split(',').map(_.trim)
            require(a.length == 2,
              s"bucket needs (n, col), got '$args'")
            PBucket(a(0).toInt, a(1))
          case ("truncate", args) =>
            val a = args.split(',').map(_.trim)
            require(a.length == 2,
              s"truncate needs (w, col), got '$args'")
            PTruncate(a(0).toInt, a(1))
          case (k, _) => throw new IllegalArgumentException(
            s"unsupported partition transform '$k' — supported: " +
              "identity, bucket(n, col), truncate(w, col), days, " +
              "months, years, hours")
        }
      }
    }
    validate(ts, schema)
    ts
  }

  /** Refuse unsupported (transform, column-type) pairs loudly at
    * declaration time — never at the first write.
    */
  def validate(ts: Seq[PartTransform], schema: StructType): Unit =
    ts.foreach { t =>
      val f = schema.fields.find(_.name == t.colName).getOrElse(
        throw new IllegalArgumentException(
          s"partition transform references unknown column " +
            s"'${t.colName}' (have ${schema.fieldNames.mkString(",")})"))
      (t, f.dataType) match {
        case (_: PIdentity, IntegerType | LongType | StringType |
                            ShortType | ByteType | DateType) =>
        case (_: PBucket, IntegerType | LongType | StringType) =>
        case (_: PDays | _: PMonths | _: PYears, DateType) =>
        case (tr: PTruncate, IntegerType | LongType | StringType) =>
          require(tr.w > 0, s"truncate width must be positive, got ${tr.w}")
        // hours over an INSTANT is zone-free (unlike day/month binning,
        // which needs a calendar and therefore a zone): supported
        case (_: PHours, TimestampType) =>
        case (_: PDays | _: PMonths | _: PYears, TimestampType) =>
          throw new IllegalArgumentException(
            s"${t.getClass.getSimpleName.stripPrefix("P").toLowerCase}" +
              s"(${t.colName}): date transforms are supported on DATE " +
              "columns only — a timestamp binning would bake the " +
              "session timezone into the physical layout; derive a " +
              "DATE column or use identity/bucket/hours")
        case _ => throw new IllegalArgumentException(
          s"partition transform on ${t.colName}: " +
            s"${f.dataType.simpleString} is not supported for " +
            s"${t.getClass.getSimpleName}")
      }
    }

  // ---- write side: derived columns + tuple stamping ----------------------

  /** The Spark expression deriving a transform's tuple value — what
    * the staged write partitions by. NULL source → NULL tuple for
    * every transform (bucket guards explicitly: Spark's `hash(NULL)`
    * returns the seed, which would silently fold null rows into a real
    * bucket and break IS NULL pruning).
    *
    * String identity values ride HEX-ENCODED: the derived value
    * becomes a directory name under `partitionBy`, and hex is
    * path-safe with no escaping to undo.
    */
  def derivedExpr(t: PartTransform, df: DataFrame): Column = {
    val c = col(t.colName)
    val dt = df.schema(t.colName).dataType
    t match {
      case PIdentity(_) => dt match {
        case StringType => upper(org.apache.spark.sql.functions.hex(
          org.apache.spark.sql.functions.encode(c, "UTF-8")))
        case DateType => datediff(c, to_date(lit("1970-01-01")))
        case _ => c.cast(LongType)
      }
      case PBucket(n, _) =>
        when(c.isNull, lit(null).cast(IntegerType))
          .otherwise(pmod(hash(c), lit(n)))
      case PDays(_) => datediff(c, to_date(lit("1970-01-01")))
      case PMonths(_) => (year(c) - 1970) * 12 + month(c) - 1
      case PYears(_) => year(c) - 1970
      // floorDiv spelled as (s − floorMod(s, 3600)) / 3600: the
      // numerator divides exactly, so the double division is exact
      // (epoch seconds ≪ 2^53) and the cast is lossless
      case PHours(_) =>
        ((unix_seconds(c) - pmod(unix_seconds(c), lit(3600L))) / 3600)
          .cast(LongType)
      case PTruncate(w, _) => dt match {
        case StringType => upper(org.apache.spark.sql.functions.hex(
          org.apache.spark.sql.functions.encode(
            substring(c, 1, w), "UTF-8")))
        // v − floorMod(v, w): floors toward −∞, so negatives land in
        // their own multiples (Iceberg's truncate), monotone
        case _ => (c.cast(LongType) -
          pmod(c.cast(LongType), lit(w.toLong))).cast(LongType)
      }
    }
  }

  /** Whether the transform's derived value is the hex-string flavor
    * (identity or truncate over a string column) — decides token
    * decode.
    */
  private def isStringIdentity(t: PartTransform,
      schema: StructType): Boolean = t match {
    case PIdentity(c) =>
      schema.fields.find(_.name == c).exists(_.dataType == StringType)
    case PTruncate(_, c) =>
      schema.fields.find(_.name == c).exists(_.dataType == StringType)
    case _ => false
  }

  val NullDirValue = "__HIVE_DEFAULT_PARTITION__"

  /** `pt:` token from the values `partitionBy` wrote into the staged
    * directory names (one segment per transform, write order): `n` for
    * NULL, `i<dec>` for numeric tuples, `s<hex>` for string identity.
    */
  def tupleToken(ts: Seq[PartTransform], dirValues: Seq[String],
      schema: StructType): String =
    ts.zip(dirValues).map { case (t, v) =>
      if (v == NullDirValue) "n"
      else if (isStringIdentity(t, schema)) s"s$v"
      else s"i${v.toLong}"
    }.mkString(",")

  def decodeTuple(tok: String): Seq[PartVal] =
    tok.split(',').toSeq.map {
      case "n" => PNull
      case v if v.startsWith("i") => PLong(v.substring(1).toLong)
      case v if v.startsWith("s") => PBytes(
        v.substring(1).sliding(2, 2)
          .map(Integer.parseInt(_, 16).toByte).toArray)
      case other => throw new IllegalStateException(
        s"unparseable partition tuple value '$other'")
    }

  /** Per-row tuple-token derivation for the DSv2 TASK WRITERS — the
    * third implementation site of the transform semantics (write-side
    * Spark expressions, driver-side literal transforms, and this
    * InternalRow evaluator), kept bit-identical so a file staged by a
    * clustered/streaming/row-level writer prunes exactly like one
    * staged through `partitionBy`. None when a source column is
    * absent from the write schema or of an unsupported type — the
    * writer declines to a token-less stage, the same sound fallback
    * as [[ManifestedTable]]'s stageFiles.
    */
  def rowTokenizer(ts: Seq[PartTransform],
      schema: StructType): Option[org.apache.spark.sql.catalyst
        .InternalRow => String] = {
    import org.apache.spark.sql.catalyst.InternalRow
    def hexUpper(b: Array[Byte]): String =
      b.map("%02X".format(_)).mkString
    val cells: Seq[Option[InternalRow => String]] = ts.map { t =>
      val idx = schema.fieldNames.indexOf(t.colName)
      if (idx < 0) None
      else {
        val i = idx
        val dt = schema.fields(i).dataType
        def longAt(r: InternalRow): Long = dt match {
          case LongType => r.getLong(i)
          case IntegerType => r.getInt(i).toLong
          case ShortType => r.getShort(i).toLong
          case ByteType => r.getByte(i).toLong
          case DateType => r.getInt(i).toLong
          case _ => throw new IllegalStateException(s"$dt is not integral")
        }
        (t, dt) match {
          case (PIdentity(_), StringType) => Some(r =>
            if (r.isNullAt(i)) "n"
            else s"s${hexUpper(r.getUTF8String(i).getBytes)}")
          case (PIdentity(_), LongType | IntegerType | ShortType |
                              ByteType | DateType) =>
            Some(r => if (r.isNullAt(i)) "n" else s"i${longAt(r)}")
          case (PBucket(n, _), LongType | IntegerType | StringType) =>
            Some { r =>
              if (r.isNullAt(i)) "n"
              else {
                val h = dt match {
                  case LongType => org.apache.spark.unsafe.hash
                    .Murmur3_x86_32.hashLong(r.getLong(i), 42)
                  case IntegerType => org.apache.spark.unsafe.hash
                    .Murmur3_x86_32.hashInt(r.getInt(i), 42)
                  case StringType =>
                    val b = r.getUTF8String(i).getBytes
                    org.apache.spark.unsafe.hash.Murmur3_x86_32
                      .hashUnsafeBytes(b,
                        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                        b.length, 42)
                  case _ => 0
                }
                s"i${pmodInt(h, n)}"
              }
            }
          case (PDays(_), DateType) =>
            Some(r => if (r.isNullAt(i)) "n" else s"i${r.getInt(i)}")
          case (PMonths(_), DateType) => Some { r =>
            if (r.isNullAt(i)) "n"
            else {
              val ld = java.time.LocalDate.ofEpochDay(r.getInt(i).toLong)
              s"i${(ld.getYear - 1970) * 12 + ld.getMonthValue - 1}"
            }
          }
          case (PYears(_), DateType) => Some(r =>
            if (r.isNullAt(i)) "n"
            else s"i${java.time.LocalDate.ofEpochDay(r.getInt(i).toLong)
              .getYear - 1970}")
          case (PHours(_), TimestampType) => Some(r =>
            if (r.isNullAt(i)) "n"
            else s"i${Math.floorDiv(
              Math.floorDiv(r.getLong(i), 1000000L), 3600L)}")
          case (PTruncate(w, _), LongType | IntegerType | ShortType |
                                 ByteType) => Some { r =>
            if (r.isNullAt(i)) "n"
            else {
              val v = longAt(r)
              s"i${v - Math.floorMod(v, w.toLong)}"
            }
          }
          case (PTruncate(w, _), StringType) => Some(r =>
            if (r.isNullAt(i)) "n"
            else s"s${hexUpper(
              r.getUTF8String(i).substringSQL(1, w).getBytes)}")
          case _ => None
        }
      }
    }
    if (cells.isEmpty || cells.exists(_.isEmpty)) None
    else {
      val fs = cells.map(_.get)
      Some(r => fs.map(_(r)).mkString(","))
    }
  }

  // ---- prune side: driver re-derivation of the transforms ---------------

  /** Spark's `hash()` for the types bucket supports — the EXACT
    * function the derived expression ran, re-derived on the driver for
    * a probe literal (Murmur3, seed 42; UTF8 bytes for strings).
    */
  private def sparkHash(v: Any): Option[Int] = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    import org.apache.spark.unsafe.Platform
    v match {
      case x: Long => Some(Murmur3_x86_32.hashLong(x, 42))
      case x: Int => Some(Murmur3_x86_32.hashInt(x, 42))
      case x: Short => Some(Murmur3_x86_32.hashInt(x.toInt, 42))
      case x: Byte => Some(Murmur3_x86_32.hashInt(x.toInt, 42))
      case s: String =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        Some(Murmur3_x86_32.hashUnsafeBytes(
          b, Platform.BYTE_ARRAY_OFFSET, b.length, 42))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        val b = u.getBytes
        Some(Murmur3_x86_32.hashUnsafeBytes(
          b, Platform.BYTE_ARRAY_OFFSET, b.length, 42))
      case _ => None
    }
  }

  private def pmodInt(a: Int, n: Int): Int = {
    val r = a % n
    if (r < 0) r + n else r
  }

  /** Epoch day of a V1 filter's date literal (java.sql.Date or
    * LocalDate, depending on the session's Java-8 API flag).
    */
  private def epochDay(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def localDate(v: Any): Option[java.time.LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: java.time.LocalDate => Some(d)
    case _ => None
  }

  /** Epoch second of a V1 filter's timestamp literal (both Java-8-API
    * flavors), floored — the hours transform's input space.
    */
  private def epochSecond(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L))
    case i: java.time.Instant => Some(i.getEpochSecond)
    case _ => None
  }

  /** The transform of a filter literal, in the tuple's Long space —
    * None when the literal's type doesn't fit the transform (no
    * pruning). For monotone transforms the result preserves order, so
    * range predicates prune.
    */
  private def transformValue(t: PartTransform, v: Any): Option[Long] =
    t match {
      case PIdentity(_) => v match {
        case x: Long => Some(x)
        case x: Int => Some(x.toLong)
        case x: Short => Some(x.toLong)
        case x: Byte => Some(x.toLong)
        case _ => epochDay(v)
      }
      case PBucket(n, _) => sparkHash(v).map(h => pmodInt(h, n).toLong)
      case PDays(_) => epochDay(v)
      case PMonths(_) =>
        localDate(v).map(d => (d.getYear - 1970) * 12L +
          d.getMonthValue - 1)
      case PYears(_) => localDate(v).map(_.getYear - 1970L)
      case PHours(_) => epochSecond(v).map(Math.floorDiv(_, 3600L))
      case PTruncate(w, _) => v match {
        case x: Long => Some(x - Math.floorMod(x, w.toLong))
        case x: Int => Some(x - Math.floorMod(x.toLong, w.toLong))
        case x: Short => Some(x - Math.floorMod(x.toLong, w.toLong))
        case x: Byte => Some(x - Math.floorMod(x.toLong, w.toLong))
        case _ => None
      }
    }

  private def isMonotone(t: PartTransform): Boolean = t match {
    case _: PBucket => false
    case _ => true
  }

  /** v−1 / v+1 on DISCRETE domains (integers, dates) — what rewrites
    * `x < v` into `x <= v−1` so boundary-aligned ranges prune AND
    * prove exactly through coarse transforms (the Iceberg boundary
    * adjustment: `d < 2026-03-01` refutes the March months-tuple and
    * covers February's). None for continuous/unknown types — callers
    * fall back to the strict-inequality rule.
    */
  private def prevDiscrete(v: Any): Option[Any] = v match {
    case x: Long => if (x == Long.MinValue) None else Some(x - 1)
    case x: Int => if (x == Int.MinValue) None else Some(x - 1)
    case x: Short =>
      if (x == Short.MinValue) None else Some((x - 1).toShort)
    case x: Byte => if (x == Byte.MinValue) None else Some((x - 1).toByte)
    case d: java.sql.Date =>
      Some(java.sql.Date.valueOf(d.toLocalDate.minusDays(1)))
    case d: java.time.LocalDate => Some(d.minusDays(1))
    case _ => None
  }

  private def nextDiscrete(v: Any): Option[Any] = v match {
    case x: Long => if (x == Long.MaxValue) None else Some(x + 1)
    case x: Int => if (x == Int.MaxValue) None else Some(x + 1)
    case x: Short =>
      if (x == Short.MaxValue) None else Some((x + 1).toShort)
    case x: Byte => if (x == Byte.MaxValue) None else Some((x + 1).toByte)
    case d: java.sql.Date =>
      Some(java.sql.Date.valueOf(d.toLocalDate.plusDays(1)))
    case d: java.time.LocalDate => Some(d.plusDays(1))
    case _ => None
  }

  private def utf8Bytes(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes(StandardCharsets.UTF_8))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes)
    case _ => None
  }

  /** A string literal TRANSFORMED into the tuple's byte space:
    * identity passes the UTF-8 bytes through, truncate keeps the first
    * w CODE POINTS (Spark's `substring` counts code points, so both
    * sides agree on multi-byte text) — what PBytes tuples compare
    * against. Truncation preserves unsigned byte order, so the range
    * matcher's monotone reasoning holds for the truncated space.
    */
  private def transformBytes(t: PartTransform,
      v: Any): Option[Array[Byte]] = t match {
    case PTruncate(w, _) =>
      val s = v match {
        case x: String => Some(x)
        case u: org.apache.spark.unsafe.types.UTF8String =>
          Some(u.toString)
        case _ => None
      }
      s.map { x =>
        val cut =
          if (x.codePointCount(0, x.length) <= w) x
          else x.substring(0, x.offsetByCodePoints(0, w))
        cut.getBytes(StandardCharsets.UTF_8)
      }
    case _ => utf8Bytes(v)
  }

  /** Can a file whose tuple (under ITS OWN spec `ts`) is `tuple`
    * possibly hold a row matching `f`? False only on a PROVEN
    * refutation; anything the tuple can't decide matches. Every row in
    * the file has EXACTLY the tuple's transform values, so (unlike an
    * interval) equality refutation is exact — including hash buckets.
    */
  def mayMatch(ts: Seq[PartTransform], tuple: Seq[PartVal],
      f: Filter,
      trans: String => Option[String] = Some(_)): Boolean = {
    if (ts.isEmpty || ts.size != tuple.size) return true
    // `trans` maps the filter's CURRENT column name to the file's
    // PHYSICAL name (field-id translation): a spec records the names
    // as of its creation, which are the file's physical names — so a
    // post-RENAME filter still prunes pre-rename files. An
    // untranslatable name (dead id) just never prunes.
    def byCol(a: String): Option[(PartTransform, PartVal)] =
      trans(a).flatMap(p => ts.zip(tuple).find(_._1.colName == p))
    def eqMatch(t: PartTransform, pv: PartVal, v: Any): Boolean =
      (pv, v) match {
        case (_, null) => true // col = NULL: three-valued, not pruned
        case (PNull, _) => false // an all-NULL tuple never equals a value
        case (PLong(x), _) => transformValue(t, v).forall(_ == x)
        case (PBytes(b), _) =>
          transformBytes(t, v).forall(Bytes.compare(b, _) == 0)
      }
    def rangeMatch(t: PartTransform, pv: PartVal, v: Any,
        keepLo: Boolean): Boolean =
      (pv, isMonotone(t)) match {
        case (_, false) => true // buckets carry no order
        case (PNull, _) => false // NULL never satisfies a range
        case (PLong(x), _) => transformValue(t, v).forall(b =>
          if (keepLo) x >= b else x <= b)
        case (PBytes(b), _) => transformBytes(t, v).forall(vb =>
          if (keepLo) Bytes.compare(b, vb) >= 0 else Bytes.compare(b, vb) <= 0)
      }
    f match {
      case EqualTo(a, v) =>
        byCol(a).forall { case (t, pv) => eqMatch(t, pv, v) }
      case In(a, vs) => byCol(a).forall { case (t, pv) =>
        vs.isEmpty || vs.exists(eqMatch(t, pv, _)) }
      // monotone transforms coarsen: x > v implies T(x) >= T(v), so a
      // file is refuted only when its tuple sits strictly on the wrong
      // side of the TRANSFORMED bound (never exactly on it). STRICT
      // bounds on discrete domains first rewrite to their inclusive
      // equivalents (x < v ⟺ x <= v−1), so a boundary-aligned probe
      // refutes the boundary bin too (d < 2026-03-01 drops March).
      case GreaterThan(a, v) =>
        val v2 = nextDiscrete(v).getOrElse(v)
        byCol(a).forall { case (t, pv) => rangeMatch(t, pv, v2, keepLo = true) }
      case GreaterThanOrEqual(a, v) =>
        byCol(a).forall { case (t, pv) => rangeMatch(t, pv, v, keepLo = true) }
      case LessThan(a, v) =>
        val v2 = prevDiscrete(v).getOrElse(v)
        byCol(a).forall { case (t, pv) => rangeMatch(t, pv, v2, keepLo = false) }
      case LessThanOrEqual(a, v) =>
        byCol(a).forall { case (t, pv) => rangeMatch(t, pv, v, keepLo = false) }
      case IsNull(a) => byCol(a).forall(_._2 == PNull)
      case IsNotNull(a) => byCol(a).forall(_._2 != PNull)
      // the translation rides THROUGH compound filters: the identity
      // default here would look the filter's CURRENT name up among the
      // spec's PHYSICAL names — harmless when the rename moved the name
      // away (no match, no pruning), but a name-SWAP rename (b→a where
      // a was a spec source) would prune a's tuple against b's values
      case And(l, r) =>
        mayMatch(ts, tuple, l, trans) && mayMatch(ts, tuple, r, trans)
      case Or(l, r) =>
        mayMatch(ts, tuple, l, trans) || mayMatch(ts, tuple, r, trans)
      case _ => true
    }
  }

  /** The COVERAGE dual of [[mayMatch]]: does the tuple PROVE that
    * EVERY row of the file satisfies `f`? True only on a proof —
    * anything undecidable is false (the sound default flips sides
    * here: mayMatch defaults to keep, mustMatch defaults to "cannot
    * prove"). What the proof rests on: every row in the file has
    * EXACTLY the tuple's transform values, so
    *
    *  - equality is proven only for IDENTITY transforms (injective on
    *    their supported types) — `tuple == T(v)` under days/truncate/
    *    bucket proves nothing about the source values;
    *  - ranges are proven by STRICT inequality in the transformed
    *    space of a MONOTONE transform: `T(x) < T(v) ⟹ x < v` (the
    *    contrapositive of monotonicity), where the non-strict
    *    comparison would be exactly the coarsening mayMatch tolerates;
    *  - `x <= v` additionally accepts an identity equality proof;
    *  - IS [NOT] NULL is exact both ways (NULL source ⟺ NULL tuple);
    *  - And needs both sides proven, Or either.
    *
    * This is what turns a partition-aligned retention DELETE into a
    * metadata commit: a file whose months-tuple sits strictly below
    * the cutoff's month drops by reference with zero IO (Iceberg's
    * metadata delete).
    */
  def mustMatch(ts: Seq[PartTransform], tuple: Seq[PartVal],
      f: Filter,
      trans: String => Option[String] = Some(_)): Boolean = {
    if (ts.isEmpty || ts.size != tuple.size) return false
    def byCol(a: String): Option[(PartTransform, PartVal)] =
      trans(a).flatMap(p => ts.zip(tuple).find(_._1.colName == p))
    def eqProven(t: PartTransform, pv: PartVal, v: Any): Boolean =
      (t, pv) match {
        case _ if v == null => false
        case (PIdentity(_), PLong(x)) => transformValue(t, v).contains(x)
        case (PIdentity(_), PBytes(b)) =>
          transformBytes(t, v).exists(Bytes.compare(b, _) == 0)
        case _ => false
      }
    def strictProven(t: PartTransform, pv: PartVal, v: Any,
        above: Boolean): Boolean =
      (pv, isMonotone(t)) match {
        case (_, false) => false
        case (PNull, _) => false
        case (PLong(x), _) => v != null && transformValue(t, v).exists(b =>
          if (above) x > b else x < b)
        case (PBytes(b), _) => v != null && transformBytes(t, v).exists(vb =>
          if (above) Bytes.compare(b, vb) > 0 else Bytes.compare(b, vb) < 0)
      }
    // tuple == T(v) exactly (monotone transforms only — bucket proves
    // nothing); the boundary leg of the inclusive-range proofs
    def tupleEq(t: PartTransform, pv: PartVal, v: Any): Boolean =
      (pv, isMonotone(t)) match {
        case (PLong(x), true) =>
          v != null && transformValue(t, v).contains(x)
        case (PBytes(b), true) =>
          v != null && transformBytes(t, v).exists(Bytes.compare(b, _) == 0)
        case _ => false
      }
    // x <= v proven: tuple strictly below T(v); or tuple == T(v) AND v
    // is the MAX of its bin (T(v+1) crosses) — then every row in the
    // bin is <= v (the month-end retention case); or identity equality
    def leProven(t: PartTransform, pv: PartVal, v: Any): Boolean =
      strictProven(t, pv, v, above = false) || eqProven(t, pv, v) ||
        (tupleEq(t, pv, v) && nextDiscrete(v).exists(v2 =>
          transformValue(t, v2).isDefined &&
            transformValue(t, v2) != transformValue(t, v)))
    def geProven(t: PartTransform, pv: PartVal, v: Any): Boolean =
      strictProven(t, pv, v, above = true) || eqProven(t, pv, v) ||
        (tupleEq(t, pv, v) && prevDiscrete(v).exists(v2 =>
          transformValue(t, v2).isDefined &&
            transformValue(t, v2) != transformValue(t, v)))
    f match {
      case EqualTo(a, v) =>
        byCol(a).exists { case (t, pv) => eqProven(t, pv, v) }
      case In(a, vs) => byCol(a).exists { case (t, pv) =>
        vs != null && vs.exists(eqProven(t, pv, _)) }
      // strict bounds on discrete domains rewrite to inclusive
      // (x < v ⟺ x <= v−1), same as the refutation side
      case GreaterThan(a, v) => byCol(a).exists { case (t, pv) =>
        nextDiscrete(v).map(geProven(t, pv, _))
          .getOrElse(strictProven(t, pv, v, above = true)) }
      case GreaterThanOrEqual(a, v) => byCol(a).exists { case (t, pv) =>
        geProven(t, pv, v) }
      case LessThan(a, v) => byCol(a).exists { case (t, pv) =>
        prevDiscrete(v).map(leProven(t, pv, _))
          .getOrElse(strictProven(t, pv, v, above = false)) }
      case LessThanOrEqual(a, v) => byCol(a).exists { case (t, pv) =>
        leProven(t, pv, v) }
      case IsNull(a) => byCol(a).exists(_._2 == PNull)
      case IsNotNull(a) => byCol(a).exists(p =>
        p._2 != PNull)
      case And(l, r) =>
        mustMatch(ts, tuple, l, trans) && mustMatch(ts, tuple, r, trans)
      case Or(l, r) =>
        mustMatch(ts, tuple, l, trans) || mustMatch(ts, tuple, r, trans)
      case _ => false
    }
  }

  /** [[mustMatch]] for one manifest entry: provable only when the file
    * carries `ps:`/`pt:` tokens (spec indexes are APPEND-ONLY, so a
    * concurrent spec change never re-points them).
    */
  def entryMustMatch(specs: Seq[Seq[PartTransform]],
      st: ManifestedTable.FileStats, f: Filter,
      physOf: Option[Map[String, String]] = None): Boolean =
    (st.pspec, st.ptuple) match {
      case (Some(si), Some(tok)) if si >= 0 && si < specs.size =>
        mustMatch(specs(si), decodeTuple(tok), f,
          a => physOf.fold(Option(a))(_.get(a)))
      case _ => false
    }

  /** Partition refutation for one manifest entry under the SPEC
    * HISTORY: the file's `ps:` token picks its write-time spec, its
    * `pt:` token the tuple — a file from BEFORE a spec change keeps
    * pruning under the spec it was actually laid out by (partition
    * evolution), and a file with no tokens (engine-staged, pre-spec,
    * foreign) just always matches.
    */
  def entryMayMatch(specs: Seq[Seq[PartTransform]],
      st: ManifestedTable.FileStats, f: Filter,
      physOf: Option[Map[String, String]] = None): Boolean =
    (st.pspec, st.ptuple) match {
      case (Some(si), Some(tok)) if si >= 0 && si < specs.size =>
        val ts = specs(si)
        val tuple = decodeTuple(tok)
        mayMatch(ts, tuple, f,
          a => physOf.fold(Option(a))(_.get(a)))
      case _ => true
    }
}
