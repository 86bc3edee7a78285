package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed query parameters.
  *
  * The reference assembles SQL by string-concatenating caller parameters
  * (`/root/reference/src/AccidentStatistics.scala:102`) — injection-prone and
  * unoptimizable. The rebuild passes typed parameters into pure
  * `DataFrame => DataFrame` functions so Catalyst sees real literals
  * (constant folding, partition pruning, parquet filter pushdown all apply).
  */
final case class BBox(xLo: Double, xHi: Double, yLo: Double, yHi: Double)

/** Closed [lo, hi] or half-open [lo, hi) time range, ISO `yyyy-MM-dd HH:mm:ss`.
  * The reference mixes both semantics (closed BETWEEN in
  * `src/OverSpeedCount.scala:117`, half-open in `src/AverageSpeed.scala:202`);
  * we expose both explicitly.
  */
final case class TimeRange(lo: String, hi: String)

/** Parquet table loaders over a scale-factor directory.
  *
  * At 100 TB these would be catalog tables (Hive-partitioned / Iceberg) —
  * the loader is the single seam where that swap happens; all operators
  * downstream take plain DataFrames and never touch paths.
  *
  * Schema memo: a plain `spark.read.parquet(path)` infers the schema with
  * a Spark job (footer merge, the Hadoop conf shipped in the task) on
  * every call, even for one file. [[parquet]] infers it once and passes
  * it explicitly on every later read, which starts no job. What is
  * memoized is the schema only, never a DataFrame: each read is a fresh
  * relation with fresh attribute ids, so self-joins keep working. The
  * key is
  *  - the path;
  *  - (path, length, mtime) of every file a recursive listing of it
  *    returns;
  *  - the session's set values of the settings that feed parquet schema
  *    inference: `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`
  *    and `spark.sql.caseSensitive` (`events.ts` reads as Long or as a
  *    timestamp depending on `nanosAsLong`). Other session confs, such
  *    as per-catalog ones, are left out so they do not turn reads into
  *    misses.
  * A rewrite that keeps a file's path, length and mtime goes undetected,
  * the same limit as `TrafficAnalytics`' parse cache. The memo is
  * JVM-wide and outlives `spark.stop()`; it is cleared once it holds
  * `MaxSchemas` entries.
  */
object Tables {
  import org.apache.spark.sql.functions.col

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema from the memo; a miss
    * infers it exactly as the plain read does and remembers it.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(k) => Option(schemas.get(k)) match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          if (schemas.size >= MaxSchemas) schemas.clear()
          schemas.put(k, df.schema)
          df
      }
    }

  private val MaxSchemas = 1024

  private type SchemaKey =
    (String, Seq[(String, Long, Long)], Map[String, String])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** The memo key of `path`, or None when it cannot be listed (a glob,
    * a missing path): the plain read then reports what it always did.
    */
  private def schemaKey(spark: SparkSession, path: String)
      : Option[SchemaKey] = {
    val p = new Path(path)
    scala.util.Try {
      val it = p.getFileSystem(spark.sessionState.newHadoopConf())
        .listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      files.result()
    }.toOption.map { files =>
      val settings = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }
      (path, files, settings)
    }
  }

  /** The testdata has shipped `events.ts` in two physical shapes across
    * rounds: TIMESTAMP(NANOS) parquet — which Spark only reads as a
    * nanos-since-epoch Long (`spark.sql.legacy.parquet.nanosAsLong=true`,
    * set by [[graft.core.Sessions]]) — and plain `timestamp[us]` with
    * isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ. Both
    * normalize HERE, once, to session-zoned TimestampType so every
    * downstream operator sees one type: `unix_micros` and friends reject
    * NTZ input outright (DATATYPE_MISMATCH analysis error — the round-11
    * regression that broke 7 queries), and the session timezone is pinned
    * UTC so the NTZ→LTZ cast is value-preserving. Nanos→micros truncation
    * is irrelevant to every query here.
    */
  private def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros($c div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"), "ts")

  /** Epoch nanos (UTC) of `yyyy-MM-dd[ HH:mm:ss]` — the literal-rewrite side
    * of the pushed time filter below.
    */
  private def nanosUtc(t: String): Long = {
    val iso = if (t.contains(' ')) t.replace(' ', 'T')
              else if (t.contains('T')) t else t + "T00:00:00"
    val ldt = java.time.LocalDateTime.parse(iso)
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + ldt.getNano
  }

  /** Time-range scan of `events` with the predicate PUSHED to the parquet
    * scan. `normalizeTs` projects a derived `timestamp_micros(ts div 1000)`
    * column; filtering on that derived column can never reach the parquet
    * reader (no row-group stats pruning — at 100 TB the time predicate is
    * the main pruning lever). Instead the range bounds are rewritten to
    * epoch nanos and compared against the raw TIMESTAMP(NANOS)-as-Long
    * column *before* the projection, so they land in PushedFilters and
    * row-group min/max stats skip whole files. Comparison at nano precision
    * is exactly the oracle's (DuckDB reads the full nanos).
    */
  def eventsRange(s: SparkSession, d: String, r: TimeRange,
                  closed: Boolean = true): DataFrame = {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
      val (lo, hi) = (nanosUtc(r.lo), nanosUtc(r.hi))
      val pred = if (closed) col("ts").between(lo, hi)
                 else col("ts") >= lo && col("ts") < hi
      normalizeTs(raw.filter(pred), "ts")
    } else {
      // native timestamp scan (LTZ or NTZ): compare against literals cast
      // to the COLUMN's own type, so the predicate stays a plain
      // column-vs-literal comparison and lands in PushedFilters — casting
      // the column instead would wrap it and forfeit row-group pruning.
      // Session tz is UTC, so the same string denotes the same instant in
      // both types. Normalize AFTER the filter (NTZ → LTZ, see above).
      import org.apache.spark.sql.functions.lit
      val dt = raw.schema("ts").dataType
      val (lo, hi) = (lit(r.lo).cast(dt), lit(r.hi).cast(dt))
      val pred = if (closed) col("ts").between(lo, hi)
                 else col("ts") >= lo && col("ts") < hi
      normalizeTs(raw.filter(pred), "ts")
    }
  }

  /** Date-equality slice of `events` ("today", SURVEY F4) as a pushed
    * half-open day range [d, d+1).
    */
  def eventsOnDate(s: SparkSession, d: String, date: String): DataFrame = {
    val next = java.time.LocalDate.parse(date).plusDays(1).toString
    eventsRange(s, d, TimeRange(date, next), closed = false)
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
