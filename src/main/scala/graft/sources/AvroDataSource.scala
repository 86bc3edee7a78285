package graft.sources

import java.util

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead,
  SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownLimit,
  SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan,
  LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 face of [[AvroFiles]] — `spark.read.format("graft-avro")
  * .load(dir)` — the connector-API tier the sources family otherwise
  * only consumes (parquet/ORC/JSON/XML are built-ins; AvroFiles.read is
  * a driver-composed RDD). Implemented here because a complete engine
  * must also be EXTENSIBLE at the table level, and DSv2 is the public
  * surface for that: TableProvider → ScanBuilder → Batch → per-partition
  * readers producing InternalRow directly.
  *
  * What the implementation demonstrates, each load-bearing at scale:
  * - **Schema inference without a data scan**: the Avro CONTAINER
  *   declares its writer schema in the file header, so inference reads
  *   one header (first file), never rows — unlike JSON/CSV inference,
  *   which is a full pass (the reason SourceFormatsSpec mandates
  *   explicit schemas there). `timestamp-micros` logical types map back
  *   to Spark TimestampType.
  * - **Planning**: one InputPartition per container file (the split
  *   unit Avro sync markers would refine; file granularity is correct
  *   and sufficient for the one-file-per-write-partition layout
  *   AvroFiles.write produces). |files| objects on the driver —
  *   manifest-sized, the q131 argument.
  * - **File skipping**: each writer tracks per-numeric-column (lo,hi)
  *   while streaming rows out; job commit publishes them as a sidecar
  *   manifest (`_graft_stats`, swapped in by rename). At planning time
  *   pushed range/equality filters are tested against each file's
  *   interval and files that cannot match are never opened — the
  *   row-major container's answer to parquet row-group pruning, and
  *   the piece that makes pushdown save IO rather than just conversion.
  *   Files absent from the manifest are conservatively kept.
  * - **Runtime (join-driven) filtering** (SupportsRuntimeFiltering):
  *   the DSv2 face of dynamic partition pruning — Catalyst executes a
  *   selective join's build side FIRST and hands the observed keys in
  *   as an In filter before partitions are planned, so container files
  *   whose stats refute every probed key are skipped on information
  *   that only exists at runtime.
  * - **Aggregate pushdown** (SupportsPushDownAggregates): global
  *   MIN/MAX/COUNT(*) answer from the manifest's exact intervals and
  *   row counts — |files| lines, zero data IO; anything the stats
  *   can't answer exactly (filters, GROUP BY, uncovered files,
  *   all-NULL columns) declines and falls back to a real scan.
  * - **Column pruning** (SupportsPushDownRequiredColumns): the pruned
  *   schema reaches the reader factory. Avro is ROW-MAJOR, so pruning
  *   cannot skip IO the way parquet does — it skips per-field
  *   CONVERSION (Utf8→UTF8String etc.) and shrinks the rows handed to
  *   Spark; the spec asserts the scan's output really is the pruned
  *   set (`[event_type]`, not all five columns).
  * - **InternalRow production**: readers emit catalyst values directly
  *   (UTF8String, micros long for timestamps) — no Row→encoder hop.
  * - **Hadoop conf threading**: every FileSystem resolution goes
  *   through the SESSION hadoopConfiguration (captured on the driver,
  *   shipped to tasks via SerializableConfiguration), so runtime
  *   `spark.hadoop.*` settings — S3A credentials, endpoints — reach
  *   the readers and writers. A fresh `new Configuration()` would
  *   silently drop them.
  *
  * Registered as `graft-avro` via DataSourceRegister +
  * META-INF/services.
  */
class AvroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avro"

  private def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-avro needs a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroDataSource.inferFromFirstFile(dir(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new AvroTable(schema, properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object AvroDataSource {
  /** Session Hadoop conf — carries runtime `spark.hadoop.*` overrides.
    * Driver-side only; tasks receive it via SerializableConfiguration.
    */
  private[sources] def sessionConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** Sidecar manifest holding per-file column stats (see [[AvroStats]]). */
  private[sources] val StatsFile = "_graft_stats"

  def listFiles(dir: String): Seq[String] = listFiles(dir, sessionConf())

  def listFiles(dir: String, conf: Configuration): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter((s: FileStatus) => s.isFile &&
        s.getPath.getName.endsWith(".avro"))
      .map(_.getPath.toString).sorted
  }

  /** Schema from the FIRST container file's header — no row is read.
    * The raw input stream is closed even when the container constructor
    * throws (truncated/non-Avro file), so inference never leaks a
    * handle.
    */
  private[sources] def inferFromFirstFile(dir: String): StructType = {
    val files = listFiles(dir)
    require(files.nonEmpty, s"no .avro files under $dir")
    val p = new Path(files.head)
    val fs = p.getFileSystem(sessionConf())
    val in = fs.open(p)
    val rdr =
      try new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      catch { case t: Throwable => in.close(); throw t }
    try sparkType(rdr.getSchema)
    finally rdr.close()
  }

  private def nonNull(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val ts = s.getTypes
      val nn = new util.ArrayList[Schema]()
      ts.forEach(t => if (t.getType != Schema.Type.NULL) nn.add(t))
      require(nn.size == 1, s"only union[null, T] supported, got $s")
      (nn.get(0), ts.size > nn.size)
    } else (s, false)

  private[sources] def sparkType(record: Schema): StructType = {
    require(record.getType == Schema.Type.RECORD, s"not a record: $record")
    val fields = new scala.collection.mutable.ArrayBuffer[StructField]()
    record.getFields.forEach { f =>
      val (t, nullable) = nonNull(f.schema())
      val dt = t.getType match {
        case Schema.Type.LONG =>
          if (t.getLogicalType != null &&
              t.getLogicalType.getName == "timestamp-micros") TimestampType
          else LongType
        case Schema.Type.INT     => IntegerType
        case Schema.Type.DOUBLE  => DoubleType
        case Schema.Type.FLOAT   => FloatType
        case Schema.Type.STRING  => StringType
        case Schema.Type.BOOLEAN => BooleanType
        case Schema.Type.BYTES   => BinaryType
        case other => throw new IllegalArgumentException(
          s"graft-avro does not map Avro type $other (field ${f.name})")
      }
      fields += StructField(f.name, dt, nullable)
    }
    StructType(fields.toSeq)
  }
}

private[sources] class AvroTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-avro `$path`"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(schema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(info.schema(), path, info.queryId())
}

/** Write path: the DSv2 commit protocol done properly, because THIS is
  * what a 1000-executor writer actually needs — task isolation under
  * retries and speculation. Each task writes an invisible
  * `.part-<partition>-<task>-<queryId>.avro.inprogress` file;
  * `commit()` on the task returns its (temp, final) pair plus the
  * column stats it observed as the WriterCommitMessage and the DRIVER
  * finalizes: job commit renames every committed temp to its final
  * name (|files| renames — manifest-sized), swaps in the stats
  * manifest, and, under truncate (SaveMode.Overwrite), deletes the
  * pre-existing container files it recorded at build time. A
  * failed/aborted job renames nothing, so readers never observe a
  * half-written table; Spark's commit coordinator guarantees one
  * committing attempt per partition.
  *
  * File names embed the job's `queryId` (a driver-minted UUID from
  * LogicalWriteInfo): task ids RESTART per application, so without a
  * job-unique token an append from a later JVM could collide with a
  * file an earlier job committed — HDFS rename would fail the job,
  * local rename would silently replace data.
  */
private[sources] class AvroWriteBuilder(schema: StructType, path: String,
    queryId: String) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new AvroBatchWrite(AvroFiles.avroSchema(schema).toString,
        schema, path, doTruncate, queryId)
  }
}

/** stats: one line per tracked column, `col\tkind\tlo\thi` (see
  * [[AvroStats]]); empty for an empty partition or no trackable column.
  */
private[sources] case class AvroCommitMessage(temp: String, fin: String,
    stats: Array[String] = Array.empty) extends WriterCommitMessage

private[sources] class AvroBatchWrite(schemaJson: String,
    schema: StructType, path: String, truncate: Boolean, queryId: String)
    extends BatchWrite {
  // captured on the DRIVER: the session conf for commit/abort and (via
  // the factory) every task-side FileSystem call
  private val sconf =
    new SerializableConfiguration(AvroDataSource.sessionConf())
  // recorded on the DRIVER at build time: the files truncate replaces
  private val preExisting: Seq[String] =
    if (truncate)
      scala.util.Try(AvroDataSource.listFiles(path, sconf.value)).getOrElse(Nil)
    else Nil

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AvroWriterFactory(schemaJson, schema, path, queryId, sconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(sconf.value)
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    val committed = messages.collect {
      case AvroCommitMessage(t, f, st) if t.nonEmpty =>
        val ok = fs.rename(new Path(t), new Path(f))
        require(ok, s"graft-avro commit: rename $t -> $f failed")
        val name = new Path(f).getName
        st.foreach(line => newStats += s"$name\t$line")
        f
    }.toSet
    preExisting.filterNot(committed).foreach(f =>
      fs.delete(new Path(f), false))
    // survivors of an append keep their manifest lines; truncate starts
    // clean (pre-existing files are gone). Published by rename so a
    // reader sees either the old manifest or the new, never a torn one.
    val keepNames: Set[String] =
      if (truncate) Set.empty
      else scala.util.Try(AvroDataSource.listFiles(path, sconf.value))
        .getOrElse(Nil).map(new Path(_).getName).toSet -- committed.map(
          f => new Path(f).getName)
    AvroStats.publish(path, keepNames, newStats.toSeq, sconf.value)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(sconf.value)
    messages.foreach {
      case AvroCommitMessage(t, _, _) if t != null && t.nonEmpty =>
        fs.delete(new Path(t), false); ()
      case _ => ()
    }
  }
}

private[sources] class AvroWriterFactory(schemaJson: String,
    schema: StructType, dir: String, queryId: String,
    sconf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.avro.file.{CodecFactory, DataFileWriter}
      import org.apache.avro.generic.{GenericData, GenericDatumWriter}
      // temp is ATTEMPT-unique (taskId); final is JOB-unique (queryId) —
      // speculative attempts never share a temp, successive jobs never
      // share a final name
      private val temp = new Path(dir,
        f".part-$partitionId%05d-$taskId-$queryId.avro.inprogress")
      private val fin = new Path(dir, f"part-$partitionId%05d-$queryId.avro")
      private val avro = new Schema.Parser().parse(schemaJson)
      private val names = schema.fieldNames
      private val types = schema.fields.map(_.dataType)
      private val tracker = new AvroStats.Tracker(schema)
      private var w: DataFileWriter[GenericRecord] = _
      private def writer(): DataFileWriter[GenericRecord] = {
        if (w == null) {  // lazy: an empty partition leaves no file
          val fs = temp.getFileSystem(sconf.value)
          w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avro))
          w.setCodec(CodecFactory.deflateCodec(6))
          w.create(avro, fs.create(temp, true))
        }
        w
      }
      override def write(row: InternalRow): Unit = {
        val rec = new GenericData.Record(avro)
        var i = 0
        while (i < names.length) {
          val v: AnyRef =
            if (row.isNullAt(i)) null
            else types(i) match {
              case StringType    => row.getUTF8String(i).toString
              case TimestampType => java.lang.Long.valueOf(row.getLong(i))
              case LongType      => java.lang.Long.valueOf(row.getLong(i))
              case IntegerType   => java.lang.Integer.valueOf(row.getInt(i))
              case DoubleType    => java.lang.Double.valueOf(row.getDouble(i))
              case FloatType     => java.lang.Float.valueOf(row.getFloat(i))
              case BooleanType   => java.lang.Boolean.valueOf(row.getBoolean(i))
              case BinaryType    => java.nio.ByteBuffer.wrap(row.getBinary(i))
              case other => throw new IllegalArgumentException(
                s"graft-avro cannot write $other")
            }
          rec.put(names(i), v)
          i += 1
        }
        tracker.observe(row)
        writer().append(rec); ()
      }
      override def commit(): WriterCommitMessage =
        if (w == null) AvroCommitMessage("", "")
        else {
          w.close()
          AvroCommitMessage(temp.toString, fin.toString, tracker.lines)
        }
      override def abort(): Unit = {
        if (w != null) scala.util.Try(w.close())
        val fs = temp.getFileSystem(sconf.value)
        fs.delete(temp, false); ()
      }
      override def close(): Unit = ()
    }
}

private[sources] class AvroScanBuilder(full: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Option[(StructType, Array[Array[Any]])] = None
  private var limit: Int = -1

  /** PARTIAL limit pushdown (isPartiallyPushed stays true): each
    * per-file reader stops decoding after `limit` rows — a LIMIT n
    * over a row-major container costs n decoded records per file
    * instead of the whole container — and Spark's own GlobalLimit
    * still trims across partitions, so correctness never depends on
    * the source's cooperation.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep OUR field metadata/nullability; honor the engine's field set
    required = StructType(
      requiredSchema.fieldNames.flatMap(n => full.find(_.name == n)).toSeq)

  // Accept the comparison/null filters we can evaluate EXACTLY against
  // the decoded record (primitive columns only — timestamp filters
  // carry engine-side temporal values and stay with Spark). Returning
  // only the rejected filters tells Catalyst the accepted ones need NO
  // post-scan re-evaluation, so the Filter node disappears — the
  // reader's evaluation is authoritative, and the spec holds it to
  // that (row-major Avro still decodes every record; what pushdown
  // saves is per-field conversion + the row hand-off for dropped rows,
  // plus whole FILES via the stats manifest).
  private def supported(f: Filter): Boolean = {
    def prim(a: String) = full.find(_.name == a).exists(_.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           BooleanType => true
      case _ => false
    })
    f match {
      case EqualTo(a, _)            => prim(a)
      case GreaterThan(a, _)        => prim(a)
      case GreaterThanOrEqual(a, _) => prim(a)
      case LessThan(a, _)           => prim(a)
      case LessThanOrEqual(a, _)    => prim(a)
      case IsNull(a)                => full.exists(_.name == a)
      case IsNotNull(a)             => full.exists(_.name == a)
      case _                        => false
    }
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(supported)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** MIN / MAX / COUNT(*) answered FROM THE STATS MANIFEST — zero data
    * IO: the writers already track exact per-file (lo,hi) intervals
    * (null-ignoring, exactly SQL MIN/MAX semantics) and exact row
    * counts, so a global aggregate over them needs |files| manifest
    * lines, not a scan. Accepted only when NOTHING forces real rows:
    * no pushed filters, no GROUP BY, every listed file covered by the
    * manifest for every needed column (an all-NULL file-column has no
    * interval line and correctly forces the fallback — stats can't
    * distinguish it from untracked data). PARTIAL pushdown
    * (supportCompletePushDown stays false): the scan returns one
    * partial row per file and Spark's final aggregate merges
    * min-of-mins / max-of-maxes / sum-of-counts, so a manifest that
    * goes missing mid-plan degrades to a correct scan, never a wrong
    * answer. One documented edge: the tracker folds -0.0 into +0.0
    * (Spark's NormalizeFloatingNumbers convention), so MIN over
    * all-negative-zero data reports +0.0 — equal under SQL comparison.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return false
    val conf = AvroDataSource.sessionConf()
    val files = scala.util.Try(
      AvroDataSource.listFiles(path, conf)).getOrElse(Nil)
    if (files.isEmpty) return false
    val names = files.map(f => new Path(f).getName)
    val stats = AvroStats.load(path, conf)
    val counts = AvroStats.loadCounts(path, conf)
    def fieldOf(e: V2Expression): Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        full.find(_.name == nr.fieldNames()(0))
      case _ => None
    }
    // per output column: (schema field, one partial value per file) —
    // every file must contribute or the whole pushdown is declined
    def edge(f: StructField, lo: Boolean): Option[(StructField, Seq[Any])] = {
      val vs = names.map(n => stats.get(n).flatMap(_.get(f.name))
        .flatMap(_.range).flatMap { r =>
          (r, f.dataType) match {
            case (AvroStats.LongRange(l, h), LongType) => Some(if (lo) l else h)
            case (AvroStats.LongRange(l, h), IntegerType) =>
              Some(if (lo) l.toInt else h.toInt)
            case (AvroStats.DblRange(l, h), DoubleType) => Some(if (lo) l else h)
            case (AvroStats.DblRange(l, h), FloatType) =>
              Some(if (lo) l.toFloat else h.toFloat)
            case _ => None
          }
        })
      if (vs.forall(_.isDefined))
        Some((StructField(s"${if (lo) "min" else "max"}(${f.name})",
          f.dataType), vs.map(_.get)))
      else None
    }
    val cols = agg.aggregateExpressions().toSeq.map {
      case m: Min => fieldOf(m.column()).flatMap(edge(_, lo = true))
      case m: Max => fieldOf(m.column()).flatMap(edge(_, lo = false))
      case _: CountStar =>
        val cs = names.map(counts.get)
        if (cs.forall(_.isDefined))
          Some((StructField("count(*)", LongType, nullable = false),
            cs.map(_.get)))
        else None
      case _ => None
    }
    if (cols.exists(_.isEmpty)) return false
    val picked = cols.map(_.get)
    aggPushed = Some((StructType(picked.map(_._1)),
      names.indices.map(i => picked.map(_._2(i)).toArray).toArray))
    true
  }

  override def build(): Scan = aggPushed match {
    case Some((schema, rows)) => new AvroAggScan(path, schema, rows)
    case None => new AvroScan(required, path, pushed,
      new SerializableConfiguration(AvroDataSource.sessionConf()), limit)
  }
}

/** The stats-only scan [[AvroScanBuilder.pushAggregation]] plans: one
  * partial-aggregate row per container file, all computed on the driver
  * from the manifest — no file is opened, no task reads a byte of data.
  */
private[sources] class AvroAggScan(path: String, schema: StructType,
    rows: Array[Array[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro $path agg-from-stats " +
      schema.fieldNames.mkString("[", ",", "]")
  override def planInputPartitions(): Array[InputPartition] =
    Array(AvroAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    AvroAggReaderFactory
}

private[sources] case class AvroAggPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sources] object AvroAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[AvroAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

private[sources] object AvroFilterEval {
  private def norm(x: AnyRef): AnyRef = x match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case o                            => o
  }
  // -0.0 folds into +0.0 before compareTo, matching Spark's
  // NormalizeFloatingNumbers semantics (EqualTo(0.0) keeps -0.0 rows);
  // NaN keeps Java ordering (NaN = NaN, NaN > everything) — same as
  // Spark's.
  private def normD(d: Double): Double = if (d == 0.0d) 0.0d else d
  private def normF(f: Float): Float = if (f == 0.0f) 0.0f else f
  private def cmp(a: AnyRef, b: Any): Option[Int] = (norm(a), b) match {
    case (x: java.lang.Long, y: Long)   => Some(x.compareTo(y))
    case (x: java.lang.Integer, y: Int) => Some(x.compareTo(y))
    case (x: java.lang.Double, y: Double) =>
      Some(java.lang.Double.compare(normD(x.doubleValue()), normD(y)))
    case (x: java.lang.Float, y: Float) =>
      Some(java.lang.Float.compare(normF(x.floatValue()), normF(y)))
    case (x: String, y: String) =>
      // Spark's default-collation order is UTF-8 BINARY (codepoint);
      // Java String.compareTo is UTF-16 code-unit order — they diverge
      // for supplementary vs high-BMP characters, so route through
      // UTF8String like the engine does.
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case (x: java.lang.Boolean, y: Boolean) => Some(x.compareTo(y))
    case _                                  => None
  }
  /** SQL semantics: a comparison against NULL (or an unexpected type
    * pairing) is not-true → the row is dropped by that predicate.
    */
  def eval(f: Filter, rec: GenericRecord): Boolean = f match {
    case IsNull(a)    => rec.get(a) == null
    case IsNotNull(a) => rec.get(a) != null
    case EqualTo(a, v) =>
      rec.get(a) != null && cmp(rec.get(a), v).contains(0)
    case GreaterThan(a, v) =>
      rec.get(a) != null && cmp(rec.get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) =>
      rec.get(a) != null && cmp(rec.get(a), v).exists(_ >= 0)
    case LessThan(a, v) =>
      rec.get(a) != null && cmp(rec.get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) =>
      rec.get(a) != null && cmp(rec.get(a), v).exists(_ <= 0)
    case _ => true
  }
}

private[sources] class AvroScan(readSchema: StructType, path: String,
    filters: Array[Filter], sconf: SerializableConfiguration,
    limit: Int = -1)
    extends Scan with Batch with SupportsRuntimeFiltering {
  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro $path ${readSchema.fieldNames.mkString("[", ",", "]")}" +
      (if (filters.isEmpty) ""
       else filters.mkString(" PushedFilters: [", ", ", "]")) +
      (if (limit < 0) "" else s" PushedLimit: $limit")

  // ---- runtime (join-derived) filtering --------------------------------
  // The DSv2 face of dynamic partition pruning: when this scan probes a
  // join whose other side carries a selective predicate, Catalyst plants
  // a DynamicPruning subquery, evaluates the build side FIRST, and hands
  // the observed join-key values here as an In filter BEFORE input
  // partitions are planned (BatchScanExec.filteredPartitions) — so whole
  // container files whose stats refute every probed key are never
  // opened, based on information that only EXISTS at runtime. Static
  // pushdown cannot do this; at 100 TB it is the difference between
  // scanning the fact table and scanning the matching slice. Declaring
  // only stats-tracked columns keeps Catalyst from planting subqueries
  // the planner can't cash.
  @volatile private var runtime: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    readSchema.fields.collect {
      case f if AvroStats.trackable(f.dataType) =>
        Expressions.column(f.name)
    }
  override def filter(rf: Array[Filter]): Unit = { runtime = rf }

  /** One partition per file that COULD satisfy the pushed + runtime
    * filters: files whose manifest stats (interval or bloom) refute a
    * range/equality/In predicate are skipped without being opened.
    * Files with no manifest entry are kept — skipping is an
    * optimization, never a correctness dependency. Runtime filters
    * prune PLANNING only (the join itself re-checks every row), so
    * they are not handed to the row-level reader.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val all = AvroDataSource.listFiles(path, sconf.value)
    val stats = AvroStats.load(path, sconf.value)
    all.filter { f =>
      val name = new Path(f).getName
      stats.get(name) match {
        case Some(cols) =>
          (filters.iterator ++ runtime.iterator)
            .forall(AvroStats.mayMatch(_, cols))
        case None => true
      }
    }.map(AvroFilePartition(_): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroPartitionReaderFactory(readSchema, filters, sconf, limit)

  /** The streaming face (see [[AvroMicroBatchStream]]): same pruned
    * schema, same pushed filters, same per-file readers — the stream
    * differs only in WHICH files a batch covers.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AvroMicroBatchStream(path, readSchema, filters, sconf,
      checkpointLocation)
}

private[sources] case class AvroFilePartition(file: String)
    extends InputPartition

private[sources] class AvroPartitionReaderFactory(readSchema: StructType,
    filters: Array[Filter], sconf: SerializableConfiguration,
    limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[AvroFilePartition].file
    new PartitionReader[InternalRow] {
      private val p = new Path(file)
      private val in = p.getFileSystem(sconf.value).open(p)
      private val rdr =
        try new DataFileStream(in, new GenericDatumReader[GenericRecord]())
        catch { case t: Throwable => in.close(); throw t }
      private val names = readSchema.fieldNames
      private val types = readSchema.fields.map(_.dataType)
      private var row: InternalRow = _
      private var closed = false
      private var emitted = 0
      override def next(): Boolean = {
        // pushed LIMIT: stop decoding once this partition has emitted
        // enough rows to satisfy the global limit on its own
        if (limit >= 0 && emitted >= limit) return false
        // evaluate pushed filters on the RAW record, before any
        // conversion: dropped rows never materialize
        while (!closed && rdr.hasNext) {
          val rec = rdr.next()
          if (filters.forall(AvroFilterEval.eval(_, rec))) {
            row = convert(rec); emitted += 1; return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit =
        if (!closed) { closed = true; rdr.close() }
      private def convert(rec: GenericRecord): InternalRow = {
        val vals = new Array[Any](names.length)
        var i = 0
        while (i < names.length) {
          // by-name resolution; only REQUIRED fields convert — pruning
          // skips the per-field work a row-major container can't skip
          // at the IO level
          val v = rec.get(names(i))
          vals(i) =
            if (v == null) null
            else types(i) match {
              case StringType => UTF8String.fromString(v.toString)
              case TimestampType => v.asInstanceOf[java.lang.Long].longValue()
              case BinaryType =>
                val b = v.asInstanceOf[java.nio.ByteBuffer]
                val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
              case _ => v
            }
          i += 1
        }
        new GenericInternalRow(vals)
      }
    }
  }
}
