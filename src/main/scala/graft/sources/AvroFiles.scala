package graft.sources

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro container-file source/sink (T11's remaining common interchange
  * format) built directly on the Avro CORE library — the `spark-avro`
  * module is an external dependency this deployment doesn't carry, and
  * the container format itself needs only `org.apache.avro` (present as
  * a Spark transitive). Same discipline as the other formats in
  * `SourceFormatsSpec`: EXPLICIT schema both ways, never inference.
  *
  * Timestamp handling: Spark `TimestampType` maps to Avro
  * `long` + `timestamp-micros` LOGICAL TYPE — declared in the file
  * schema (interoperable with any Avro reader), converted at the
  * engine boundary by Spark expressions (`unix_micros` on write,
  * `timestamp_micros` on read) so no JVM Date object ever rides the
  * rows and micro precision survives bit-exact.
  *
  * Scale shape: write is one container file per partition through the
  * Hadoop FileSystem API (cluster-correct: HDFS/S3A resolve by
  * scheme); read is `binaryFiles` + a streaming decoder per file —
  * `mapPartitions` at the codec boundary; no shuffle either way. Files are deflate-compressed (JDK codec — no
  * native lib dependency). Values map by FIELD NAME, not position, so
  * a reader schema may project/reorder a writer schema's fields.
  */
object AvroFiles {

  private def avroType(dt: DataType): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(
        Schema.create(Schema.Type.LONG))
    case other => throw new IllegalArgumentException(
      s"AvroFiles does not map Spark type $other")
  }

  /** Avro record schema for a Spark struct (nullable → union[null, T]). */
  def avroSchema(st: StructType, name: String = "graft_record"): Schema = {
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val base = avroType(f.dataType)
      val t =
        if (f.nullable)
          Schema.createUnion(java.util.Arrays.asList(
            Schema.create(Schema.Type.NULL), base))
        else base
      fields.add(new Schema.Field(f.name, t, null, null.asInstanceOf[AnyRef]))
    }
    Schema.createRecord(name, null, "graft", false, fields)
  }

  /** Write `df` as one Avro container file per partition under `dir`.
    *
    * Task-commit protocol: each task streams into an ATTEMPT-unique
    * `.part-<idx>-<attempt>.avro.inprogress` temp and renames it to the
    * final `part-<idx>.avro` only after a clean close — a speculative
    * or retried attempt never interleaves writes with the original
    * (each owns its temp), and the final name only ever receives a
    * complete container (rename is atomic per file; duplicate attempts
    * of the same partition carry identical rows, so last-rename-wins is
    * content-equal). Production multi-job writes should prefer the
    * DSv2 `graft-avro` path, whose DRIVER-side job commit additionally
    * makes the whole table flip at once and names files job-uniquely.
    */
  def write(df: DataFrame, dir: String): Unit = {
    val tsCols = df.schema.fields.collect {
      case f if f.dataType == TimestampType => f.name
    }
    // timestamps to micros IN-PLAN; the avro schema (from the ORIGINAL
    // struct) still declares the logical type over the long
    val flat = tsCols.foldLeft(df)((d, c) =>
      d.withColumn(c, unix_micros(col(c))))
    val schemaJson = avroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    flat.rdd.mapPartitionsWithIndex { (idx, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val schema = new Schema.Parser().parse(schemaJson)
        val temp = new Path(dir, f".part-$idx%05d-$attempt.avro.inprogress")
        val fin = new Path(dir, f"part-$idx%05d.avro")
        val fs = temp.getFileSystem(sconf.value)
        val out = fs.create(temp, true)
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        w.setCodec(CodecFactory.deflateCodec(6))
        w.create(schema, out)
        var n = 0L
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < names.length) {
            val v =
              if (row.isNullAt(i)) null
              else row.get(i) match {
                case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
                case x              => x.asInstanceOf[AnyRef]
              }
            rec.put(names(i), v)
            i += 1
          }
          w.append(rec)
          n += 1
        }
        w.close()
        fs.delete(fin, false)
        require(fs.rename(temp, fin), s"AvroFiles.write: rename $temp failed")
        Iterator.single(n)
      }
    }.count(): Unit
  }

  /** Read Avro container files under `dir` with an EXPLICIT Spark
    * schema; fields resolve by name against each file's writer schema.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    // a dir with no containers (e.g. an all-empty-partition write —
    // lazy writers leave no files) is an EMPTY table, not an error;
    // binaryFiles would throw on the zero-match glob
    if (scala.util.Try(AvroDataSource.listFiles(dir)).getOrElse(Nil).isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val interm = StructType(schema.fields.map(f =>
      if (f.dataType == TimestampType) f.copy(dataType = LongType) else f))
    val names = schema.fieldNames
    val rows = spark.sparkContext.binaryFiles(dir + "/part-*.avro")
      .flatMap { case (_, pds) =>
        val in = pds.open()
        val rdr =
          try new DataFileStream(in, new GenericDatumReader[GenericRecord]())
          catch { case t: Throwable => in.close(); throw t }
        // a partially consumed scan (limit/take) never drains the
        // iterator — the task-completion listener closes the handle
        // regardless, and the closed flag keeps hasNext from touching
        // a closed stream
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; rdr.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        new Iterator[Row] {
          def hasNext: Boolean = !closed && {
            val h = rdr.hasNext
            if (!h) closeOnce()
            h
          }
          def next(): Row = {
            val rec = rdr.next()
            Row.fromSeq(names.toIndexedSeq.map { n =>
              rec.get(n) match {
                case null                               => null
                case u: org.apache.avro.util.Utf8       => u.toString
                case b: java.nio.ByteBuffer =>
                  val a = new Array[Byte](b.remaining()); b.get(a); a
                case x                                  => x
              }
            })
          }
        }
      }
    val flat = spark.createDataFrame(rows, interm)
    schema.fields.collect { case f if f.dataType == TimestampType => f.name }
      .foldLeft(flat)((d, c) => d.withColumn(c, timestamp_micros(col(c))))
      .select(names.map(col).toIndexedSeq: _*)
  }
}
