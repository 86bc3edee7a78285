package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming offset: the index of the last PLANNED micro-batch. The
  * offset itself stays O(1) — which files each batch covers lives in
  * the source's own checkpoint-local log (see
  * [[AvroMicroBatchStream]]), exactly how Spark's file stream source
  * keeps its offsets compact while the seen-file state grows.
  */
private[sources] case class AvroSourceOffset(batch: Long) extends Offset {
  override def json(): String = batch.toString
}

/** `readStream.format("graft-avro")` — a DIRECTORY-TAILING micro-batch
  * source over the same container files the batch side reads, making
  * the connector a full streaming citizen (T78's appendBatch is the
  * exactly-once SINK; this is the SOURCE half).
  *
  * Construction (a faithful miniature of Spark's FileStreamSource):
  *  - `latestOffset` lists the directory, diffs against the seen set,
  *    and — when new containers appeared — ASSIGNS them to the next
  *    batch index by writing a `batch-<n>` log entry (one relative
  *    file per line, dot-temp + rename so a crash mid-write never
  *    leaves a torn entry) under the query's own checkpoint location.
  *  - `planInputPartitions(start, end)` resolves batches (start, end]
  *    FROM THE LOG, never from the live directory — so a post-failure
  *    REPLAY of a batch gets exactly the files originally assigned to
  *    it even if the directory has gained files since: deterministic
  *    replay is what turns the engine's at-least-once redelivery into
  *    end-to-end exactly-once against an idempotent sink.
  *  - On restart the constructor rebuilds (seen, current index) from
  *    the log entries, so already-assigned files are never re-admitted
  *    and uncommitted batches replay verbatim.
  *
  * Scale: each log entry is |new files| lines and the offset is one
  * integer — checkpoint state stays manifest-sized regardless of data
  * volume; per-batch work is one directory listing (the same cost the
  * built-in file source pays). Pushed filters ride into the readers
  * unchanged (authoritative row-level eval), and whole NEW containers
  * are skipped at assignment when the stats sidecar refutes them —
  * the batch side's interval+bloom pruning applied to the stream.
  */
private[sources] class AvroMicroBatchStream(path: String,
    readSchema: StructType, filters: Array[Filter],
    sconf: SerializableConfiguration, checkpointLocation: String)
    extends MicroBatchStream {

  private val logDir = new Path(checkpointLocation, "graft-avro-filelog")
  private def fs = logDir.getFileSystem(sconf.value)

  // (seen files, highest assigned batch) — rebuilt from the log so a
  // restarted query continues instead of re-reading history
  private val seen = scala.collection.mutable.Set[String]()
  private var cur = 0L
  locally {
    val f = fs
    if (f.exists(logDir)) {
      f.listStatus(logDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("batch-"))
        .flatMap(s => scala.util.Try(
          (s.getPath.getName.stripPrefix("batch-").toLong, s.getPath)).toOption)
        .sortBy(_._1)
        .foreach { case (b, p) =>
          seen ++= readLog(p)
          cur = math.max(cur, b)
        }
    }
  }

  private def readLog(p: Path): Seq[String] =
    Bytes.readUtf8(fs, p).split('\n').toSeq.filter(_.nonEmpty)

  private def writeLog(batch: Long, files: Seq[String]): Unit = {
    val f = fs
    f.mkdirs(logDir)
    val tmp = new Path(logDir,
      s".batch-$batch.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(files.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fin = new Path(logDir, s"batch-$batch")
    require(f.rename(tmp, fin),
      s"graft-avro stream: log rename failed for batch $batch")
  }

  override def initialOffset(): Offset = AvroSourceOffset(0L)
  override def deserializeOffset(json: String): Offset =
    AvroSourceOffset(json.toLong)

  override def latestOffset(): Offset = {
    val all = scala.util.Try(
      AvroDataSource.listFiles(path, sconf.value)).getOrElse(Nil)
    val fresh = all.filterNot(seen)
    if (fresh.nonEmpty) {
      cur += 1
      writeLog(cur, fresh)
      seen ++= fresh
    }
    AvroSourceOffset(cur)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[AvroSourceOffset].batch
    val e = end.asInstanceOf[AvroSourceOffset].batch
    val stats = AvroStats.load(path, sconf.value)
    ((s + 1) to e).flatMap { b =>
      readLog(new Path(logDir, s"batch-$b"))
    }.filter { f =>
      // the batch side's file skipping, applied per assigned container
      stats.get(new Path(f).getName) match {
        case Some(cols) => filters.forall(AvroStats.mayMatch(_, cols))
        case None       => true
      }
    }.map(AvroFilePartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroPartitionReaderFactory(readSchema, filters, sconf)

  /** Batches ≤ the committed offset could have their log entries
    * pruned; kept for debuggability — the log is |files| lines total,
    * manifest-sized by construction.
    */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
