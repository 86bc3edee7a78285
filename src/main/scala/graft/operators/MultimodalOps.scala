package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column handling: media payloads ride as opaque `BINARY`
  * columns with a typed metadata struct. Every SQL-expressible
  * derivation (sizes, hashes, frame offsets) is oracle-checked from
  * `LlmEntry`.
  *
  * Scale notes: payload bytes never shuffle — metadata extraction is a
  * narrow map; frame sampling explodes only (offset, length) index
  * structs, not the bytes themselves, until the final slice.
  */
object MultimodalOps {
  val FrameSize = 64 // bytes per sampled "frame" of a payload

  /** Synthesize the media table from `documents`: payload = UTF-8 bytes of
    * the text, metadata derived deterministically from doc fields. This is
    * the schema a real ingest would produce (binary + struct), minus the
    * codec.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        col("source").as("format"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 25L).as("duration_ms")).as("meta"))

  /** Resize STUB — deterministic byte downsample (every factor-th byte),
    * standing in for an image resize. HOF-only, so it runs inside the
    * scan projection.
    */
  def resizeSpark(text: String, factor: Int): String =
    s"array_join(transform(sequence(0, CAST(floor((length($text) - 1) / $factor) AS INT)), " +
      s"i -> substr($text, i * $factor + 1, 1)), '')"
  def resizeDuck(text: String, factor: Int): String =
    s"array_to_string(list_transform(range(0, CAST(floor((length($text) - 1) / $factor) AS INT) + 1), " +
      s"i -> substr($text, i * $factor + 1, 1)), '')"

  /** Frame sampling: every payload is cut into ceil(n/FrameSize) frames;
    * emitted as an array of (frame_id, off, len) structs that is exploded
    * downstream. Bytes are sliced only after the explode, per frame.
    */
  def frameIndexSpark(payloadLen: String): String = {
    // An empty payload must yield ZERO frames. sequence(0, n-1) with
    // n = 0 infers step -1 and returns [0, -1] (two phantom frames,
    // diverging from DuckDB's empty range(0, 0)) — so build one slot
    // too many from a never-negative bound and slice to the true count.
    val n = s"CAST(ceil($payloadLen / ${FrameSize}.0) AS INT)"
    s"slice(transform(sequence(0, greatest($n - 1, 0)), " +
      s"f -> named_struct('frame_id', CAST(f AS BIGINT), " +
      s"'off', CAST(f * $FrameSize + 1 AS BIGINT), " +
      s"'len', CAST(least($FrameSize, $payloadLen - f * $FrameSize) AS BIGINT))), " +
      s"1, $n)"
  }
  def frameIndexDuck(payloadLen: String): String =
    s"list_transform(range(0, CAST(ceil($payloadLen / ${FrameSize}.0) AS INT)), " +
      s"f -> {frame_id: CAST(f AS BIGINT), " +
      s"off: CAST(f * $FrameSize + 1 AS BIGINT), " +
      s"len: CAST(least($FrameSize, $payloadLen - f * $FrameSize) AS BIGINT)})"
}
