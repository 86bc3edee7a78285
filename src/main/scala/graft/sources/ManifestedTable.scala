package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, when}
import org.apache.spark.sql.types.StructType

/** Thrown when a commit's optimistic-concurrency validation cannot
  * serialize it against commits that landed after its base snapshot:
  * publishing anyway would silently revert the interleaved changes
  * (the lost-update anomaly). The losing operation must be re-run
  * against the new snapshot — its COMPUTATION, not just its manifest,
  * is stale.
  */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

/** Manifest-swap publication over plain parquet — an atomic
  * MULTI-partition commit. A per-partition directory overwrite is
  * idempotent per partition, but a reader racing a half-done job can
  * see mixed old/new partitions. Here readers never resolve the file
  * list from the directory at all — they resolve it through ONE
  * manifest, and the manifest changes by a single atomic rename, so a
  * multi-file write/compaction flips all-or-nothing (the lakehouse
  * table-format construction — Iceberg/Delta's snapshot pointer —
  * minus the format dependency).
  *
  * Layout under the table root:
  *  - `data-<uuid>/part-*.parquet` — immutable staged data dirs; every
  *    job writes a FRESH dir (Spark's own task-commit protocol handles
  *    task retries inside it), so concurrent readers of the previous
  *    snapshot never observe files changing underneath them.
  *  - `_manifests/manifest-<v>` — the snapshot at version v. Written
  *    as a dot-temp then RENAMED into place: readers see a complete
  *    manifest or none. The CURRENT snapshot is the highest v — no
  *    mutable pointer file exists, so nothing is ever updated in
  *    place. A manifest is either FULL (one entry line per file —
  *    what Replace-shaped commits write, a natural chain reset) or a
  *    DELTA against version v−1 (marked `#base=<v-1>`; lines are
  *    `+<entry>` for added files and `-<path>` for removed ones), so
  *    an append or keyed DML writes O(commit) metadata bytes, never
  *    O(table) — the term that would otherwise make epoch-rate
  *    streaming commits scale with table size. Snapshot metadata
  *    (`#key=value`) is carried IN FULL in every manifest, delta or
  *    not, so meta reads never chase the chain.
  *  - `_manifests/checkpoint-<v>` — a DERIVED sidecar holding version
  *    v's fully resolved entry lines, written best-effort every
  *    checkpoint-interval-th delta commit (and by [[vacuum]] for the
  *    oldest retained version before older manifests drop). Resolution
  *    walks back from v to the nearest full manifest or checkpoint and
  *    folds the deltas forward — one full read plus a bounded tail.
  *    Being derivable, a crash between the manifest rename and the
  *    checkpoint write costs nothing.
  *
  * Commit protocol: stage files → write manifest-(maxV+1) by rename.
  * A job that dies mid-stage leaves orphan data files and NO new
  * manifest — the old snapshot stays live and readable (the abort leg
  * CompactionSpec pins). Orphans and superseded snapshots' files are
  * reclaimed by [[vacuum]], the explicitly separate maintenance pass —
  * deletion is decoupled from publication precisely so in-flight
  * readers of older snapshots finish safely.
  *
  * Concurrency: HDFS rename-without-overwrite makes manifest creation
  * a compare-and-swap — of two racing committers one loses the rename
  * and retries at the next version. Local-filesystem rename overwrites
  * (POSIX), so multi-writer safety needs HDFS/object-store semantics;
  * single-writer is assumed on local FS (test scale).
  *
  * The CAS alone only makes each VERSION unique — it does not make the
  * loser's retry SOUND, because the operation was computed against a
  * snapshot that is no longer current (a merge planned at v10 blindly
  * republished as v12 would revert v11's rows: the lost update). So
  * every commit goes through [[publish]], which carries the commit's
  * logical intent and re-validates it per attempt (the Delta commit-
  * protocol conflict check): appends rebase onto whatever is current
  * (they read nothing, so they serialize after anything); blind
  * overwrites replace whatever is current by definition; snapshot-
  * reading rewrites (DML, compaction) prove DISJOINTNESS against every
  * interleaved commit — none of the files they rewrote was concurrently
  * removed, and no interleaved commit ADDED rows inside their read
  * scope — and then rebase their untouched-file references, or throw
  * [[ConcurrentWriteException]] loudly. The serial order of a rebased
  * rewrite is "rewrite first, interleaved commits after", which the
  * disjointness proof makes row-for-row equal to any other order.
  *
  * Scale: the manifest is |files| lines on the driver — manifest-sized
  * by definition (the q131 argument); data never routes through it.
  */
object ManifestedTable {

  private val ManifestDir = "_manifests"
  private val ManifestPrefix = "manifest-"
  private val CheckpointPrefix = "checkpoint-"

  /** Every `interval`-th delta commit materializes a `checkpoint-<v>`
    * sidecar (Delta's log-checkpoint construction), bounding every
    * snapshot resolution to one full read + at most `interval` small
    * delta reads. Overridable per table via the
    * `graft.checkpoint-interval` property.
    */
  private val DefaultCheckpointInterval = 8L

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** (version, path) of every committed manifest, ascending. */
  private def manifestVersions(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    versionsIn(manifestListing(fs, root))

  /** Every file status under `_manifests` (manifests and checkpoints). */
  private def manifestListing(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val mdir = new Path(root, ManifestDir)
    if (!fs.exists(mdir)) Nil else fs.listStatus(mdir).toSeq
  }

  /** [[manifestVersions]] of a listing already in hand. */
  private def versionsIn(listing: Seq[FileStatus]): Seq[(Long, Path)] =
    listing
      .filter(s => s.isFile && s.getPath.getName.startsWith(ManifestPrefix))
      .flatMap { s =>
        scala.util.Try(
          s.getPath.getName.stripPrefix(ManifestPrefix).toLong).toOption
          .map(_ -> s.getPath)
      }.sortBy(_._1)

  private def readManifestRaw(fs: FileSystem, p: Path): Seq[String] =
    Bytes.readUtf8(fs, p).split('\n').toSeq.filter(_.nonEmpty)

  // `#`-prefixed manifest lines are snapshot METADATA (the streaming
  // txn marker below), never file entries — every file-list consumer
  // (read, CDF, vacuum) sees only data lines. A data line is the
  // file's relative path followed by OPTIONAL tab-separated stat
  // tokens (see [[FileStats]]); path consumers read the head token.
  private def readDataLines(fs: FileSystem, p: Path): Seq[String] =
    readManifestRaw(fs, p).filterNot(_.startsWith("#"))

  private def pathOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Current snapshot's relative file paths (empty table ⇒ empty list;
    * NO manifest at all ⇒ error — an unpublished dir is not a table).
    */
  def currentFiles(spark: SparkSession, dir: String): Seq[String] =
    currentSnapshot(fsOf(spark, dir), new Path(dir))._2.map(pathOf)

  /** Version of the current MAIN snapshot — unpromoted branch commits
    * are invisible here, exactly as to [[read]].
    */
  def currentVersion(spark: SparkSession, dir: String): Long =
    headVersion(fsOf(spark, dir), new Path(dir), None)
      .map(_._1).getOrElse(0L)

  /** All retained snapshot versions, ascending. [[vacuum]] collapses
    * history to the latest — time travel and [[changesBetween]] operate
    * on what retention kept, and fail loudly past it.
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    manifestVersions(fsOf(spark, dir), new Path(dir)).map(_._1)

  private def linesAt(fs: FileSystem, root: Path, version: Long): Seq[String] = {
    if (version == 0L) return Nil // the empty pre-creation snapshot
    val vs = manifestVersions(fs, root)
    if (!vs.exists(_._1 == version)) throw
      new IllegalArgumentException(s"version $version not retained under " +
        s"$root (have ${vs.map(_._1).mkString(",")})")
    resolveDataLines(fs, root, vs.toMap, version)
  }

  private def filesAt(fs: FileSystem, root: Path, version: Long): Seq[String] =
    linesAt(fs, root, version).map(pathOf)

  /** Time travel: read the snapshot at an explicit retained version —
    * the immutable-data-dir + per-version manifest layout makes this
    * free (old snapshots' files are untouched until [[vacuum]], and a
    * version's deletion vectors apply with it).
    */
  def readAt(spark: SparkSession, dir: String, version: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val lines = linesAt(fs, root, version)
    require(lines.nonEmpty, s"snapshot $version of $dir is empty — " +
      "schemaless empty reads are not supported")
    // a version's OWN pending eq-deletes apply with it (the masks are
    // part of the snapshot's logical content, like its DVs)
    val eqs = eqDeletesAt(spark.sessionState.newHadoopConf(), dir,
      Some(version))
    if (eqs.isEmpty)
      readLive(spark, root, lines.map(parseEntry), mergeSchema,
        schemaCtx = schemaCtxAt(fs, root, Some(version)))
    else applyEqDeletes(spark, dir,
      readLive(spark, root, lines.map(parseEntry), mergeSchema,
        withMeta = true, schemaCtx = schemaCtxAt(fs, root, Some(version))),
      eqs).drop("__file", "__pos")
  }

  /** Manifest-level diff between two retained snapshots:
    * (files only in `toV`, files only in `fromV`), relative paths.
    * Computed from two |files|-line manifests on the driver — no data
    * IO at all.
    */
  def changedFiles(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): (Seq[String], Seq[String]) = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    val from = filesAt(fs, root, fromV).toSet
    val to = filesAt(fs, root, toV).toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** Row-level change-data-feed between two retained snapshots:
    * (added rows, removed rows), BAG semantics. A row mutated between
    * the versions appears once on each side (its old and new images) —
    * MERGE-style consumers apply removes then adds.
    *
    * The scale property is what makes this a table-format feature and
    * not a reconciliation query (q164 diffs two tables it must READ in
    * full): data dirs are immutable, so a file present in both
    * manifests contributes identical rows to both sides, and identical
    * rows CANCEL in a multiset difference — with new = common ⊎ A and
    * old = common ⊎ R, new∖old = A∖R and old∖new = R∖A. The diff over
    * only the manifest-symmetric-difference files therefore equals the
    * diff over the full snapshots, and the unchanged mass (at 100 TB,
    * nearly all of an append- or upsert-shaped table) is never opened:
    * an append's CDF reads exactly the appended files (CompactionSpec
    * pins this via inputFiles), while a full rewrite (compaction)
    * degrades to reading both sides and returns the empty diff.
    *
    * Deletion vectors compose: an entry's identity is (path, dv), so a
    * merge-on-read DELETE — same file, new sidecar — puts the file's
    * old image on the removed side and its new image on the added
    * side, and the surviving rows CANCEL, leaving exactly the deleted
    * rows as removes. The data file is still opened only when its
    * logical content changed.
    */
  def changesBetween(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): (DataFrame, DataFrame) = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val fromE = linesAt(fs, root, fromV).map(parseEntry)
    val toE = linesAt(fs, root, toV).map(parseEntry)
    // both sides resolve through the NEWER version's schema context:
    // epochs are append-only, so the newer history covers the older
    // side's files, unified images cancel across a rename, and a
    // RENAME-ONLY commit diffs empty (no data changed). max(from, to)
    // — not toV — because the API permits a reversed window (diffing
    // backwards), and fromV > toV would otherwise clamp from-side
    // `se:` epochs past toV's list and mis-translate across a rename.
    val ctx = schemaCtxAt(fs, root, Some(math.max(fromV, toV)))
    def k(e: (String, FileStats)) = (e._1, e._2.dv)
    val fromK = fromE.map(k).toSet
    val toK = toE.map(k).toSet
    val addedE = toE.filterNot(e => fromK(k(e)))
    val removedE = fromE.filterNot(e => toK(k(e)))
    def rd(es: Seq[(String, FileStats)]): Option[DataFrame] =
      if (es.isEmpty) None
      else Some(readLive(spark, root, es, mergeSchema = true,
        schemaCtx = ctx))
    (rd(addedE), rd(removedE)) match {
      case (None, None) =>
        // identical manifests — an empty diff with the table's schema
        val empty = read(spark, dir, mergeSchema = true).limit(0)
        (empty, empty)
      case (Some(a), None) => (a, a.limit(0))
      case (None, Some(r)) => (r.limit(0), r)
      case (Some(a0), Some(r0)) =>
        // align both sides by NAME to the superset schema (absent
        // columns NULL) so a CDF window straddling a schema-widening
        // append still diffs: a row unchanged across the seam cancels
        // in its unified image, and pre-seam rows surface the new
        // column as NULL — parquet by-name resolution + the same
        // missing→NULL convention as unionByName(allowMissing)
        val a = r0.schema.filterNot(f => a0.columns.contains(f.name))
          .foldLeft(a0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val rAll = a0.schema.filterNot(f => r0.columns.contains(f.name))
          .foldLeft(r0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val r = rAll.select(a.columns.map(col).toIndexedSeq: _*)
        (a.exceptAll(r), r.exceptAll(a))
    }
  }

  /** PER-COMMIT change data feed with change-type columns — the
    * `table_changes` face Delta/Iceberg consumers script against,
    * resolved commit-by-commit over the window instead of collapsed:
    * every data column plus `_change_type`
    * (insert / delete / update_preimage / update_postimage),
    * `_commit_version`, and `_commit_timestamp` (the `#ts=` commit
    * clock), one batch read replaying `(fromV, toV]` in order.
    *
    * Each MAIN commit diffs against its TRUE lineage parent with the
    * same manifest-symmetric-difference trick as [[changesBetween]] —
    * unchanged files never open, identical rows of rewritten files
    * cancel — so a commit contributes exactly its own row-level delta;
    * branch staging commits are invisible (their rows surface at the
    * promote commit, which is main lineage). Version 0 is the empty
    * pre-creation snapshot, so `fromV = 0` replays the whole retained
    * history.
    *
    * `idCols` (the Iceberg `create_changelog_view` identifier-columns
    * construction) upgrades delete+insert pairs WITHIN one commit that
    * share an identifier tuple into update_preimage/update_postimage;
    * without it every change reads as insert or delete. A window
    * crossing vacuum's retention horizon fails loudly (the parent
    * manifest is gone), never silently skips.
    */
  def tableChanges(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, idCols: Seq[String] = Nil): DataFrame = {
    require(fromV <= toV, s"tableChanges window is reversed: $fromV > $toV")
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    import org.apache.spark.sql.functions.timestamp_millis
    def stamp(df: DataFrame, tpe: String, v: Long, ts: Long): DataFrame = df
      .withColumn("_change_type", lit(tpe))
      .withColumn("_commit_version", lit(v))
      .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
    val parts = vs.filter { case (v, _) => v > fromV && v <= toV }
      .flatMap { case (v, p) =>
        val m = readMeta(fs, p)
        if (m.contains(BranchKey)) None
        else {
          if (m.get(OpKey).contains("eq-upsert"))
            throw new IllegalStateException(
              s"tableChanges of $dir: version $v is an equality-delete " +
                "commit, whose row masks the entry-level diff cannot " +
                "express — CALL compact to absorb eq-deletes first")
          val parent = m.get(BaseKey).map(_.toLong).getOrElse(v - 1)
          val (a0, r0) = changesBetween(spark, dir, parent, v)
          val ts = commitMs(fs, p)
          val both =
            if (idCols.isEmpty)
              stamp(a0, "insert", v, ts)
                .unionByName(stamp(r0, "delete", v, ts))
            else {
              // delete+insert pairing through ONE window over the
              // unioned diff instead of the 4-way semi/anti join split
              // (which re-evaluated each side's exceptAll subtree per
              // consumer — r21 profiled q197 spending 2× its wall in
              // duplicated diff jobs): each side flags whether its
              // identifier tuple also appears on the OTHER side of the
              // same commit, which is exactly the semi-join predicate.
              // NULL-id rows stay insert/delete unconditionally — SQL
              // equality never matches NULLs, but a window partition
              // WOULD group them, so the guard pins join semantics.
              import org.apache.spark.sql.expressions.Window
              val side = "_cdf_side"
              val u = a0.withColumn(side, lit(1))
                .unionByName(r0.withColumn(side, lit(-1)))
              val w = Window.partitionBy(idCols.map(col): _*)
              val idsNonNull = idCols.map(col(_).isNotNull)
                .reduce(_ && _)
              val hasIns = max(when(col(side) === 1, 1).otherwise(0))
                .over(w)
              val hasDel = max(when(col(side) === -1, 1).otherwise(0))
                .over(w)
              val tped = u.withColumn("_change_type",
                  when(col(side) === 1,
                    when(idsNonNull && hasDel === 1,
                      "update_postimage").otherwise("insert"))
                  .otherwise(
                    when(idsNonNull && hasIns === 1,
                      "update_preimage").otherwise("delete")))
                .drop(side)
              tped.withColumn("_commit_version", lit(v))
                .withColumn("_commit_timestamp",
                  timestamp_millis(lit(ts)))
            }
          Some(both)
        }
      }
    if (parts.isEmpty)
      stamp(read(spark, dir, mergeSchema = true).limit(0), "insert", 0L, 0L)
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---- per-file column stats, embedded in the manifest -----------------
  //
  // Each committed file's manifest line carries (lo,hi) intervals and a
  // row count read from its parquet FOOTER at stage time — zero data
  // IO, |staged| footer reads, and the stats ride the same atomic
  // rename as the file list. Because data files are immutable, a kept
  // file's line (stats included) carries into the next manifest
  // byte-identical — stats are computed exactly once per file, ever.
  // This is the Delta/Iceberg per-file-stats construction, and the
  // same exact-encoding discipline as the graft-avro sidecar
  // (AvroStats): integers as decimal text, floating point as raw IEEE
  // bits, strings as base64 UTF-8 — reload never rounds.
  //
  // Token grammar after the path, tab-separated:
  //   `n:<rows>`                          row count
  //   `<col>=i:<lo>:<hi>`                 integral interval (INT32/64)
  //   `<col>=f:<rawLo>:<rawHi>`           float interval (IEEE bits)
  //   `<col>=s:<b64lo>:<b64hi>`           string interval (UTF-8 bytes)
  //   `se:<epoch>`                        schema epoch at stage time
  //                                       (see the field-id section)
  //
  // Stats are an OPTIMIZATION, never a correctness dependency: a file
  // with no token for a column (all-NULL chunk, NaN-poisoned float
  // stats, >64-byte string bounds, exotic type) is simply always a
  // candidate, and every pruning consumer re-verifies row-level.

  /** Decoded stats of one manifest entry. String bounds are UTF-8 byte
    * arrays compared UNSIGNED lexicographic — the ordering parquet's
    * UTF8 comparator and Spark's UTF8String share (String.compareTo's
    * UTF-16 order disagrees past the BMP, so bytes are the contract).
    *
    * `rows` counts PHYSICAL rows (footer metadata — never recomputed);
    * `dv` is the file's deletion-vector sidecar, if any: the relative
    * path of a tiny parquet of (file, pos) pairs whose positions are
    * row indexes DELETED from this file (merge-on-read — see
    * [[deleteWhere]]). Intervals stay sound under a DV (deletion only
    * narrows the true range), and `rows` overstates live rows, which
    * every consumer treats conservatively.
    */
  final case class FileStats(rows: Option[Long],
      longs: Map[String, (Long, Long)],
      dbls: Map[String, (Double, Double)],
      strs: Map[String, (Array[Byte], Array[Byte])],
      dv: Option[String] = None,
      bytes: Option[Long] = None,
      epoch: Option[Int] = None,
      // hidden partitioning: the spec index (`ps:`) the file was
      // written under and its partition tuple (`pt:`) — see
      // [[ManifestPartitions]]; absent on unpartitioned/engine-staged
      // files, which simply never partition-prune
      pspec: Option[Int] = None,
      ptuple: Option[String] = None,
      // per-column bloom bits (`<col>=b:<b64>` tokens, the AvroStats
      // construction fed from parquet DICTIONARY pages): equality/IN
      // refutation on non-clustered high-cardinality columns, where
      // (lo,hi) intervals can't prune at all. Base64-kept; decoded at
      // probe time.
      blooms: Map[String, String] = Map.empty,
      // row lineage: `rb:` = the file's row-id base (id = base + pos
      // for rows without a materialized id); `rim:` marks a rewrite
      // output carrying ids in its hidden __graft_row_id column
      rowIdBase: Option[Long] = None,
      rim: Boolean = false,
      // CBO feeds: exact per-column NULL counts (`<col>=z:` — free
      // from chunk metadata) and HLL NDV partials (`<col>=h:` — the
      // opted-in sketch columns), rolled up by estimateStatistics
      nulls: Map[String, Long] = Map.empty,
      hlls: Map[String, String] = Map.empty)

  private val EmptyStats =
    FileStats(None, Map.empty, Map.empty, Map.empty, None, None, None)

  private def parseEntry(line: String): (String, FileStats) = {
    val parts = line.split('\t')
    if (parts.length <= 1) return (line, EmptyStats)
    var rows: Option[Long] = None
    var dv: Option[String] = None
    var bytes: Option[Long] = None
    var epoch: Option[Int] = None
    var pspec: Option[Int] = None
    var ptuple: Option[String] = None
    var rowIdBase: Option[Long] = None
    var rim: Boolean = false
    val ls = Map.newBuilder[String, (Long, Long)]
    val ds = Map.newBuilder[String, (Double, Double)]
    val ss = Map.newBuilder[String, (Array[Byte], Array[Byte])]
    val bl = Map.newBuilder[String, String]
    val zs = Map.newBuilder[String, Long]
    val hs = Map.newBuilder[String, String]
    parts.iterator.drop(1).foreach { tok =>
      if (tok.startsWith("n:")) {
        rows = scala.util.Try(tok.substring(2).toLong).toOption
      } else if (tok.startsWith("b:")) {
        bytes = scala.util.Try(tok.substring(2).toLong).toOption
      } else if (tok.startsWith("dv:")) {
        dv = Some(tok.substring(3)).filter(_.nonEmpty)
      } else if (tok.startsWith("se:")) {
        epoch = scala.util.Try(tok.substring(3).toInt).toOption
      } else if (tok.startsWith("ps:")) {
        pspec = scala.util.Try(tok.substring(3).toInt).toOption
      } else if (tok.startsWith("pt:")) {
        ptuple = Some(tok.substring(3)).filter(_.nonEmpty)
      } else if (tok.startsWith("rb:")) {
        rowIdBase = scala.util.Try(tok.substring(3).toLong).toOption
      } else if (tok.startsWith("rim:")) {
        rim = tok.substring(4) == "1"
      } else {
        val eq = tok.indexOf('=')
        if (eq > 0) {
          val colName = tok.substring(0, eq)
          tok.substring(eq + 1).split(':') match {
            case Array("i", lo, hi) =>
              scala.util.Try(ls += colName -> (lo.toLong, hi.toLong))
            case Array("f", lo, hi) =>
              scala.util.Try(ds += colName ->
                (java.lang.Double.longBitsToDouble(lo.toLong),
                  java.lang.Double.longBitsToDouble(hi.toLong)))
            case Array("s", lo, hi) =>
              scala.util.Try {
                val dec = java.util.Base64.getDecoder
                ss += colName -> (dec.decode(lo), dec.decode(hi))
              }
            case Array("b", bits) => bl += colName -> bits
            case Array("z", n) =>
              scala.util.Try(zs += colName -> n.toLong)
            case Array("h", regs) => hs += colName -> regs
            case _ => // unknown kind: forward-compatible skip
          }
        }
      }
    }
    (parts(0),
      FileStats(rows, ls.result(), ds.result(), ss.result(), dv, bytes,
        epoch, pspec, ptuple, bl.result(), rowIdBase, rim,
        zs.result(), hs.result()))
  }

  /** Re-encode `line` with its `dv:` token replaced by `dvPath` (all
    * other tokens — stats, row count, schema epoch — carried verbatim:
    * they describe the immutable PHYSICAL file, which did not change).
    */
  private def withDvToken(line: String, dvPath: String): String =
    (line.split('\t').filterNot(_.startsWith("dv:")) :+ s"dv:$dvPath")
      .mkString("\t")

  // ---- field IDs: rename/drop-safe schema evolution ----------------------
  //
  // Declared tables carry a `#fieldepochs=` meta: an APPEND-ONLY list
  // of schema epochs, each mapping a stable FIELD ID to that column's
  // physical name under that epoch. Every staged file records the
  // epoch it was written under (`se:` token), so readers resolve a
  // CURRENT column to a file's PHYSICAL column by ID, not by name —
  // RENAME COLUMN becomes one metadata commit (no file moves), and a
  // dropped-then-re-added name gets a FRESH id, so old files' bytes
  // for the dead id read NULL instead of silently resurrecting
  // (Iceberg's field-id mapping, carried in the manifest meta instead
  // of the parquet footers). Object-API tables declare nothing and
  // keep pure by-name resolution (empty epoch history).
  //
  // Encoding (same base64 discipline as the stat tokens, so names with
  // delimiters round-trip): epochs ';'-joined, each epoch a ','-joined
  // list of `id:b64(name)`.

  private[sources] val FieldEpochsKey = "fieldepochs"

  private[sources] def encodeEpochs(es: Seq[Map[Int, String]]): String = {
    val enc = java.util.Base64.getEncoder
    es.map(_.toSeq.sortBy(_._1).map { case (i, n) =>
      s"$i:${enc.encodeToString(n.getBytes(StandardCharsets.UTF_8))}"
    }.mkString(",")).mkString(";")
  }

  private[sources] def decodeEpochs(s: String): Seq[Map[Int, String]] = {
    val dec = java.util.Base64.getDecoder
    s.split(';').toSeq.map(_.split(',').iterator.filter(_.nonEmpty).map { t =>
      val i = t.indexOf(':')
      t.take(i).toInt ->
        new String(dec.decode(t.substring(i + 1)), StandardCharsets.UTF_8)
    }.toMap)
  }

  private[sources] def epochsOf(meta: Map[String, String]): Seq[Map[Int, String]] =
    meta.get(FieldEpochsKey).map(decodeEpochs).getOrElse(Nil)

  /** Field ids for a declared schema, NESTED fields included
    * (Iceberg's ids-per-leaf): top-level fields take ids 1..n in
    * declared order — BYTE-COMPATIBLE with the pre-nested encoding for
    * flat schemas — then struct members (and their struct members,
    * recursively) take subsequent ids under DOTTED paths, depth-first.
    * Struct nodes themselves get ids too (a top-level struct column
    * can rename). Arrays and maps are opaque leaves: their ELEMENT
    * fields carry no ids (inner evolution there is refused loudly).
    */
  private[sources] def leafIds(schema: StructType): Map[Int, String] = {
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    schema.fields.foreach(f => paths += f.name)
    def rec(prefix: String, st: StructType): Unit =
      st.fields.foreach { f =>
        val p = s"$prefix.${f.name}"
        paths += p
        f.dataType match {
          case s2: StructType => rec(p, s2)
          case _ =>
        }
      }
    schema.fields.foreach(f => f.dataType match {
      case s2: StructType => rec(f.name, s2)
      case _ =>
    })
    paths.zipWithIndex.map { case (p, i) => (i + 1) -> p }.toMap
  }

  /** The data type at a DOTTED physical path inside `schema`, walking
    * struct members only — None when any segment is absent (the
    * requested-but-missing → NULL convention's presence check).
    */
  private[sources] def typeAtPath(schema: StructType,
      path: String): Option[org.apache.spark.sql.types.DataType] =
    path.split('.').foldLeft(
      Option(schema: org.apache.spark.sql.types.DataType)) {
      case (Some(st: StructType), seg) =>
        st.fields.find(_.name == seg).map(_.dataType)
      case _ => None
    }

  /** CURRENT-name → PHYSICAL-name translation for a file staged under
    * `st.epoch`: a current column maps iff its field id already
    * existed at that epoch — a dropped-and-re-added name maps to
    * nothing there (the old bytes belong to a dead id and must read
    * NULL). None = the table has no field-id history: resolve by name,
    * as ever. A missing `se:` token means epoch 0 (the file predates
    * every schema change — this code stamps every staged file).
    */
  private[sources] def physMap(epochs: Seq[Map[Int, String]],
      st: FileStats): Option[Map[String, String]] =
    // a single epoch means no rename/drop ever happened: physical
    // names ARE current names for every file — by-name resolution is
    // correct and costs nothing extra
    if (epochs.size <= 1) None
    else {
      val cur = epochs.last
      val e = epochs(math.min(st.epoch.getOrElse(0), epochs.size - 1))
      Some(cur.flatMap { case (id, curName) => e.get(id).map(curName -> _) })
    }

  /** `st` with its stat intervals RE-KEYED from physical to current
    * names, so every stats consumer (file skipping, find-touched
    * pruning, aggregate pushdown, scan statistics) keeps operating on
    * current names — a token whose physical column is not live under
    * the current schema simply disappears (no pruning, never a wrong
    * prune on a dead id's bytes).
    */
  private[sources] def rekeyStats(epochs: Seq[Map[Int, String]],
      st: FileStats): FileStats =
    physMap(epochs, st) match {
      case None => st
      case Some(m) => st.copy(
        longs = m.flatMap { case (c, p) => st.longs.get(p).map(c -> _) },
        dbls = m.flatMap { case (c, p) => st.dbls.get(p).map(c -> _) },
        strs = m.flatMap { case (c, p) => st.strs.get(p).map(c -> _) },
        blooms = m.flatMap { case (c, p) => st.blooms.get(p).map(c -> _) },
        nulls = m.flatMap { case (c, p) => st.nulls.get(p).map(c -> _) },
        hlls = m.flatMap { case (c, p) => st.hlls.get(p).map(c -> _) })
    }

  /** (declared current schema, epoch history) of a declared table at
    * the pinned (or latest) version; None for object-API tables — the
    * switch between id-resolved and by-name reads.
    */
  private def schemaCtxAt(fs: FileSystem, root: Path,
      version: Option[Long]): Option[(org.apache.spark.sql.types.StructType,
        Seq[Map[Int, String]])] = {
    val vs = manifestVersions(fs, root)
    val p = version match {
      case Some(v) => vs.find(_._1 == v).map(_._2)
      case None => vs.lastOption.map(_._2)
    }
    schemaCtxOf(p.map(readMeta(fs, _)).getOrElse(Map.empty))
  }

  /** [[schemaCtxAt]] from an already-read snapshot meta. */
  private def schemaCtxOf(meta: Map[String, String])
      : Option[(StructType, Seq[Map[Int, String]])] =
    for {
      ej <- meta.get(FieldEpochsKey)
      sj <- meta.get(SchemaKey)
    } yield (org.apache.spark.sql.types.DataType.fromJson(sj)
      .asInstanceOf[org.apache.spark.sql.types.StructType],
      decodeEpochs(ej))

  /** Meta of the target LINEAGE's head (branch falls back to main for
    * the first branch commit) — what staging stamps epochs and
    * partition tuples from.
    */
  private def headMetaOf(fs: FileSystem, root: Path,
      branch: Option[String]): Map[String, String] = {
    val vs = manifestVersions(fs, root)
    branch.flatMap(b => headIn(fs, vs, Some(b))).orElse(headIn(fs, vs, None))
      .map(h => readMeta(fs, h._2)).getOrElse(Map.empty)
  }

  private def epochTokenOf(meta: Map[String, String]): Option[String] =
    meta.get(FieldEpochsKey).map(e => s"se:${decodeEpochs(e).size - 1}")

  private def stampEpoch(lines: Seq[String],
      tok: Option[String]): Seq[String] =
    tok.fold(lines)(t => lines.map(l => s"$l\t$t"))

  /** Encode the manifest line for a freshly staged file: path + stat
    * tokens from ONE footer read. Any column whose chunks lack usable
    * statistics (or whose name would collide with the token grammar)
    * contributes no token — it is just never pruned on.
    */
  private def statLine(fs: FileSystem, root: Path, rel: String,
      bloomCols: Set[String]): String = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(root, rel), fs.getConf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        toks += s"n:${blocks.map(_.getRowCount).sum}"
        toks += s"b:${fs.getFileStatus(new Path(root, rel)).getLen}"
        // fold chunk stats per column across blocks; a single unusable
        // chunk poisons (drops) that column's token
        val longLo = scala.collection.mutable.Map.empty[String, Long]
        val longHi = scala.collection.mutable.Map.empty[String, Long]
        val dblLo = scala.collection.mutable.Map.empty[String, Double]
        val dblHi = scala.collection.mutable.Map.empty[String, Double]
        val strLo = scala.collection.mutable.Map.empty[String, Array[Byte]]
        val strHi = scala.collection.mutable.Map.empty[String, Array[Byte]]
        val dead = scala.collection.mutable.Set.empty[String]
        // a rewrite output carrying materialized row ids marks itself —
        // readers serve _row_id from the hidden column instead of
        // minting base+pos (the column is never data: stats skip it,
        // schema inference filters it, reads drop it unless asked)
        locally {
          val fsch = reader.getFooter.getFileMetaData.getSchema
          if ((0 until fsch.getFieldCount)
              .exists(fsch.getFieldName(_) == RowIdCol))
            toks += "rim:1"
        }
        // per-column NULL counts (CBO's nullCount): exact from chunk
        // metadata; any chunk without the counter poisons the column
        val nullCnt = scala.collection.mutable.Map.empty[String, Long]
        val nullDead = scala.collection.mutable.Set.empty[String]
        for (b <- blocks; c <- b.getColumns.asScala) {
          val name = c.getPath.toDotString
          if (!nullDead(name) && name != RowIdCol &&
              !name.contains('=') && !name.contains(':') &&
              !name.contains('\t')) {
            val stz = c.getStatistics
            if (stz != null && !stz.isEmpty && stz.isNumNullsSet)
              nullCnt.updateWith(name)(v =>
                Some(v.getOrElse(0L) + stz.getNumNulls))
            else { nullDead += name; nullCnt -= name }
          }
          if (!dead(name) && name != RowIdCol &&
              !name.contains('=') && !name.contains(':') &&
              !name.contains('\t')) {
            val st = c.getStatistics
            val usable = st != null && !st.isEmpty &&
              (st.hasNonNullValue || st.getNumNulls == b.getRowCount)
            if (!usable) {
              dead += name
              longLo -= name; dblLo -= name; strLo -= name
            } else if (st.hasNonNullValue) {
              val isStr = c.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  longLo.updateWith(name)(v =>
                    Some(v.fold(lo.longValue)(math.min(_, lo.longValue))))
                  longHi.updateWith(name)(v =>
                    Some(v.fold(hi.longValue)(math.max(_, hi.longValue))))
                case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                  longLo.updateWith(name)(v =>
                    Some(v.fold(lo.longValue)(math.min(_, lo.longValue))))
                  longHi.updateWith(name)(v =>
                    Some(v.fold(hi.longValue)(math.max(_, hi.longValue))))
                case (lo: java.lang.Double, hi: java.lang.Double) =>
                  dblLo.updateWith(name)(v =>
                    Some(v.fold(lo.doubleValue)(math.min(_, lo.doubleValue))))
                  dblHi.updateWith(name)(v =>
                    Some(v.fold(hi.doubleValue)(math.max(_, hi.doubleValue))))
                case (lo: java.lang.Float, hi: java.lang.Float) =>
                  dblLo.updateWith(name)(v => Some(
                    v.fold(lo.doubleValue)(math.min(_, lo.doubleValue))))
                  dblHi.updateWith(name)(v => Some(
                    v.fold(hi.doubleValue)(math.max(_, hi.doubleValue))))
                case (lo: Binary, hi: Binary) if isStr &&
                    lo.length <= 64 && hi.length <= 64 =>
                  val (lb, hb) = (lo.getBytes, hi.getBytes)
                  strLo.updateWith(name)(v =>
                    Some(v.fold(lb)(p => if (Bytes.compare(lb, p) < 0) lb else p)))
                  strHi.updateWith(name)(v =>
                    Some(v.fold(hb)(p => if (Bytes.compare(hb, p) > 0) hb else p)))
                case _ =>
                  dead += name
                  longLo -= name; dblLo -= name; strLo -= name
              }
            }
            // all-NULL chunk with usable stats: contributes no bound
            // but does not poison — other chunks may carry values
          }
        }
        // BLOOM tokens (the `graft.bloom-columns` property): bits fed
        // from a PROJECTED read of just those columns at stage time —
        // parquet's columnar layout means only the declared columns'
        // pages are read, once, ever (files are immutable; the token
        // rides every later manifest by reference). This is the
        // opt-in cost of making equality/IN probes on a NON-CLUSTERED
        // high-cardinality column (content hashes, ids) skip files —
        // exactly where (lo,hi) intervals prune nothing and where
        // dictionary pages can't help either (all-distinct values make
        // the writer fall back to PLAIN). Oversized files skip the
        // token (a 1024-bit filter saturates — safe but useless);
        // hashing is byte-identical to AvroStats' observe/refute pair.
        val bloomable = bloomCols.toSeq.sorted.filter { name =>
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
          !name.contains('=') && !name.contains(':') &&
            !name.contains('\t') && {
              val fileSchema = reader.getFooter.getFileMetaData.getSchema
              (0 until fileSchema.getFieldCount)
                .map(fileSchema.getType(_)).exists(t =>
                  t.getName == name && t.isPrimitive &&
                    (t.asPrimitiveType().getPrimitiveTypeName match {
                      case PrimitiveTypeName.INT64 |
                           PrimitiveTypeName.BINARY => true
                      case PrimitiveTypeName.INT32 =>
                        !t.getLogicalTypeAnnotation.isInstanceOf[
                          LogicalTypeAnnotation.DateLogicalTypeAnnotation]
                      case _ => false
                    }))
            }
        }
        // the projected read runs whenever sketch columns are opted in;
        // the BLOOM tokens additionally gate on file size (a 1024-bit
        // filter saturates past ~256k rows — safe but useless), while
        // the HLL NDV partials never saturate and always emit
        val bloomEmit = blocks.map(_.getRowCount).sum <= 262144L
        if (bloomable.nonEmpty) {
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
          val fileSchema = reader.getFooter.getFileMetaData.getSchema
          val projected = new org.apache.parquet.schema.MessageType(
            fileSchema.getName,
            bloomable.map(n =>
              fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
          val c = new org.apache.hadoop.conf.Configuration(fs.getConf)
          c.set(org.apache.parquet.hadoop.api.ReadSupport
            .PARQUET_READ_SCHEMA, projected.toString)
          val pr = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new Path(root, rel)).withConf(c).build()
          try {
            val bitsByCol = bloomable.map(_ =>
              new Array[Long](AvroStats.BloomWords))
            val regsByCol = bloomable.map(_ =>
              new Array[Byte](AvroStats.HllRegisters))
            val hashers: Seq[org.apache.parquet.example.data.Group => Int => Long] =
              bloomable.zipWithIndex.map { case (n, j) =>
                projected.getType(j).asPrimitiveType()
                  .getPrimitiveTypeName match {
                  case PrimitiveTypeName.INT64 =>
                    (g: org.apache.parquet.example.data.Group) =>
                      (_: Int) => AvroStats.valueHash(g.getLong(j, 0)).get
                  case PrimitiveTypeName.INT32 =>
                    (g: org.apache.parquet.example.data.Group) =>
                      (_: Int) => AvroStats.valueHash(g.getInteger(j, 0)).get
                  case _ =>
                    (g: org.apache.parquet.example.data.Group) =>
                      (_: Int) => AvroStats.mix64(AvroStats.hashBytes(
                        g.getBinary(j, 0).getBytes))
                }
              }
            var g = pr.read()
            while (g != null) {
              var j = 0
              while (j < bloomable.size) {
                if (g.getFieldRepetitionCount(j) > 0) {
                  val h = hashers(j)(g)(0)
                  if (bloomEmit) AvroStats.setBits(bitsByCol(j), h)
                  AvroStats.hllObserve(regsByCol(j), h)
                }
                j += 1
              }
              g = pr.read()
            }
            bloomable.zipWithIndex.foreach { case (n, j) =>
              if (bloomEmit)
                toks += s"$n=b:${AvroStats.bloomEncode(bitsByCol(j))}"
              toks += s"$n=h:${AvroStats.hllEncode(regsByCol(j))}"
            }
          } finally pr.close()
        }
        val enc = java.util.Base64.getEncoder
        nullCnt.toSeq.sortBy(_._1).foreach { case (n2, z) =>
          toks += s"$n2=z:$z" }
        longLo.toSeq.sortBy(_._1).foreach { case (n2, lo) =>
          toks += s"$n2=i:$lo:${longHi(n2)}" }
        dblLo.toSeq.sortBy(_._1).foreach { case (n2, lo) =>
          toks += s"$n2=f:${java.lang.Double.doubleToLongBits(lo)}:" +
            s"${java.lang.Double.doubleToLongBits(dblHi(n2))}" }
        strLo.toSeq.sortBy(_._1).foreach { case (n2, lo) =>
          toks += s"$n2=s:${enc.encodeToString(lo)}:" +
            s"${enc.encodeToString(strHi(n2))}" }
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        // unreadable footer: commit the bare path — stats are an
        // optimization, publication must not depend on them
        return rel
    }
    (rel +: toks.toSeq).mkString("\t")
  }

  /** `#key=value` metadata of the snapshot at manifest path `p`.
    * Meta lines lead the file, so the read stops at the first entry
    * line — O(meta) even when `p` is a full manifest of a huge table
    * (the append fast path reads ONLY this from its predecessor).
    */
  private def readMeta(fs: FileSystem, p: Path): Map[String, String] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val m = Map.newBuilder[String, String]
      var l = in.readLine()
      while (l != null && l.startsWith("#")) {
        val i = l.indexOf('=')
        if (i > 0) m += l.substring(1, i) -> l.substring(i + 1)
        l = in.readLine()
      }
      m.result()
    } finally in.close()
  }

  private def checkpointPathOf(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"$CheckpointPrefix$v%06d")

  /** Apply one delta manifest's entry lines to a resolved base:
    * `-path` lines drop the path's entry, `+entry` lines append. A
    * same-path remove+add pair (a deletion-vector swap, a stats
    * refresh) replaces the line in one delta.
    */
  private def applyDelta(base: Seq[String], delta: Seq[String]): Seq[String] = {
    val removed = delta.iterator
      .filter(_.startsWith("-")).map(_.substring(1)).toSet
    val added = delta.filter(_.startsWith("+")).map(_.substring(1))
    (if (removed.isEmpty) base
     else base.filterNot(l => removed(pathOf(l)))) ++ added
  }

  /** Entry lines of retained version `v`, resolving the delta chain:
    * walk back to the nearest full manifest or checkpoint sidecar and
    * fold the deltas forward. Version 0 is the empty pre-creation
    * snapshot. Cost: one full read + O(chain) delta reads, the chain
    * bounded by the checkpoint interval — never O(versions).
    */
  private def resolveDataLines(fs: FileSystem, root: Path,
      byV: Map[Long, Path], v: Long): Seq[String] = {
    var deltas = List.empty[Seq[String]]
    var cur = v
    var base: Seq[String] = null
    while (base == null) {
      if (cur == 0L) base = Seq.empty
      else {
        val cp = checkpointPathOf(root, cur)
        if (fs.exists(cp)) base = readDataLines(fs, cp)
        else byV.get(cur) match {
          case None => throw new IllegalStateException(
            s"version $v of $root is not resolvable: its delta chain " +
              s"needs version $cur, which is neither retained nor " +
              "checkpointed")
          case Some(p) =>
            val raw = readManifestRaw(fs, p)
            val lines = raw.filterNot(_.startsWith("#"))
            // follow the EXPLICIT parent pointer, not v−1: once
            // branches exist history is a tree, and a commit's
            // predecessor is whatever head it was committed against
            raw.collectFirst {
              case l if l.startsWith(s"#$DeltaKey=") =>
                l.substring(DeltaKey.length + 2).toLong
            } match {
              case Some(b) =>
                deltas ::= lines
                cur = b
              case None => base = lines
            }
        }
      }
    }
    deltas.foldLeft(base)(applyDelta)
  }

  /** Memoized per-version line resolver over one listing — the shared
    * machinery of [[history]] and [[vacuum]]'s live-set fold: each
    * version resolves once (checkpoint hit, full manifest, or one
    * delta application on its memoized parent), O(versions) small
    * reads total even though history is a TREE under branches.
    */
  private def lineageResolver(fs: FileSystem, root: Path,
      byV: Map[Long, Path]): Long => Seq[String] = {
    val cache = scala.collection.mutable.Map.empty[Long, Seq[String]]
    cache(0L) = Seq.empty
    def linesOf(v: Long): Seq[String] = cache.getOrElseUpdate(v, {
      val cp = checkpointPathOf(root, v)
      if (fs.exists(cp)) readDataLines(fs, cp)
      else {
        val raw = readManifestRaw(fs, byV(v))
        val dataLines = raw.filterNot(_.startsWith("#"))
        raw.collectFirst {
          case l if l.startsWith(s"#$DeltaKey=") =>
            l.substring(DeltaKey.length + 2).toLong
        } match {
          case Some(b) => applyDelta(linesOf(b), dataLines)
          case None => dataLines
        }
      }
    })
    linesOf
  }

  /** Live branch heads (name, head version, manifest path) in the
    * `_manifests` listing `vs`, newest commit per name, honoring both
    * retirement forms: a DROP tombstone is the branch's own newest
    * commit; a PROMOTE retires the name from the main commit that
    * published it (commits newer than the promote under the same name
    * are a FRESH branch).
    */
  private def liveBranchHeads(fs: FileSystem,
      vs: Seq[(Long, Path)]): Seq[(String, Long, Path)] = {
    val dead = scala.collection.mutable.Set.empty[String]
    val heads =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Path)]
    vs.reverseIterator.foreach { case (v, p) =>
      val m = readMeta(fs, p)
      m.get(BranchKey) match {
        case Some(b) =>
          if (!heads.contains(b) && !dead(b)) {
            if (m.contains(DroppedKey)) dead += b
            else heads(b) = (v, p)
          }
        case None => m.get(PromotedKey).foreach(dead += _)
      }
    }
    heads.toSeq.map { case (b, (v, p)) => (b, v, p) }.sortBy(_._1)
  }

  /** Head (version, manifest path) of a lineage: the newest retained
    * version on `ref` — a branch name, or None for MAIN (no branch
    * meta). A dropped or promoted branch has no head. For main this
    * reads ONE meta in the common case (the newest version is a main
    * commit).
    */
  private def headVersion(fs: FileSystem, root: Path,
      ref: Option[String]): Option[(Long, Path)] =
    headIn(fs, manifestVersions(fs, root), ref)

  /** [[headVersion]] over a `_manifests` listing already in hand, so a
    * caller that needs both the listing and the head lists once.
    */
  private def headIn(fs: FileSystem, vs: Seq[(Long, Path)],
      ref: Option[String]): Option[(Long, Path)] = ref match {
    case Some(b) =>
      liveBranchHeads(fs, vs).collectFirst {
        case (`b`, v, p) => (v, p)
      }
    case None =>
      vs.reverseIterator
        .map { case (v, p) => (v, p, readMeta(fs, p)) }
        .collectFirst {
          case (v, p, m) if !m.contains(BranchKey) => (v, p)
        }
  }

  /** What a commit MEANS, so a lost version race can be re-validated
    * rather than blindly retried (optimistic concurrency).
    */
  private sealed trait CommitMode
  /** Blind replace: the new snapshot is the staged files, whatever is
    * current — INSERT OVERWRITE semantics; serializes after anything.
    */
  private case object Replace extends CommitMode
  /** Blind append: staged files join whatever is current. Reads
    * nothing, so it rebases freely — appends never conflict.
    */
  private case object AppendFiles extends CommitMode
  /** A rewrite computed against snapshot `baseV` (= `baseLines`) that
    * claims `touched` ⊆ base paths (the files it rewrote) and carries
    * everything else by reference. On a version race the interleaved
    * commits must be provably disjoint: every touched file's CURRENT
    * manifest line must be byte-identical to its base line — removal
    * catches a racing rewrite, and LINE identity (not just path)
    * catches a racing merge-on-read commit that changed the file's
    * `dv:` sidecar without moving the file, whose deletes a base-built
    * republish would silently resurrect — and `scopeOverlaps` (given
    * the interleave's ADDED files, absolute paths) must find no row
    * inside the operation's read scope — then the untouched references
    * rebase onto the current file list. Otherwise
    * [[ConcurrentWriteException]].
    */
  private final case class RewriteFiles(baseV: Long, baseLines: Seq[String],
      touched: Set[String], opName: String,
      scopeOverlaps: Seq[String] => Boolean) extends CommitMode

  /** Test-only injection point: fired ONCE per publish, between an
    * operation's compute phase and its first version read — the
    * deterministic way to interleave a concurrent committer
    * (CompactionSpec's race legs). Self-resets to a no-op before
    * firing, so a hook that itself commits cannot recurse.
    */
  private[graft] var beforePublish: () => Unit = () => ()

  // On HDFS/object stores, rename-without-overwrite IS the CAS. POSIX
  // rename OVERWRITES, so the exists+rename pair is a TOCTOU window on
  // local FS — per-table JVM locks close it for same-process writers
  // (the test/dev reality; cross-process local FS remains documented
  // single-writer, and real deployments are on HDFS semantics anyway).
  private val localCasLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Validate-and-CAS-commit the next snapshot under `mode`; returns
    * its version. Snapshot metadata (`#key=value` lines ahead of the
    * file list) rides the SAME atomic rename as the data it describes,
    * and the PREVIOUS snapshot's metadata is carried forward with
    * `meta` overriding per key — so the streaming txn marker survives
    * unrelated commits (compaction, DML) and vacuum's history
    * collapse: the latest manifest always knows the last applied
    * batch. Every attempt re-reads the current snapshot and re-runs
    * the mode's conflict validation — losing the CAS means the world
    * changed, so the proof must be redone against the new world.
    *
    * `metaGuard` runs per CAS attempt against the lineage head's
    * CURRENT meta (inside the lock, before anything is written) — the
    * conflict validation for commits whose INTENT reads the meta it
    * rewrites (an ALTER computed against one epoch history must not
    * silently drop a concurrent ALTER's epoch append: the lost update
    * on the versioned schema). Throw [[ConcurrentWriteException]] to
    * abort; AppendFiles otherwise rebases freely.
    *
    * `metaFn` computes PER-ATTEMPT meta from (parent version, parent
    * meta) inside the commit lock — what an eq-delete needs: its
    * applies-to base IS the parent this commit lands on, and its
    * sequence number comes from the parent's own eqdel keys.
    *
    * `metaDrop` removes keys from the carry-forward outright (each
    * version's meta is self-contained, so absorbed eq-delete keys can
    * vanish instead of riding every later commit as empty tombstones —
    * unbounded per-commit meta growth on a long-lived CDC table).
    */
  private def publish(fs: FileSystem, root: Path, mode: CommitMode,
      staged: Seq[String], meta: Map[String, String] = Map.empty,
      ref: Option[String] = None,
      metaGuard: Map[String, String] => Unit = _ => (),
      metaFn: (Long, Map[String, String]) => Map[String, String] =
        (_, _) => Map.empty,
      metaDrop: Set[String] = Set.empty): Long = {
    val hook = beforePublish
    beforePublish = () => ()
    hook()
    // canonicalize the key: 'file:///tmp/t', '/tmp/t', and a trailing
    // slash must all take the SAME lock or the TOCTOU window reopens
    // for differently-spelled callers of one table
    val casLock =
      if (fs.getScheme == "file")
        localCasLocks.computeIfAbsent(
          fs.makeQualified(root).toUri.toString, _ => new Object)
      else null
    def locked[A](body: => A): A =
      if (casLock == null) body else casLock.synchronized(body)
    val mdir = new Path(root, ManifestDir)
    fs.mkdirs(mdir)
    var attempt = 0
    var committedMeta: Map[String, String] = Map.empty
    while (attempt < 64) {
      val committed: Long = locked {
        val vsAll = manifestVersions(fs, root)
        // the commit's PARENT is the head of its lineage (main, or a
        // branch) — not necessarily the newest version: a write-audit-
        // publish branch interleaves its staging commits into the same
        // global version sequence, invisible to the other lineages
        val prev = headVersion(fs, root, ref)
          .orElse(if (ref.isDefined) headVersion(fs, root, None) else None)
        val curV = prev.map(_._1).getOrElse(0L)
        val prevMeta = prev.map(p => readMeta(fs, p._2)).getOrElse(Map.empty)
        metaGuard(prevMeta)
        val nextV = vsAll.lastOption.map(_._1).getOrElse(0L) + 1L
        // the commit body is DELTA-encoded for appends and rewrites —
        // O(commit) lines (`+entry` / `-path`), never O(table): kept
        // files ride by OMISSION, so a kept file's embedded stats stay
        // byte-identical for free and an epoch-rate streaming append
        // costs the epoch, not the table. Replace writes the full new
        // snapshot (a chain reset). Only a RACED rewrite resolves the
        // current snapshot at all — for its conflict proof.
        val entryLines: Seq[String] = mode match {
          case Replace => staged
          case AppendFiles => staged.map("+" + _)
          case rw: RewriteFiles =>
            val baseFiles = rw.baseLines.map(pathOf)
            if (curV != rw.baseV) {
              // interleaved commits landed since this op read its
              // snapshot — prove disjointness or abort, never revert.
              // Identity is the full manifest LINE, not the path: a
              // merge-on-read interleave changes a file's `dv:` token
              // while the path survives, and republishing content built
              // from the BASE line would resurrect its deleted rows.
              val curLines = resolveDataLines(fs, root, vsAll.toMap, curV)
              val curLineByPath = curLines.map(l => pathOf(l) -> l).toMap
              val baseLineByPath = rw.baseLines.map(l => pathOf(l) -> l).toMap
              val clash = baseFiles.filter(f => rw.touched(f) &&
                !curLineByPath.get(f).contains(baseLineByPath(f)))
              if (clash.nonEmpty) throw new ConcurrentWriteException(
                s"${rw.opName} computed against v${rw.baseV} of $root, but " +
                  s"a concurrent commit (now v$curV) rewrote, removed, or " +
                  s"re-vectored file(s) it touched: " +
                  clash.take(3).mkString(", ") +
                  (if (clash.size > 3) s" (+${clash.size - 3} more)" else "") +
                  " — re-run against the current snapshot")
              val baseSet = baseFiles.toSet
              val addedSinceBase = curLines.map(pathOf).filterNot(baseSet)
              if (addedSinceBase.nonEmpty &&
                  rw.scopeOverlaps(absPaths(root, addedSinceBase)))
                throw new ConcurrentWriteException(
                  s"${rw.opName} computed against v${rw.baseV} of $root, but " +
                    s"a concurrent commit (now v$curV) added rows inside its " +
                    "read scope — re-run against the current snapshot")
            }
            // proof holds: untouched references rebase IMPLICITLY (the
            // delta only names touched paths and staged lines; serial
            // order: this rewrite first, interleave after)
            rw.touched.toSeq.sorted.map("-" + _) ++ staged.map("+" + _)
        }
        val v = nextV
        // ROW-ID BASES (row lineage): every staged line with a row
        // count and no id provenance yet gets `rb:<base>` — bases are
        // VERSION-SCOPED (v·2³⁸ + running offset), so they are unique
        // across lineages with no watermark to race on (the version
        // IS the CAS), monotone with commit order, and frozen on the
        // line forever (restore/promote republish lines verbatim, so
        // ids survive both). A line already carrying `rb:` (DV
        // re-tokens, republished references) or `rim:` (a rewrite's
        // output with ids materialized in-file) keeps its provenance;
        // a line with no `n:` gets nothing (its rows read a NULL id —
        // stats are optional, so must this be).
        val entryLinesRb = {
          var cursor = v << RowIdVersionShift
          entryLines.map { l =>
            if (!l.startsWith("+") && mode != Replace) l
            else {
              val body = if (l.startsWith("+")) l.substring(1) else l
              val toks = body.split('\t')
              // only an EXISTING base blocks reassignment: a `rim:`
              // rewrite output still needs a base for the rows it
              // minted (NULL materialized id ⇒ base + pos)
              val hasProv = toks.exists(_.startsWith("rb:"))
              val rows = toks.find(_.startsWith("n:"))
                .flatMap(t => scala.util.Try(t.substring(2).toLong).toOption)
              if (hasProv || rows.isEmpty) l
              else {
                val base = cursor
                cursor += rows.get
                (if (l.startsWith("+")) "+" else "") + s"$body\trb:$base"
              }
            }
          }
        }
        // per-commit keys (op, lineage parent, delta marker, branch,
        // commit time) describe THIS commit and are excluded from
        // carry-forward (unlike the txn marker, which must survive
        // unrelated commits)
        val opMeta = Map(
          OpKey -> (mode match {
            case Replace => "overwrite"
            case AppendFiles => "append"
            case rw: RewriteFiles => rw.opName
          }),
          // the commit time lives IN the manifest, not in file mtimes:
          // TIMESTAMP AS OF and history() must survive clock-skewed
          // object-store copies, backup/restore, and plain `touch`
          TsKey -> System.currentTimeMillis().toString,
          BaseKey -> curV.toString
        ) ++ (if (mode == Replace) Map.empty
              else Map(DeltaKey -> curV.toString)) ++
          ref.map(BranchKey -> _)
        val merged = prevMeta -- metaDrop - OpKey - BaseKey - DeltaKey -
          BranchKey - DroppedKey - PromotedKey - TsKey ++ opMeta ++
          meta ++ metaFn(curV, prevMeta)
        committedMeta = merged
        val all = merged.toSeq.sortBy(_._1)
          .map { case (k, x) => s"#$k=$x" } ++ entryLinesRb
        val body = all.mkString("", "\n", if (all.isEmpty) "" else "\n")
          .getBytes(StandardCharsets.UTF_8)
        val tmp = new Path(mdir,
          s".$ManifestPrefix$v.${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, true)
        try out.write(body) finally out.close()
        val fin = new Path(mdir, f"$ManifestPrefix$v%06d")
        // rename-without-overwrite = compare-and-swap on HDFS: a racing
        // committer that claimed v first makes this rename fail → retry
        // (snapshot, meta, AND the conflict proof are all redone per
        // attempt, so a lost race never publishes stale references)
        if (!fs.exists(fin) && fs.rename(tmp, fin)) v
        else { fs.delete(tmp, false); -1L }
      }
      if (committed > 0) {
        if (mode != Replace) maybeCheckpoint(fs, root, committed,
          committedMeta)
        return committed
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"manifest commit lost the version race 64 times under $root")
  }

  /** Best-effort checkpoint sidecar after every checkpoint-interval-th
    * delta commit: materialize version `v`'s resolved entry lines as
    * `checkpoint-<v>` so later resolutions stop here instead of
    * walking the whole chain. DERIVED state — a crash before the
    * rename costs nothing (resolution falls through the deltas), a
    * duplicate racer writes identical content, and Replace commits
    * skip it (a full manifest already resets the chain).
    */
  private def maybeCheckpoint(fs: FileSystem, root: Path, v: Long,
      commitMeta: Map[String, String]): Unit = {
    // the interval comes from the meta THIS commit just wrote — no
    // extra listing or meta read on the commit hot path
    val interval = commitMeta.get(s"$PropPrefix$CheckpointIntervalProp")
      .flatMap(x => scala.util.Try(x.toLong).toOption).filter(_ > 0L)
      .getOrElse(DefaultCheckpointInterval)
    if (v % interval == 0L)
      writeCheckpointAt(fs, root, v, manifestVersions(fs, root).toMap)
  }

  /** Materialize version `v`'s resolved entry lines as
    * `checkpoint-<v>` — idempotent and best-effort (derived state:
    * the caller decides whether absence matters; [[vacuum]] re-checks
    * existence before deleting the chain the checkpoint replaces).
    * `byV` is the caller's (version → manifest) map of `_manifests`,
    * taken only when the checkpoint is missing.
    */
  private def writeCheckpointAt(fs: FileSystem, root: Path,
      v: Long, byV: => Map[Long, Path]): Unit = {
    val cp = checkpointPathOf(root, v)
    if (fs.exists(cp)) return
    try {
      val lines = resolveDataLines(fs, root, byV, v)
      val body = lines.mkString("", "\n", if (lines.isEmpty) "" else "\n")
        .getBytes(StandardCharsets.UTF_8)
      val tmp = new Path(new Path(root, ManifestDir),
        s".$CheckpointPrefix$v.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(body) finally out.close()
      if (!fs.rename(tmp, cp)) fs.delete(tmp, false)
    } catch {
      // a checkpoint is an optimization; never fail the commit for it
      case scala.util.control.NonFatal(_) => ()
    }
    ()
  }

  /** The DML anchor snapshot for a lineage: the branch head when
    * `branch` is set (forking from MAIN if the branch has no commits
    * yet — the first branch DML behaves like the first branch write),
    * else the main head.
    */
  private def snapshotFor(fs: FileSystem, root: Path,
      branch: Option[String]): (Long, Seq[String]) = {
    val (hv, _, lines) = lineageSnapshot(fs, root, branch)
    (hv, lines)
  }

  /** [[snapshotFor]] plus the head manifest's path, from ONE listing of
    * `_manifests` — a caller that reads the head's meta too gets the
    * meta of the very snapshot whose lines it holds.
    */
  private def lineageSnapshot(fs: FileSystem, root: Path,
      branch: Option[String]): (Long, Path, Seq[String]) = {
    branch.foreach(checkRefName)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $root")
    val (hv, hp) = branch.flatMap(b => headIn(fs, vs, Some(b)))
      .orElse(headIn(fs, vs, None))
      .getOrElse(throw new IllegalStateException(
        s"no main commit under $root"))
    (hv, hp, resolveDataLines(fs, root, vs.toMap, hv))
  }

  /** (version, entry LINES) of the current snapshot in ONE manifest
    * read — the base a rewrite's conflict proof is anchored to
    * (reading version and files separately could straddle a concurrent
    * commit). Lines carry the embedded per-file stats; `pathOf` maps
    * to the file list.
    */
  private def currentSnapshot(fs: FileSystem, root: Path): (Long, Seq[String]) =
    snapshotFor(fs, root, None)

  /** File paths among `entries` that COULD hold a row whose `keys`
    * match some row of `probe` — refuted per column by intersecting
    * the file's manifest (lo,hi) interval with the probe's own bounds
    * (one tiny aggregate over the probe, zero table IO), through the
    * manifest's one stats matcher ([[ManifestDataSource.mayMatch]] on
    * `k >= lo` and `k <= hi`). A file without a token for a column, a
    * key with no non-null probe value, and a key type the stats do not
    * track (date, decimal, boolean) never refute; refutation on ANY key
    * column removes the file (an equality on all keys needs every
    * column inside its interval). This is what makes find-touched
    * CHEAP on a clustered layout: a key-local DML opens the files whose
    * range it hits, not the table.
    *
    * `boundsRow`, when given, carries precomputed per-key (min, max)
    * pairs at positions (2i, 2i+1) — what lets [[merge]] fold this
    * aggregate into the action it already runs for the cardinality
    * check instead of paying a separate job for the bounds.
    */
  private def pruneByKeyBounds(entries: Seq[(String, FileStats)],
      probe: DataFrame, keys: Seq[String],
      epochs: Seq[Map[Int, String]],
      boundsRow: Option[org.apache.spark.sql.Row] = None): Seq[String] = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val aggCols = keys.flatMap(k => Seq(
      org.apache.spark.sql.functions.min(col(k)),
      org.apache.spark.sql.functions.max(col(k))))
    val row = boundsRow.getOrElse(
      probe.agg(aggCols.head, aggCols.tail: _*).head())
    val bounds = keys.zipWithIndex.flatMap { case (k, i) =>
      if (row.isNullAt(2 * i)) Nil // no non-null probe key: no pruning
      else Seq(GreaterThanOrEqual(k, row.get(2 * i)),
        LessThanOrEqual(k, row.get(2 * i + 1)))
    }
    entries.filter { case (_, raw) =>
      // translate per-file stats to CURRENT names first: a renamed key
      // column still prunes through its old token, and a file that
      // cannot translate simply stays a candidate. A known-empty file
      // (0 rows, so no column chunks and no intervals) can never hold
      // a match.
      val st = rekeyStats(epochs, raw)
      !st.rows.contains(0L) &&
        bounds.forall(ManifestDataSource.mayMatch(st, _))
    }.map(_._1)
  }

  /** Snapshot entries (relative path, decoded stats) for the DSv2 face
    * ([[ManifestDataSource]]): current snapshot, or an explicit
    * retained version (its `versionAsOf` option). Conf-parameterized —
    * DSv2 planning threads the session Hadoop conf, not a SparkSession.
    */
  private[sources] def snapshotEntries(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      version: Option[Long]): Seq[(String, FileStats)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val v = version match {
      case Some(x) =>
        if (!vs.exists(_._1 == x)) throw
          new IllegalArgumentException(s"version $x not retained under " +
            s"$dir (have ${vs.map(_._1).mkString(",")})")
        x
      case None => headVersion(fs, root, None).map(_._1).getOrElse(throw
        new IllegalStateException(s"no main commit under $dir"))
    }
    resolveDataLines(fs, root, vs.toMap, v).map(parseEntry)
  }

  private[sources] def parseLine(line: String): (String, FileStats) =
    parseEntry(line)

  /** Columns the `graft.bloom-columns` table property asks bloom
    * tokens for (deployment dial: each costs ~172 b64 bytes per file
    * line — spent only where equality probes on a non-clustered
    * column matter).
    */
  private def bloomColsOf(meta: Map[String, String]): Set[String] =
    meta.get(s"${PropPrefix}graft.bloom-columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Encode manifest lines (path + footer stats) for files already on
    * disk — the DSv2 replace-write's commit step (same pooled footer
    * reads as [[stageFiles]]). `tuples`/`specIdx`: the DSv2 task
    * writers' tuple tokens — staged lines gain `ps:`/`pt:` exactly like
    * the V1 partitionBy stage, so pruning and key-grouping survive
    * every write face.
    */
  private[sources] def statLines(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      rels: Seq[String], branch: Option[String] = None,
      tuples: Map[String, String] = Map.empty,
      specIdx: Int = -1): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val headMeta = headMetaOf(fs, root, branch)
    val lines = stampEpoch(statLinesRaw(fs, root, rels,
      bloomColsOf(headMeta)), epochTokenOf(headMeta))
    if (specIdx < 0 || tuples.isEmpty) lines
    else lines.map { line =>
      tuples.get(pathOf(line)) match {
        case Some(tok) => s"$line\tps:$specIdx\tpt:$tok"
        case None => line
      }
    }
  }

  /** (spec index, encoded spec) of the lineage head's CURRENT
    * partition spec — what the DSv2 write factories hand their task
    * writers for tuple stamping. None when unpartitioned (or evolved
    * to `none`).
    */
  private[sources] def currentSpecOf(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      branch: Option[String]): Option[(Int, String)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (manifestVersions(fs, root).isEmpty) return None
    val specs = ManifestPartitions.decodeSpecs(
      headMetaOf(fs, root, branch).get(ManifestPartitions.SpecsKey))
    specs.lastOption.filter(_.nonEmpty).map(ts =>
      (specs.size - 1, ManifestPartitions.encodeSpec(ts)))
  }

  /** Per-subset schema-inference shortcut: the Spark-written schema
    * embedded in each footer (`org.apache.spark.sql.parquet.row.
    * metadata` — every staged file is written by Spark, so it is
    * always there) when EVERY file in the subset carries the same one;
    * None on any disagreement, missing key, unreadable footer, or a
    * subset too large to footer-scan on the driver (at 100 TB a
    * snapshot read must keep using Spark's distributed inference — the
    * driver must not do O(table) IO, guide §5; the cap covers the
    * commit-sized subsets where the per-plan inference job is pure
    * fixed cost). Nullable-forced to match what inference returns for
    * a file relation.
    */
  private val EmbeddedSchemaMaxFiles = 64
  private def embeddedSchema(spark: SparkSession, root: Path,
      rels: Seq[String]): Option[StructType] = {
    if (rels.isEmpty || rels.size > EmbeddedSchemaMaxFiles) return None
    val key = "org.apache.spark.sql.parquet.row.metadata"
    val conf = spark.sessionState.newHadoopConf()
    def one(rel: String): Option[StructType] =
      try {
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(root, rel), conf))
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(key))
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[StructType]).toOption)
        finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    val schemas: Seq[Option[StructType]] =
      if (rels.size <= 2) rels.map(one)
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(16, rels.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(rels.map(rel =>
            new java.util.concurrent.Callable[Option[StructType]] {
              override def call(): Option[StructType] = one(rel)
            }).asJava).asScala.map(_.get()).toSeq
        } finally pool.shutdown()
      }
    // file-relation outputs are always nullable (what inference
    // returns); StructType.asNullable is private[sql], so force it here
    def nn(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nn(f.dataType), nullable = true)))
      case at: org.apache.spark.sql.types.ArrayType =>
        at.copy(elementType = nn(at.elementType), containsNull = true)
      case mt: org.apache.spark.sql.types.MapType =>
        mt.copy(keyType = nn(mt.keyType), valueType = nn(mt.valueType),
          valueContainsNull = true)
      case other => other
    }
    schemas.head.filter(h => schemas.forall(_.contains(h)))
      .map(s => nn(s).asInstanceOf[StructType])
  }

  private def statLinesRaw(fs: FileSystem, root: Path,
      rels: Seq[String], bloomCols: Set[String]): Seq[String] = {
    if (rels.size <= 1) rels.map(rel => statLine(fs, root, rel, bloomCols))
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, rels.size))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(rels.map(rel =>
          new java.util.concurrent.Callable[String] {
            override def call(): String = statLine(fs, root, rel, bloomCols)
          }).asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }
  }

  /** METADATA-BENCH-ONLY commit of pre-encoded manifest lines (no
    * footer reads, no files on disk — nothing data-touching may ever
    * read such a table): what lets MetaBench measure the manifest
    * log's OWN costs (commit bytes/latency, checkpoint cadence,
    * resolution walks) at production entry counts (10⁴–10⁵ lines)
    * without staging gigabytes. Production code paths never call this.
    */
  private[graft] def publishRawLines(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      lines: Seq[String], overwrite: Boolean): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    publish(fs, root, if (overwrite) Replace else AppendFiles, lines)
  }

  /** Commit already-staged files as the table's next snapshot — the
    * DSv2 clustered-write face's job commit (append, or
    * truncate-overwrite): footer stats + epoch stamp per staged file,
    * one validated manifest rename, exactly like [[write]] minus the
    * staging (the engine's own distributed writers already landed the
    * files).
    */
  private[sources] def commitStagedFiles(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      rels: Seq[String], overwrite: Boolean,
      branch: Option[String] = None,
      tuples: Map[String, String] = Map.empty,
      specIdx: Int = -1): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    branch.foreach(checkRefName)
    val lines = statLines(conf, dir, rels, branch, tuples, specIdx)
    publish(fs, root, if (overwrite) Replace else AppendFiles, lines,
      ref = branch)
  }

  /** Publish a SQL row-level operation's result: the `touched` groups
    * (files its runtime-filtered scan planned) drop, the staged
    * replacement lines join, every untouched file rides by reference —
    * under the full OCC validation anchored at `baseV`. The conflict
    * scope is conservative: ANY interleaved added row aborts (the SQL
    * rewrite read the whole snapshot's semantics).
    */
  private[sources] def replaceGroups(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      baseV: Long, baseLines: Seq[String], touched: Set[String],
      stagedLines: Seq[String], opName: String,
      branch: Option[String] = None): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    publish(fs, root,
      RewriteFiles(baseV, baseLines, touched, opName, _ => true),
      stagedLines, ref = branch, metaGuard = noEqMetaGuard(opName, dir))
  }

  /** Create an EMPTY table with a declared schema — the catalog's
    * CREATE TABLE: version 1 carries no files and a `#schema=<json>`
    * meta line, so the SQL face can plan (and inserts can resolve)
    * before the first row lands. Fails if the table already exists.
    */
  private[sources] def createEmpty(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      schemaJson: String,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    require(manifestVersions(fs, root).isEmpty,
      s"a manifested table already exists at $dir")
    // epoch 0: field ids 1..n in declared order (nested struct leaves
    // included, see leafIds) — the anchor every later RENAME/DROP/ADD
    // evolves from
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val epoch0 = leafIds(schema)
    publish(fs, root, Replace, Nil,
      Map(SchemaKey -> schemaJson, OpKey -> "create",
        FieldEpochsKey -> encodeEpochs(Seq(epoch0))) ++ extraMeta)
  }

  /** Record a new declared schema (the catalog's ALTER TABLE ADD
    * COLUMNS): one no-file commit that carries every current entry by
    * reference and swaps the `#schema=` meta — the declared schema is
    * versioned exactly like data.
    *
    * `expectEpochs` is the ALTER's OCC base: the epoch history the new
    * schema was COMPUTED against. Validated per CAS attempt against
    * the head's current epochs — two concurrent ALTERs each basing on
    * the same history would otherwise both commit, the second's meta
    * override silently dropping the first's epoch append (the lost
    * update on the versioned schema). The loser aborts loudly and must
    * recompute against the new schema.
    */
  private[sources] def updateSchemaMeta(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      schemaJson: String,
      fieldEpochs: Option[Seq[Map[Int, String]]] = None,
      expectEpochs: Option[Seq[Map[Int, String]]] = None,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val root = new Path(dir)
    val guard: Map[String, String] => Unit = prevMeta =>
      expectEpochs.foreach { base =>
        val cur = epochsOf(prevMeta)
        if (cur != base) throw new ConcurrentWriteException(
          s"ALTER TABLE of $dir computed against a ${base.size}-epoch " +
            s"schema history, but the head now carries ${cur.size} " +
            "epochs — a concurrent ALTER landed in between; re-run " +
            "against the current schema")
      }
    publish(root.getFileSystem(conf), root, AppendFiles, Nil,
      Map(SchemaKey -> schemaJson, OpKey -> "alter") ++
        fieldEpochs.map(es => FieldEpochsKey -> encodeEpochs(es)) ++
        extraMeta,
      metaGuard = guard)
  }

  /** Commit already-staged files as an EXACTLY-ONCE streaming batch —
    * the connector-native twin of [[appendBatch]] (same txn-marker
    * discipline, same atomic rename), for the DSv2 streaming sink
    * whose tasks wrote the files themselves. Returns false (commits
    * NOTHING) when `batchId` is ≤ the recorded marker: the engine's
    * epoch replay becomes a provable no-op, files orphaned for vacuum.
    */
  private[sources] def appendStagedBatch(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      rels: Seq[String], batchId: Long,
      tuples: Map[String, String] = Map.empty,
      specIdx: Int = -1): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val last = snapshotMeta(conf, dir).get(TxnKey)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (last.exists(_ >= batchId)) return false
    val lines = statLines(conf, dir, rels, None, tuples, specIdx)
    publish(fs, root, AppendFiles, lines, Map(TxnKey -> batchId.toString))
    true
  }

  /** Table properties ride the manifest meta under `prop.` keys —
    * carried forward like the txn marker, so a property survives every
    * commit and vacuum's history collapse. The one the engine reads
    * itself: `graft.dv-max-fraction` (the merge-on-read threshold SQL
    * DELETEs apply — Delta's enableDeletionVectors, as a dial).
    */
  private[sources] val PropPrefix = "prop."

  private[sources] def tableProperties(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String): Map[String, String] =
    snapshotMeta(conf, dir).collect {
      case (k, v) if k.startsWith(PropPrefix) =>
        k.stripPrefix(PropPrefix) -> v
    }

  /** `expectHeadVersion`: commit only if the MAIN head is still that
    * version — the ADD CONSTRAINT discipline: its validation scan
    * proved the predicate over snapshot v, and a concurrent write
    * landing between the scan and this commit would publish a
    * constraint reported enforced+VALID over rows it never checked.
    * The pin runs per CAS attempt inside the commit lock, so the
    * race window is closed, not narrowed.
    */
  private[graft] def setTableProperties(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      props: Map[String, String],
      expectHeadVersion: Option[Long] = None): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val guard: Map[String, String] => Unit = _ =>
      expectHeadVersion.foreach { expected =>
        val cur = headVersion(fs, root, None).map(_._1).getOrElse(0L)
        if (cur != expected) throw new ConcurrentWriteException(
          s"set-properties of $dir validated against v$expected, but " +
            s"the head is now v$cur — a concurrent commit landed in " +
            "between; re-run (ADD CONSTRAINT re-validates)")
      }
    publish(fs, root, AppendFiles, Nil,
      props.map { case (k, v) => s"$PropPrefix$k" -> v } +
        (OpKey -> "set-properties"),
      metaGuard = guard)
  }

  /** `#key=value` metadata of the latest snapshot — or of a PINNED
    * retained version: the declared schema (and every other meta key)
    * is versioned exactly like data, so a `VERSION AS OF` read must
    * resolve the schema THAT snapshot declared, not the current one
    * (an ALTER-added column must not leak backwards, nor vanish from a
    * versioned read after the ALTER). Empty map when no manifest
    * exists (current) — a pinned version that is not retained throws,
    * like every other versioned resolver.
    */
  private[sources] def snapshotMeta(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      version: Option[Long] = None): Map[String, String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val vs = manifestVersions(fs, root)
    version match {
      case Some(v) =>
        val p = vs.find(_._1 == v).map(_._2).getOrElse(throw
          new IllegalArgumentException(s"version $v not retained under " +
            s"$dir (have ${vs.map(_._1).mkString(",")})"))
        readMeta(fs, p)
      case None =>
        headVersion(fs, root, None).map(h => readMeta(fs, h._2))
          .getOrElse(Map.empty)
    }
  }

  /** A version's commit time: the `#ts=` meta its commit stamped
    * (self-contained — survives clock skew, backups, object-store
    * copies), with the manifest mtime as the fallback for pre-`#ts=`
    * history. The same clock [[history]] reports.
    */
  private def commitMs(fs: FileSystem, p: Path): Long =
    readMeta(fs, p).get(TsKey)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(fs.getFileStatus(p).getModificationTime)

  /** The latest MAIN version committed at or before `tsMillis` — time
    * travel by TIMESTAMP over the in-manifest commit clock. Branch
    * staging commits are NOT main history: a timestamp read must never
    * surface an unaudited snapshot (explicit numeric `VERSION AS OF`
    * can still inspect any retained version, branch commits included).
    * Errors when the timestamp precedes the oldest retained commit.
    */
  private[sources] def versionAtTimestamp(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      tsMillis: Long): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val at = vs.filter { case (_, p) =>
      val m = readMeta(fs, p)
      !m.contains(BranchKey) &&
        m.get(TsKey).flatMap(x => scala.util.Try(x.toLong).toOption)
          .getOrElse(fs.getFileStatus(p).getModificationTime) <= tsMillis
    }
    require(at.nonEmpty, s"no main version of $dir at or before " +
      s"$tsMillis (oldest retained commit: ${commitMs(fs, vs.head._2)})")
    at.last._1
  }

  /** Head MAIN version under `dir` (conf-parameterized) — the pin the
    * DSv2 faces resolve ONCE and then pass to both [[snapshotEntries]]
    * and [[snapshotMeta]], so the entry list and the epoch history a
    * scan (or a pushed-down aggregate) pairs up always describe the
    * SAME snapshot: resolving them in two independent head reads lets
    * a commit landing in between (a RENAME + INSERT) pair stale epochs
    * with newer entries, and a pushed MIN/MAX has no row-level recheck
    * to catch the mis-rekeyed stat.
    */
  private[sources] def mainHeadVersion(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String): Option[Long] = {
    val root = new Path(dir)
    headVersion(root.getFileSystem(conf), root, None).map(_._1)
  }

  /** Current version under `dir`, 0 when no manifest exists —
    * conf-parameterized for the DSv2 streaming source's offset poll.
    */
  private[sources] def currentVersionConf(
      conf: org.apache.hadoop.conf.Configuration, dir: String): Long = {
    val root = new Path(dir)
    manifestVersions(root.getFileSystem(conf), root)
      .lastOption.map(_._1).getOrElse(0L)
  }

  /** Entries of retained version `v`; version 0 (before any commit)
    * is the empty snapshot. Throws past the retention horizon — a
    * stream that fell behind vacuum must fail loudly, not skip.
    */
  private[sources] def entriesAtVersion(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      v: Long): Seq[(String, FileStats)] = {
    if (v == 0L) return Nil
    val root = new Path(dir)
    linesAt(root.getFileSystem(conf), root, v).map(parseEntry)
  }

  /** Test/inspection face of the find-touched pruning: the candidate
    * file paths a keyed DML against the CURRENT snapshot would open.
    */
  private[graft] def keyCandidates(spark: SparkSession, dir: String,
      probe: DataFrame, keys: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    val (hv, lines) = currentSnapshot(fs, root)
    pruneByKeyBounds(lines.map(parseEntry), probe, keys,
      schemaCtxAt(fs, root, Some(hv)).map(_._2).getOrElse(Nil))
  }

  /** Stage `df` in a fresh immutable dir and return the staged files'
    * MANIFEST LINES — path + footer-derived stat tokens (one footer
    * read per file, no data IO; see [[statLine]]).
    *
    * With a declared PARTITION SPEC (see [[ManifestPartitions]]) the
    * stage is tuple-local: the transforms' derived columns partition
    * the write (one file per tuple per commit — `partitionBy` drops
    * the derived columns, so data files keep the full schema), the
    * nested Hive-style dirs flatten back into the stage dir by rename
    * (the DV/`__file` machinery's two-component path contract stays
    * intact), and each line gains `ps:<spec>`/`pt:<tuple>` tokens —
    * the manifest-level pruning handle. EVERY staging path rides this:
    * appends, branch writes, streaming batches, and DML/compaction
    * rewrites all land tuple-local in the current spec, exactly
    * Iceberg's write contract. A spec whose source column is absent
    * from `df` (e.g. renamed since declaration) declines soundly to a
    * flat stage with no tokens.
    */
  private def stageFiles(df: DataFrame, root: Path,
      fs: FileSystem, branch: Option[String] = None): Seq[String] = {
    val stage = s"data-${java.util.UUID.randomUUID()}"
    val stagePath = new Path(root, stage)
    val headMeta = headMetaOf(fs, root, branch)
    val epochTok = epochTokenOf(headMeta)
    val blooms = bloomColsOf(headMeta)
    val specs = ManifestPartitions.decodeSpecs(
      headMeta.get(ManifestPartitions.SpecsKey))
    val curSpec = specs.lastOption.getOrElse(Nil)
    if (curSpec.isEmpty || !curSpec.forall(t =>
        df.columns.contains(t.colName))) {
      df.write.parquet(stagePath.toString)
      val rels = fs.listStatus(stagePath).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => s"$stage/${s.getPath.getName}").sorted
      // the footer reads are independent driver-side I/O — a small fixed
      // pool keeps the per-commit constant at ~max(footer) instead of
      // Σ(footer): sequential opens would tax every commit by hundreds
      // of ms once a job stages dozens of files (Hadoop FileSystem
      // handles are thread-safe)
      stampEpoch(statLinesRaw(fs, root, rels, blooms), epochTok)
    } else {
      import org.apache.spark.sql.functions.{col => c}
      val names = curSpec.indices.map(i => s"__gp$i")
      require(names.forall(n => !df.columns.contains(n)),
        s"partitioned staging derives ${names.mkString(",")} — a data " +
          "column collides")
      val withP = curSpec.zip(names).foldLeft(df) { case (d, (t, n)) =>
        d.withColumn(n, ManifestPartitions.derivedExpr(t, df))
      }
      // one shuffle on the tuple co-locates each partition's rows, so
      // the commit lands |tuples-in-commit| files, not |tasks|×|tuples|
      // (the small-file explosion partitionBy alone produces)
      withP.repartition(names.map(c(_)): _*)
        .write.partitionBy(names: _*).parquet(stagePath.toString)
      // flatten `stage/__gp0=v/…/part-*.parquet` → `stage/pI-part-…`:
      // the tuple is read OFF THE DIR NAMES (zero data IO) and then
      // lives only in the manifest tokens; flat two-component relative
      // paths keep the DV/`__file` contract
      def walk(p: Path, vals: Seq[String]): Seq[(Path, Seq[String])] =
        fs.listStatus(p).toSeq.flatMap { s =>
          val nm = s.getPath.getName
          if (s.isDirectory) {
            val i = nm.indexOf('=')
            walk(s.getPath,
              if (i >= 0) vals :+ nm.substring(i + 1) else vals)
          } else if (s.isFile && nm.endsWith(".parquet"))
            Seq((s.getPath, vals))
          else Nil
        }
      val nested = walk(stagePath, Nil).sortBy(_._1.toString)
      val entriesP = nested.zipWithIndex.map { case ((p, vals), i) =>
        require(vals.size == curSpec.size,
          s"staged file $p carries ${vals.size} partition segments, " +
            s"spec has ${curSpec.size}")
        val flat = new Path(stagePath, s"p$i-${p.getName}")
        require(fs.rename(p, flat), s"flatten rename $p failed")
        (s"$stage/${flat.getName}",
          ManifestPartitions.tupleToken(curSpec, vals, df.schema))
      }
      // the emptied tuple dirs go; files now live flat in the stage
      fs.listStatus(stagePath).toSeq.filter(_.isDirectory)
        .foreach(d => fs.delete(d.getPath, true))
      val rels = entriesP.map(_._1)
      val tokByRel = entriesP.toMap
      val specIdx = specs.size - 1
      stampEpoch(statLinesRaw(fs, root, rels, blooms), epochTok).map { line =>
        val rel = pathOf(line)
        s"$line\tps:$specIdx\tpt:${tokByRel(rel)}"
      }
    }
  }

  /** Declare (or EVOLVE) the table's partition spec — one metadata
    * commit appending to the `#partitionspecs=` history: files written
    * under older specs keep their write-time layout and keep pruning
    * under it (Iceberg partition evolution); only NEW writes land in
    * the new spec. `spec` uses the user syntax of
    * [[ManifestPartitions.parseUserSpec]] (`"days(d),bucket(8,k)"`,
    * `"none"` to stop partitioning). Concurrent spec changes
    * serialize via the same meta guard as ALTER.
    */
  def setPartitionSpec(spark: SparkSession, dir: String,
      spec: String): Long = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    val schema = ManifestDataSource.schemaOf(dir, None)
    val ts = ManifestPartitions.parseUserSpec(spec, schema)
    val base = ManifestPartitions.decodeSpecs(
      snapshotMeta(conf, dir).get(ManifestPartitions.SpecsKey))
    val guard: Map[String, String] => Unit = prevMeta => {
      val cur = ManifestPartitions.decodeSpecs(
        prevMeta.get(ManifestPartitions.SpecsKey))
      if (cur != base) throw new ConcurrentWriteException(
        s"setPartitionSpec of $dir computed against a ${base.size}-spec " +
          s"history, but the head now carries ${cur.size} — a " +
          "concurrent spec change landed in between; re-run")
    }
    publish(fs, root, AppendFiles, Nil,
      Map(ManifestPartitions.SpecsKey ->
        ManifestPartitions.encodeSpecs(base :+ ts),
        OpKey -> "set-partition-spec"),
      metaGuard = guard)
  }

  /** Publish `df` as the table's next snapshot. `overwrite = false`
    * appends: the new snapshot = previous files ++ staged files. The
    * table only changes at the final manifest rename — a reader sees
    * the old snapshot or the new one, never a mixture, regardless of
    * how many files/partitions the job wrote.
    */
  def write(df: DataFrame, dir: String, overwrite: Boolean = true,
      branch: Option[String] = None): Long = {
    val spark = df.sparkSession
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(root)
    branch.foreach(checkRefName)
    // IDENTITY / GENERATED columns (declared tables only): incoming
    // NULL cells mint/compute before staging — see writeWithFills
    val declared = headMetaOf(fs, root, branch).get(SchemaKey)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
    val needsFill = declared.exists(s => s.fields.exists(f =>
      df.columns.contains(f.name) &&
        (org.apache.spark.sql.catalyst.util.IdentityColumn
          .isIdentityColumn(f) ||
          org.apache.spark.sql.catalyst.util.GeneratedColumn
            .isGeneratedColumn(f))))
    if (needsFill)
      return writeWithFills(df, dir, declared.get, overwrite, branch)
    val staged = stageFiles(df, root, fs, branch)
    // the prior file list is resolved INSIDE publish, per CAS attempt —
    // an append racing another append rebases onto the winner's files
    // instead of silently dropping them
    publish(fs, root, if (overwrite) Replace else AppendFiles, staged,
      ref = branch)
  }

  /** Identity-hwm meta key for one column (hex-encoded name, the
    * manifest's delimiter-safe discipline): the NEXT unused step
    * index k — the column's next minted value is `start + k·step`.
    */
  private def idHwmKey(col: String): String =
    "idhwm." + col.getBytes(StandardCharsets.UTF_8)
      .map("%02x".format(_)).mkString

  /** The batch append path for tables with IDENTITY / GENERATED
    * columns (the Delta model — the engine validates the DDL, the
    * connector enforces the values):
    *
    *  - GENERATED ALWAYS AS (expr): a NULL incoming cell computes the
    *    expression; a non-NULL cell must MATCH it (raise_error inline
    *    in the write projection — no extra pass over the batch).
    *  - IDENTITY: NULL cells mint `start + k·step` from the table's
    *    OCC-GUARDED high-water mark (`#idhwm.<col>=` meta): the fill
    *    assigns from the hwm read at staging, per-row offsets via
    *    monotonically_increasing_id (unique within the batch), and
    *    the commit both ADVANCES the hwm (to just past the staged
    *    files' own max — read from the staged stat intervals, zero
    *    extra IO) and PINS the hwm it assigned from (metaGuard): a
    *    concurrent identity write cannot double-assign — the loser
    *    re-stages from the winner's hwm. GENERATED ALWAYS AS IDENTITY
    *    refuses explicit non-NULL values; BY DEFAULT keeps them
    *    (uniqueness against explicit values is the user's contract,
    *    as in every SQL engine).
    *
    * Scope: minting rides THIS append path (SQL INSERT on unclustered
    * tables, the object API, appendBatch); engine-planned MERGE
    * inserts must supply identity values explicitly.
    */
  private def writeWithFills(df: DataFrame, dir: String,
      declared: StructType, overwrite: Boolean,
      branch: Option[String]): Long = {
    import org.apache.spark.sql.catalyst.util.{GeneratedColumn,
      IdentityColumn}
    import org.apache.spark.sql.functions.{expr, monotonically_increasing_id,
      raise_error, concat_ws}
    val spark = df.sparkSession
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val gen = declared.fields.toSeq.filter(f =>
      df.columns.contains(f.name) &&
        GeneratedColumn.isGeneratedColumn(f))
    val ids = declared.fields.toSeq.filter(f =>
      df.columns.contains(f.name) && IdentityColumn.isIdentityColumn(f))
    val withGen = gen.foldLeft(df) { (d, f) =>
      val genExpr = expr(GeneratedColumn.getGenerationExpression(f).get)
        .cast(f.dataType)
      val cur = col(f.name)
      d.withColumn(f.name,
        when(cur.isNotNull && !(cur <=> genExpr),
          raise_error(concat_ws("", lit(
            s"GENERATED ALWAYS AS column ${f.name}: provided value "),
            cur.cast("string"),
            lit(" does not match the generation expression")))
            .cast(f.dataType))
          .otherwise(coalesce(cur, genExpr)))
    }
    if (ids.isEmpty) {
      val staged = stageFiles(withGen, root, fs, branch)
      return publish(fs, root, if (overwrite) Replace else AppendFiles,
        staged, ref = branch)
    }
    var attempt = 0
    while (attempt < 8) {
      val headMeta = headMetaOf(fs, root, branch)
      val hwms: Map[String, Long] = ids.map(f => f.name ->
        headMeta.get(idHwmKey(f.name)).flatMap(s =>
          scala.util.Try(s.toLong).toOption).getOrElse(0L)).toMap
      val filled = ids.foldLeft(withGen) { (d, f) =>
        val m = f.metadata
        val start =
          if (m.contains(IdentityColumn.IDENTITY_INFO_START))
            m.getLong(IdentityColumn.IDENTITY_INFO_START) else 1L
        val step =
          if (m.contains(IdentityColumn.IDENTITY_INFO_STEP))
            m.getLong(IdentityColumn.IDENTITY_INFO_STEP) else 1L
        val allowExplicit =
          m.contains(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT) &&
            m.getBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
        val mint = (lit(start) +
          (lit(hwms(f.name)) + monotonically_increasing_id()) *
            lit(step)).cast(f.dataType)
        val cur = col(f.name)
        d.withColumn(f.name,
          if (allowExplicit) coalesce(cur, mint)
          else when(cur.isNotNull, raise_error(lit(
            s"IDENTITY column ${f.name} is GENERATED ALWAYS — remove " +
              "it from the insert column list")).cast(f.dataType))
            .otherwise(mint))
      }
      val staged = stageFiles(filled, root, fs, branch)
      // next hwm from the STAGED files' own max (the stat intervals —
      // zero extra IO); a stats gap falls back to a generous block
      // (mono ids stay under 2^44 for ≤2^11 tasks × 2^33 rows)
      val stagedStats = staged.map(parseEntry)
      val nextHwm: Map[String, Long] = ids.map { f =>
        val m = f.metadata
        val start =
          if (m.contains(IdentityColumn.IDENTITY_INFO_START))
            m.getLong(IdentityColumn.IDENTITY_INFO_START) else 1L
        val step =
          if (m.contains(IdentityColumn.IDENTITY_INFO_STEP))
            m.getLong(IdentityColumn.IDENTITY_INFO_STEP) else 1L
        val his = stagedStats.flatMap(_._2.longs.get(f.name))
          .map(b => if (step >= 0) b._2 else b._1)
        val k =
          if (his.isEmpty) hwms(f.name) + (1L << 44)
          else his.map(v => (v - start) / step + 1L).max
            .max(hwms(f.name))
        f.name -> k
      }.toMap
      val guard: Map[String, String] => Unit = prevMeta =>
        ids.foreach { f =>
          val cur = prevMeta.get(idHwmKey(f.name)).flatMap(s =>
            scala.util.Try(s.toLong).toOption).getOrElse(0L)
          if (cur != hwms(f.name)) throw new ConcurrentWriteException(
            s"identity fill of ${f.name} assigned from hwm " +
              s"${hwms(f.name)}, but the head now carries $cur — a " +
              "concurrent identity write landed; re-minting")
        }
      try {
        return publish(fs, root,
          if (overwrite) Replace else AppendFiles, staged,
          meta = nextHwm.map { case (c, k) => idHwmKey(c) -> k.toString },
          ref = branch, metaGuard = guard)
      } catch {
        case _: ConcurrentWriteException =>
          // the loser's staged files become vacuum-visible orphans;
          // re-read the winner's hwm and re-mint
          attempt += 1
      }
    }
    throw new ConcurrentWriteException(
      s"identity fill of $dir lost the hwm race 8 times")
  }

  /** Read the current snapshot — by manifest, never by listing: orphan
    * files (aborted jobs, in-flight stages, superseded snapshots) are
    * invisible by construction.
    *
    * `mergeSchema = true` is the SCHEMA-EVOLUTION read: snapshots whose
    * appends widened the schema (a column added mid-history) unify to
    * the superset schema with absent cells NULL — parquet's by-name
    * field resolution does the row-level work; the cost is one footer
    * read per file at planning (|files|, manifest-sized — why it is
    * opt-in rather than the default).
    */
  def read(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (hv, lines) = currentSnapshot(fs, root)
    require(lines.nonEmpty, s"manifested table $dir is empty — " +
      "schemaless empty reads are not supported")
    // schema context at the ANCHOR version: the newest manifest can be
    // a staged branch commit whose (carried) epochs predate a main
    // ALTER — the main read must resolve through main's own meta
    val eqs = eqDeletesAt(spark.sessionState.newHadoopConf(), dir)
    if (eqs.isEmpty)
      readLive(spark, root, lines.map(parseEntry), mergeSchema,
        schemaCtx = schemaCtxAt(fs, root, Some(hv)))
    else
      // pending EQ-DELETES anti-join at read (scoped per delete) —
      // the read-side half of the O(batch)-write contract
      applyEqDeletes(spark, dir,
        readLive(spark, root, lines.map(parseEntry), mergeSchema,
          withMeta = true, schemaCtx = schemaCtxAt(fs, root, Some(hv))),
        eqs).drop("__file", "__pos")
  }

  /** Current-snapshot read with STABLE ROW IDS — row lineage (Delta
    * row tracking / Iceberg v3 row lineage): every row carries
    * `_row_id`, assigned at first commit (the file's version-scoped
    * `rb:` base + physical position) and — with the
    * `graft.row-lineage` table property set — SURVIVING rewrites:
    * copy-on-write DML, compaction, and engine-planned SQL
    * UPDATE/MERGE re-emit untouched (and, through the SQL face,
    * updated) rows with their ids materialized in a hidden
    * `__graft_row_id` column, so `_row_id = coalesce(materialized,
    * base + pos)` is stable identity across file movement — the
    * substrate for audit trails and non-additive incremental MV
    * maintenance. Merge-on-read deletes and RESTORE preserve ids for
    * free (bytes and lines don't move). Without the property, ids are
    * stable only until a rewrite touches the row's file (zero overhead
    * on the DML hot path — the Delta opt-in discipline). Rows of files
    * with no `n:` footer count carry a NULL id (stats are optional, so
    * is provenance).
    */
  def readWithRowIds(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (hv, lines) = currentSnapshot(fs, root)
    require(lines.nonEmpty, s"manifested table $dir is empty — " +
      "schemaless empty reads are not supported")
    withRowIdColumn(spark, root, lines.map(parseEntry),
      schemaCtxAt(fs, root, Some(hv))).withColumnRenamed(RowIdCol, "_row_id")
  }

  /** Live rows + the hidden materialized-id column resolved per row:
    * `coalesce(__rowid, rb(file) + pos)` via one broadcast |files|-row
    * lookup — the shared machinery of [[readWithRowIds]] and the
    * lineage-carrying rewrites (which stage its output so the next
    * file generation keeps the ids physically).
    */
  private def withRowIdColumn(spark: SparkSession, root: Path,
      entries: Seq[(String, FileStats)],
      ctx: Option[(StructType, Seq[Map[Int, String]])]): DataFrame = {
    import spark.implicits._
    val live = readLive(spark, root, entries, withMeta = true,
      schemaCtx = ctx, rowId = true)
    val rbMap = entries
      .map(e => (e._1, e._2.rowIdBase)).toDF("__file", "__rb")
    live.join(org.apache.spark.sql.functions.broadcast(rbMap),
        Seq("__file"), "left")
      .withColumn(RowIdCol,
        coalesce(col("__rowid"), col("__rb") + col("__pos")))
      .drop("__file", "__pos", "__rowid", "__rb")
  }

  /** The rewrite-side read: with row lineage ON the surviving rows ride
    * with their ids in the hidden column (staged physically by the
    * caller → `rim:` files); OFF = the plain read, zero extra work.
    */
  private def readForRewrite(spark: SparkSession, root: Path,
      entries: Seq[(String, FileStats)],
      ctx: Option[(StructType, Seq[Map[Int, String]])],
      lineage: Boolean): DataFrame =
    if (!lineage) readLive(spark, root, entries, schemaCtx = ctx)
    else withRowIdColumn(spark, root, entries, ctx)

  private def lineageOn(meta: Map[String, String]): Boolean =
    meta.get(s"$PropPrefix$RowLineageProp").contains("true")

  /** Current-snapshot read pruned by the MANIFEST's per-file stats:
    * plans only the files whose (lo,hi) interval for `column`
    * intersects [lo, hi] — the skip decision costs zero data IO (the
    * q131 construction, served from the manifest instead of a footer
    * pass), and the residual predicate still applies row-level, so a
    * file without stats is read, never wrongly skipped. On a
    * [[compactClustered]] layout this is the selective path: a narrow
    * band opens a handful of files out of thousands.
    */
  def readRange(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (hv, lines) = currentSnapshot(fs, root)
    require(lines.nonEmpty, s"manifested table $dir is empty — " +
      "schemaless empty reads are not supported")
    val ctx = schemaCtxAt(fs, root, Some(hv))
    val epochs = ctx.map(_._2).getOrElse(Nil)
    val keep = lines.map(parseEntry).filter { case (_, st0) =>
      val st = rekeyStats(epochs, st0)
      !st.rows.contains(0L) && (st.longs.get(column) match {
        case Some((flo, fhi)) => fhi >= lo && flo <= hi
        case None => true // no stats: always a candidate
      })
    }
    val cond = col(column) >= lo && col(column) <= hi
    if (keep.isEmpty)
      readLive(spark, root, lines.map(parseEntry), schemaCtx = ctx)
        .filter(cond).limit(0)
    else readLive(spark, root, keep, schemaCtx = ctx).filter(cond)
  }

  /** The eq-absorbing rewrite read: entries grouped by WHICH pending
    * eq-deletes apply to them (scope membership), each group
    * anti-joined against exactly its deletes — the masked rows vanish
    * physically, and the compaction commit TOMBSTONES the absorbed
    * meta keys. Returns (rows to rewrite, tombstones).
    */
  private def eqAbsorbedRewriteRead(spark: SparkSession, dir: String,
      b: CompactBase): (DataFrame, Map[String, String]) = {
    val ctx = schemaCtxOf(b.meta)
    val lineage = lineageOn(b.meta)
    if (b.pending.isEmpty)
      return (readForRewrite(spark, b.root, b.entries, ctx, lineage),
        Map.empty)
    val conf = spark.sessionState.newHadoopConf()
    val scopes = b.pending.map(e => e -> eqAppliesTo(conf, dir, e.baseV))
    val df = b.entries
      .groupBy(e => scopes.filter(_._2(e._1)).map(_._1.seq).toSet)
      .toSeq.sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (sig, es) =>
        val d = readForRewrite(spark, b.root, es, ctx, lineage)
        scopes.filter(s => sig(s._1.seq)).foldLeft(d) { (acc, s) =>
          val keys = spark.read
            .parquet(new Path(b.root, s._1.sidecar).toString)
            .select(s._1.keyCols.map(col): _*).distinct()
          acc.join(keys, s._1.keyCols, "left_anti")
        }
      }.reduce(_.unionByName(_))
    (df, b.pending.map(e => s"$EqDelPrefix${e.seq}" -> "").toMap)
  }

  /** A compaction's base snapshot, resolved once: version, entry lines
    * and parsed entries, and the ONE meta read of that version that the
    * pending eq-deletes, the schema context and the lineage flag all
    * derive from.
    */
  private final case class CompactBase(root: Path, fs: FileSystem,
      baseV: Long, baseLines: Seq[String], meta: Map[String, String]) {
    val entries: Seq[(String, FileStats)] = baseLines.map(parseEntry)
    val pending: Seq[EqDelete] = eqDeletesOf(meta)
  }

  private def compactBase(spark: SparkSession, dir: String): CompactBase = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (baseV, hp, baseLines) = lineageSnapshot(fs, root, None)
    CompactBase(root, fs, baseV, baseLines, readMeta(fs, hp))
  }

  /** ATOMIC compaction: rewrite the current snapshot into
    * ceil(bytes/targetFileBytes) files staged in a fresh dir, then one
    * manifest rename swaps the whole table, so no reader sees a
    * half-swapped partition directory. A no-op (already compact)
    * commits nothing. Old files stay until [[vacuum]] so readers
    * mid-scan on the previous snapshot finish cleanly.
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val b = compactBase(spark, dir)
    val needed = filesNeeded(b.fs, b.root, b.baseLines, targetFileBytes)
    // a DV'd file always warrants the rewrite: compaction reads
    // THROUGH the deletion vectors and so materializes them away —
    // and PENDING EQ-DELETES likewise force it (compaction is where
    // they get absorbed; the masks turn physical here)
    if (b.baseLines.size <= needed && b.entries.forall(_._2.dv.isEmpty) &&
        b.pending.isEmpty)
      return b.baseV
    // deletes-only CDC bootstrap: pending eq-deletes over a snapshot
    // with ZERO entries have nothing to mask — absorb them as a
    // metadata-only commit (the rewrite read would have nothing to
    // union) so the tombstones release instead of wedging forever
    if (b.entries.isEmpty) {
      val absorbed = b.pending.map(e => s"$EqDelPrefix${e.seq}").toSet
      return publish(b.fs, b.root,
        RewriteFiles(b.baseV, b.baseLines, Set.empty, "compact", _ => false),
        Nil, metaDrop = absorbed,
        metaGuard = eqAbsorbGuard("compact", dir, absorbed))
    }
    compactRewrite(spark, dir, "compact", b)(_.repartition(needed))
  }

  /** ceil(bytes / targetFileBytes) output files (at least one) for
    * `lines`' data files.
    */
  private def filesNeeded(fs: FileSystem, root: Path, lines: Seq[String],
      targetFileBytes: Long): Int = {
    val bytes = lines.map(l =>
      fs.getFileStatus(new Path(root, pathOf(l))).getLen).sum
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
  }

  /** Per-CAS-attempt guard of an eq-absorbing compaction: an eq-delete
    * landing AFTER the rewrite's read scoped itself to files the
    * rewrite removes — its masks would silently die with them, so the
    * absorb aborts and re-runs instead. `absorbed` are the meta keys
    * the commit drops.
    */
  private def eqAbsorbGuard(op: String, dir: String, absorbed: Set[String])
      : Map[String, String] => Unit = prevMeta => {
    val now = eqDeletesOf(prevMeta).map(e => s"$EqDelPrefix${e.seq}").toSet
    if (now != absorbed) throw new ConcurrentWriteException(
      s"$op of $dir absorbed eq-deletes $absorbed, but the head now " +
        s"carries $now — a concurrent eq commit landed; re-run")
  }

  /** The rewrite [[compact]] and [[compactClustered]] share: the WHOLE
    * base snapshot, read through its deletion vectors and pending
    * eq-deletes, laid out by `layout` and published as one
    * row-preserving rewrite. An interleaved append rebases (its files
    * ride uncompacted), an interleaved DML conflicts (it removed files
    * this rewrite claims), an interleaved eq-delete aborts
    * ([[eqAbsorbGuard]]).
    */
  private def compactRewrite(spark: SparkSession, dir: String, op: String,
      b: CompactBase)(layout: DataFrame => DataFrame): Long = {
    val (rows, eqTombstones) = eqAbsorbedRewriteRead(spark, dir, b)
    val staged = stageFiles(layout(rows), b.root, b.fs)
    publish(b.fs, b.root,
      RewriteFiles(b.baseV, b.baseLines, b.baseLines.map(pathOf).toSet, op,
        _ => false),
      staged, metaDrop = eqTombstones.keySet,
      metaGuard = eqAbsorbGuard(op, dir, eqTombstones.keySet))
  }

  // ---- row lineage constants ----------------------------------------------
  // base = version << 38 + offset: unique without coordination (the
  // version is the CAS), 2^38 ≈ 275 G rows per commit, 2^25 ≈ 33 M
  // versions before the id space wraps — both far beyond any table
  // this log could carry anyway (the manifest is |files| driver lines)
  private val RowIdVersionShift = 38
  /** The hidden physical column a rewrite materializes carried row ids
    * into — never part of any declared or served schema.
    */
  private[sources] val RowIdCol = "__graft_row_id"
  /** The table property gating id CARRY through rewrites (Delta's
    * enableRowTracking): without it rewrites re-mint (zero overhead on
    * the DML hot path); with it survivors keep their ids through
    * CoW/compaction and engine DML preserves them per row.
    */
  private[sources] val RowLineageProp = "graft.row-lineage"

  private val TxnKey = "txn-batch"
  private[sources] val OpKey = "op"
  // lineage parent of EVERY commit (the snapshot it was committed
  // against) — what makes history a TREE once branches exist
  private[sources] val BaseKey = "base"
  // marks a DELTA-encoded manifest (value = the version its +/− lines
  // apply to; full manifests carry no delta key)
  private val DeltaKey = "delta"
  // the branch a commit belongs to; absent = main. Per-commit, never
  // carried — main readers resolve the newest UNBRANCHED version.
  private[sources] val BranchKey = "branch"
  private val DroppedKey = "branch-dropped"
  // stamped on a PROMOTE commit (main lineage): the named branch is
  // retired atomically with the publish — its job is done, its staged
  // files are now main's, and a later writeBranch with the same name
  // forks FRESH from the current main head
  private val PromotedKey = "promoted-branch"
  private val TsKey = "ts"
  private[sources] val SchemaKey = "schema"
  private val CheckpointIntervalProp = "graft.checkpoint-interval"

  /** Commit history — the `DESCRIBE HISTORY` face: one row per
    * RETAINED version with its commit time (the in-manifest `#ts=`
    * clock; mtime fallback for pre-`#ts=` history), the
    * operation that produced it (recorded per commit, never carried),
    * file count, and deletion-vector count. Driver-side manifest
    * reads only — |versions| × |files| lines, no data IO.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    // memoized tree fold: each version resolves against its OWN
    // lineage parent (main and branch commits interleave in the global
    // sequence) — O(versions) small reads total
    val linesOf = lineageResolver(fs, root, vs.toMap)
    val rows = vs.map { case (v, p) =>
      val meta = readMeta(fs, p)
      val entries = linesOf(v).map(parseEntry)
      (v, commitMs(fs, p), meta.getOrElse(OpKey, "unknown"),
        meta.getOrElse(BranchKey, ""),
        entries.size.toLong, entries.count(_._2.dv.isDefined).toLong)
    }
    rows.toDF("version", "commit_ms", "op", "branch", "n_files", "n_dv")
  }

  /** Per-retained-version commit facts — the metadata tables' feed:
    * (version, commit ms, the commit's RAW per-commit meta, resolved
    * entry list). Driver-side manifest reads only: the memoized
    * lineage fold makes the whole log O(versions) small reads, and
    * every row is |files|-bounded — the same boundedness argument as
    * [[history]].
    */
  private[sources] def commitLog(
      conf: org.apache.hadoop.conf.Configuration, dir: String)
      : Seq[(Long, Long, Map[String, String], Seq[(String, FileStats)])] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val linesOf = lineageResolver(fs, root, vs.toMap)
    vs.map { case (v, p) =>
      (v, commitMs(fs, p), readMeta(fs, p), linesOf(v).map(parseEntry))
    }
  }

  /** Change-feed window context: per MAIN version in (fromV, toV],
    * its commit time, raw per-commit meta, lineage-parent entries, and
    * own entries — resolved with ONE directory listing and one
    * memoized lineage fold for the whole window. (Per-version
    * resolvers would re-list the manifest directory ~5× per commit —
    * O(window²) driver round-trips on object storage.) Branch staging
    * commits are excluded (invisible to the main feed until promote);
    * each main version pairs with its TRUE lineage parent (`#base=`).
    * A window crossing the retention horizon fails loudly in the
    * resolver, exactly like every other versioned read.
    */
  private[sources] def cdfWindow(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      fromV: Long, toV: Long): Seq[(Long, Long, Map[String, String],
      Seq[(String, FileStats)], Seq[(String, FileStats)])] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val linesOf = lineageResolver(fs, root, vs.toMap)
    vs.filter { case (v, _) => v > fromV && v <= toV }
      .flatMap { case (v, p) =>
        val meta = readMeta(fs, p)
        if (meta.contains(BranchKey)) None
        else {
          // an eq-delete masks rows WITHOUT touching entries — the
          // entry-diff replay cannot express it; refuse the window
          // loudly rather than stream a delete-free lie
          if (meta.get(OpKey).contains("eq-upsert"))
            throw new IllegalStateException(
              s"change feed of $dir: version $v is an equality-delete " +
                "commit, whose row masks the entry-level diff cannot " +
                "express — CALL compact to absorb eq-deletes, then " +
                "read the feed across the compaction")
          val baseV = meta.get(BaseKey).map(_.toLong).getOrElse(v - 1)
          val prev =
            if (baseV == 0L) Nil else linesOf(baseV).map(parseEntry)
          Some((v, commitMs(fs, p), meta, prev, linesOf(v).map(parseEntry)))
        }
      }
  }

  /** All named refs — live branches and tags — as (name, kind,
    * version) rows for the `refs` metadata table.
    */
  private[sources] def refRows(
      conf: org.apache.hadoop.conf.Configuration, dir: String)
      : Seq[(String, String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    liveBranchHeads(fs, manifestVersions(fs, root))
      .map { case (b, v, _) => (b, "branch", v) } ++
      tagsConf(fs, root).map { case (t, v, _) => (t, "tag", v) }
  }

  /** CHERRY-PICK: re-apply one retained APPEND commit's delta onto
    * the CURRENT head as a new commit — the Iceberg
    * `cherrypick_snapshot` companion to write-audit-publish: promote
    * merges a whole branch, cherry-pick lifts ONE staged commit (from
    * a live or even dropped branch, or a main commit an overwrite
    * later erased) by republishing exactly the entry LINES that commit
    * ADDED, stats/epoch/partition/row-id tokens included — zero data
    * movement, and preserved `rb:` bases mean re-applied rows keep
    * their row-lineage identity.
    *
    * Only APPEND deltas are liftable: a commit that removed or
    * rewrote files (DML, compaction, overwrite) has a removal side
    * whose context was that commit's OWN parent — replaying it
    * against a different head is not well-defined, so it refuses
    * loudly (Iceberg's rule). Guards: every lifted file must still
    * exist (vacuum may have reclaimed a dropped branch's stage) and
    * must not already be referenced by the head (a double
    * cherry-pick, or lifting a commit that is already main lineage).
    */
  def cherrypick(spark: SparkSession, dir: String, version: Long): Long = {
    requireNoEqDeletes(spark.sessionState.newHadoopConf(), dir,
      "cherrypick")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (_, parentV) = versionLineage(conf, dir, version)
    def k(e: (String, FileStats)) = (e._1, e._2.dv)
    val parent = entriesAtVersion(conf, dir, parentV)
    val at = entriesAtVersion(conf, dir, version)
    val parentK = parent.map(k).toSet
    val atK = at.map(k).toSet
    val removed = parent.filterNot(e => atK(k(e)))
    require(removed.isEmpty,
      s"cherrypick(v$version): only APPEND commits are liftable — " +
        s"this version removed or rewrote ${removed.size} file(s) " +
        "(DML/compaction/overwrite deltas replay only against their " +
        "own parent)")
    val addedRels = at.filterNot(e => parentK(k(e))).map(_._1).toSet
    require(addedRels.nonEmpty,
      s"cherrypick(v$version): the commit added no files")
    val lines = linesAt(fs, root, version)
      .filter(l => addedRels(pathOf(l)))
    val headPaths = headVersion(fs, root, None)
      .map(h => resolveDataLines(fs, root,
        manifestVersions(fs, root).toMap, h._1).map(pathOf).toSet)
      .getOrElse(Set.empty)
    val dup = addedRels.intersect(headPaths)
    require(dup.isEmpty,
      s"cherrypick(v$version): ${dup.size} file(s) are already " +
        "referenced by the current head (already picked or already " +
        "main lineage)")
    val gone = addedRels.filterNot(r => fs.exists(new Path(root, r)))
    require(gone.isEmpty,
      s"cherrypick(v$version): ${gone.size} file(s) no longer exist " +
        "(vacuum reclaimed them) — the commit is not liftable")
    publish(fs, root, AppendFiles, lines,
      Map(OpKey -> s"cherrypick(v$version)"))
  }

  /** RESTORE (rollback): republish a retained version's entries as
    * the table's NEXT version — history moves forward, nothing is
    * erased (the new snapshot simply references the old files, which
    * retention kept alive precisely because their manifest is
    * retained), and time travel across the restore still works. The
    * Delta RESTORE semantics — METADATA included: a restore to a
    * pre-ALTER version carries that version's declared `#schema=`
    * back, so restoring past a bad RENAME/DROP undoes the schema too,
    * not just the data. The restored epoch mapping is APPENDED as a
    * fresh epoch (never spliced into history): field ids stay
    * append-only, so every retained file's `se:` index keeps resolving
    * and time travel across the restore stays consistent.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    requireNoEqDeletes(spark.sessionState.newHadoopConf(), dir,
      "restore")
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val lines = linesAt(fs, root, version)
    val vs = manifestVersions(fs, root)
    val restoredMeta = vs.find(_._1 == version)
      .map(p => readMeta(fs, p._2)).getOrElse(Map.empty)
    val headMeta = headVersion(fs, root, None)
      .map(h => readMeta(fs, h._2)).getOrElse(Map.empty)
    val schemaMeta: Map[String, String] =
      (restoredMeta.get(SchemaKey), restoredMeta.get(FieldEpochsKey)) match {
        case (Some(sj), Some(ej)) =>
          val curEpochs = epochsOf(headMeta)
          val restoredLast = decodeEpochs(ej).last
          // schema AND current epoch already match the restored
          // version's: no meta to restore (and no redundant epoch
          // append that would force the translated read path on a
          // table that never diverged)
          if (headMeta.get(SchemaKey).contains(sj) &&
              curEpochs.lastOption.contains(restoredLast)) Map.empty
          else Map(SchemaKey -> sj,
            FieldEpochsKey -> encodeEpochs(curEpochs :+ restoredLast))
        case _ => Map.empty // object-API table: data-only restore
      }
    publish(fs, root, Replace, lines,
      Map(OpKey -> s"restore(v$version)") ++ schemaMeta)
  }

  /** The highest streaming batch id ever committed through
    * [[appendBatch]] (carried forward across every later commit —
    * compaction, DML, vacuum — see [[commit]]); None for a table no
    * stream has written or with no manifest yet.
    */
  def lastBatchId(spark: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(spark, dir)
    headVersion(fs, new Path(dir), None)
      .flatMap(v => readMeta(fs, v._2).get(TxnKey))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
  }

  /** EXACTLY-ONCE streaming append — the foreachBatch sink that makes
    * the manifest layout a streaming table: Structured Streaming
    * guarantees at-least-once foreachBatch delivery with MONOTONE
    * batch ids, so recording the applied id inside the same atomic
    * manifest rename as the data turns redelivery into a provable
    * no-op. A batch id ≤ the recorded one returns false and commits
    * NOTHING (the restart-after-commit-before-checkpoint window); a
    * fresh id stages and commits data + marker in one rename. A crash
    * after staging but before the rename leaves orphans (vacuumed
    * later) and no marker — the redelivery re-stages and commits,
    * which is exactly-once END TO END. L28c's dynamic-overwrite sink
    * replaces a batch's own partition; this is the APPEND-shaped form
    * with multi-file atomicity, and the table keeps its whole feature
    * set (time travel, CDF, compaction, DML) under the stream.
    * Single writing stream per table assumed (the id sequence is the
    * stream's); Spark's checkpoint lock serializes batch attempts.
    */
  def appendBatch(df: DataFrame, dir: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(root)
    if (lastBatchId(spark, dir).exists(_ >= batchId)) return false
    val staged = stageFiles(df, root, fs)
    publish(fs, root, AppendFiles, staged, Map(TxnKey -> batchId.toString))
    true
  }

  private def absPaths(root: Path, rel: Seq[String]): Seq[String] =
    rel.map(f => new Path(root, f).toString)

  // ---- branches: write-audit-publish -------------------------------------
  //
  // Named refs over manifest versions (Iceberg branches): staging
  // commits carry a `#branch=<name>` marker and interleave into the
  // SAME global version sequence, but every lineage resolves through
  // explicit parent pointers — so main readers never see a staged
  // commit, audit queries read the branch head, and PROMOTE is one
  // atomic, fast-forward-validated main commit. The WAP pattern a
  // 100-TB curation pipeline runs before exposing a snapshot.

  private def checkRefName(branch: String): Unit =
    require(branch.nonEmpty && branch.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9._-]+, got '$branch'")

  /** Stage `df` on `branch` — invisible to every main reader. The
    * first commit on a branch forks from the current MAIN head;
    * later ones extend the branch. `overwrite` replaces the branch's
    * content (not main's).
    */
  def writeBranch(df: DataFrame, dir: String, branch: String,
      overwrite: Boolean = false): Long = {
    checkRefName(branch)
    val spark = df.sparkSession
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(root)
    val staged = stageFiles(df, root, fs, Some(branch))
    publish(fs, root, if (overwrite) Replace else AppendFiles, staged,
      ref = Some(branch))
  }

  /** The branch head's snapshot — what the AUDIT step of
    * write-audit-publish queries.
    */
  def readBranch(spark: SparkSession, dir: String,
      branch: String): DataFrame = {
    checkRefName(branch)
    val fs = fsOf(spark, dir)
    val (hv, _) = headVersion(fs, new Path(dir), Some(branch))
      .getOrElse(throw new IllegalArgumentException(
        s"no branch '$branch' under $dir"))
    readAt(spark, dir, hv)
  }

  /** Live branches (name, head version) — dropped and promoted
    * branches excluded.
    */
  def branches(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val fs = fsOf(spark, dir)
    liveBranchHeads(fs, manifestVersions(fs, new Path(dir)))
      .map { case (b, v, _) => (b, v) }
  }

  /** PUBLISH: promote `branch` onto main as one atomic commit —
    * fast-forward ONLY. Main must not have advanced past the branch's
    * fork point (checked here AND re-validated per CAS attempt inside
    * [[publish]], so a racing main commit aborts the promote loudly
    * instead of being silently overwritten). Main readers see the
    * whole audited snapshot at the rename, never a partial state.
    */
  def promoteBranch(spark: SparkSession, dir: String,
      branch: String): Long = {
    checkRefName(branch)
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val vs = manifestVersions(fs, root)
    val byV = vs.toMap
    val (bHead, _) = headVersion(fs, root, Some(branch))
      .getOrElse(throw new IllegalArgumentException(
        s"no branch '$branch' under $dir"))
    val branchLines = resolveDataLines(fs, root, byV, bHead)
    // fork point: walk the branch commits' parent pointers down to
    // the first non-branch ancestor
    var fork = bHead
    var walking = true
    while (walking) {
      byV.get(fork) match {
        case None =>
          // the fork version fell past the retention horizon: main has
          // necessarily advanced since (the main head IS retained), so
          // the mv != fork check below aborts as non-fast-forward
          walking = false
        case Some(p) =>
          val m = readMeta(fs, p)
          if (m.get(BranchKey).contains(branch))
            fork = m.get(BaseKey).map(_.toLong).getOrElse(0L)
          else walking = false
          if (fork == 0L) walking = false
      }
    }
    val (mv, mainLines) = currentSnapshot(fs, root)
    if (mv != fork) throw new ConcurrentWriteException(
      s"promote($branch) of $dir is not a fast-forward: main advanced " +
        s"past the fork (v$fork → v$mv) — re-stage against the " +
        "current snapshot")
    // claim every main file; branch lines land verbatim (stats, DVs
    // and schema epochs included). Any interleaved main commit fails
    // the rewrite validation → loud retry-level abort.
    publish(fs, root,
      RewriteFiles(mv, mainLines, mainLines.map(pathOf).toSet,
        s"promote($branch)", _ => true),
      branchLines,
      Map(OpKey -> s"promote($branch)", PromotedKey -> branch))
  }

  // ---- tags: immutable named refs + ref-scoped retention -----------------
  //
  // A tag pins a retained version under a NAME, forever — the
  // audit/reproducibility half of the refs story (a training run pins
  // its corpus by tag; a quarter-end report pins its books). Tags are
  // ref FILES beside the manifests (`_manifests/tag-<name>`, one line:
  // the version, plus a `#ts=` creation stamp) created by
  // rename-without-overwrite — IMMUTABLE by construction (re-tagging a
  // name fails; drop + create moves it, leaving an audit gap on
  // purpose). vacuum() retains tagged versions unconditionally,
  // whatever keepLast says, and fences their delta chains like any
  // other retained version — so `VERSION AS OF '<tag>'` keeps working
  // after maintenance collapses the rest of history.

  private val TagPrefix = "tag-"

  private def tagPathOf(root: Path, name: String): Path =
    new Path(new Path(root, ManifestDir), s"$TagPrefix$name")

  /** Tag `version` (default: the current MAIN head) as `name`.
    * Creating an existing tag fails — tags never move silently.
    */
  def createTag(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    checkRefName(name)
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val vs = manifestVersions(fs, root)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val v = version.getOrElse(headVersion(fs, root, None).map(_._1)
      .getOrElse(throw new IllegalStateException(
        s"no main commit under $dir")))
    require(vs.exists(_._1 == v),
      s"cannot tag version $v of $dir: not retained " +
        s"(have ${vs.map(_._1).mkString(",")})")
    val tp = tagPathOf(root, name)
    require(!fs.exists(tp), s"tag '$name' already exists under $dir — " +
      "tags are immutable (drop_tag first to move it)")
    val body = s"$v\n#ts=${System.currentTimeMillis()}\n"
      .getBytes(StandardCharsets.UTF_8)
    val tmp = new Path(new Path(root, ManifestDir),
      s".$TagPrefix$name.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    // rename-without-overwrite: a racing create of the same name
    // loses loudly, never silently re-points
    if (fs.exists(tp) || !fs.rename(tmp, tp)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"tag '$name' creation lost a race under $dir")
    }
    v
  }

  /** Release `name` — its version rejoins normal retention at the
    * next vacuum. Returns false when the tag doesn't exist.
    */
  def dropTag(spark: SparkSession, dir: String, name: String): Boolean = {
    checkRefName(name)
    val fs = fsOf(spark, dir)
    val tp = tagPathOf(new Path(dir), name)
    fs.exists(tp) && fs.delete(tp, false)
  }

  /** Live tags: (name, version, created ms), name-sorted. */
  def tags(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    tagsConf(fsOf(spark, dir), new Path(dir))

  private def tagsConf(fs: FileSystem, root: Path): Seq[(String, Long, Long)] =
    tagsIn(fs, manifestListing(fs, root))

  /** [[tagsConf]] of a `_manifests` listing already in hand. */
  private def tagsIn(fs: FileSystem,
      listing: Seq[FileStatus]): Seq[(String, Long, Long)] =
    listing
      .filter(s => s.isFile && s.getPath.getName.startsWith(TagPrefix))
      .flatMap { s =>
        scala.util.Try {
          val lines = readManifestRaw(fs, s.getPath)
          val v = lines.head.trim.toLong
          val ts = lines.collectFirst {
            case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong
          }.getOrElse(s.getModificationTime)
          (s.getPath.getName.stripPrefix(TagPrefix), v, ts)
        }.toOption
      }.sortBy(_._1)

  /** The version `name` pins, if tagged (conf-parameterized for the
    * catalog's `VERSION AS OF '<tag>'` resolution).
    */
  private[sources] def tagVersion(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      name: String): Option[Long] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val tp = tagPathOf(root, name)
    if (!fs.exists(tp)) None
    else scala.util.Try(readManifestRaw(fs, tp).head.trim.toLong).toOption
  }

  /** Drop `branch`: one tombstone commit — the staged snapshot
    * becomes invisible and its files become vacuum-reclaimable.
    */
  def dropBranch(spark: SparkSession, dir: String,
      branch: String): Long = {
    checkRefName(branch)
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    require(headVersion(fs, root, Some(branch)).isDefined,
      s"no branch '$branch' under $dir")
    publish(fs, root, AppendFiles, Nil,
      Map(OpKey -> s"drop-branch($branch)", DroppedKey -> "1"),
      ref = Some(branch))
  }

  /** Head version of `branch` (conf-parameterized for the DSv2/
    * catalog faces) — what `VERSION AS OF '<branch>'` pins.
    */
  private[sources] def branchHeadVersion(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      branch: String): Option[Long] = {
    val root = new Path(dir)
    headVersion(root.getFileSystem(conf), root, Some(branch)).map(_._1)
  }

  /** The session-level WAP branch (Iceberg's `spark.wap.branch`
    * construction): when `spark.graft.wap.branch` is set, every write
    * AND row-level DML through the SQL faces lands on the named
    * branch — a whole existing SQL pipeline stages its output for
    * audit by setting ONE conf, with promote/drop as the publish
    * decision. Plain reads keep resolving MAIN (audit explicitly via
    * `VERSION AS OF '<branch>'`).
    */
  private[sources] def sessionWapBranch(
      spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.wap.branch").filter(_.nonEmpty)

  /** (version, raw entry lines) of a LINEAGE head — the branch-aware
    * anchor for the SQL row-level operations.
    */
  private[sources] def snapshotLinesForConf(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      branch: Option[String]): (Long, Seq[String]) = {
    val root = new Path(dir)
    snapshotFor(root.getFileSystem(conf), root, branch)
  }

  /** (isMain, lineage parent) of retained version `v` — the streaming
    * change feed plans its per-version diff against the TRUE parent
    * and skips branch staging commits entirely (their rows surface at
    * the promote commit).
    */
  private[sources] def versionLineage(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      v: Long): (Boolean, Long) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val p = manifestVersions(fs, root).find(_._1 == v).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"version $v not retained under $dir"))
    val m = readMeta(fs, p)
    (!m.contains(BranchKey),
      m.get(BaseKey).map(_.toLong).getOrElse(v - 1))
  }

  // ---- merge-on-read: deletion vectors ----------------------------------
  //
  // A one-row DELETE in a 1 GB file should not move 1 GB. When a DML's
  // per-file deleted fraction is small (≤ dvMaxFraction), the file is
  // NOT rewritten: the deleted rows' PHYSICAL positions are written to
  // a tiny parquet sidecar of (file, pos) pairs, and the file's
  // manifest line gains a `dv:<sidecar>` token — same stats, same
  // bytes, new logical content. Readers apply the DV as an anti join
  // on (file, row_index) over parquet's `_metadata` columns; a later
  // DML on the same file writes a MERGED sidecar (old ∪ new pairs,
  // replacing the token); compaction reads through the DV and so
  // MATERIALIZES it away; vacuum retains referenced sidecars. The
  // construction is Delta/Iceberg deletion vectors; positions-in-file
  // is the natural row identity because data files are immutable.

  /** The `stage/name` relative path of a scanned row's file — the two
    * trailing components of `_metadata.file_path`, matching the
    * manifest's entry paths by the staging layout.
    */
  private def relOfCol(c: Column): Column =
    // last two path components via a plain right-scan — evaluated per
    // scanned row in the meta branch, so no regexp machinery
    org.apache.spark.sql.functions.substring_index(c, "/", -2)

  /** The LIVE rows of `entries`: clean files read directly; files
    * carrying a deletion vector read with their physical positions and
    * anti-joined against the DV pairs. `withMeta` attaches `__file`
    * (relative path) and `__pos` (physical row index) — captured AT
    * SCAN TIME via parquet's `_metadata`, the same rule as
    * input_file_name.
    */
  private def readLive(spark: SparkSession, root: Path,
      entries: Seq[(String, FileStats)], mergeSchema: Boolean = false,
      withMeta: Boolean = false,
      schemaCtx: Option[(StructType, Seq[Map[Int, String]])] = None,
      rowId: Boolean = false)
      : DataFrame = {
    require(entries.nonEmpty, "readLive over an empty entry list")
    schemaCtx match {
      case Some((declared, epochs)) if epochs.size > 1 =>
        // FIELD-ID resolution: group the files by the schema epoch
        // they were staged under (one or two groups in practice), read
        // each group at its PHYSICAL names, then project every group
        // onto the declared current schema — a renamed column reads
        // its old bytes, a column whose id didn't exist at the file's
        // epoch (incl. a dropped-and-re-added name) reads NULL. Each
        // group keeps the vectorized bulk read; the union is by-name
        // over identical schemas.
        val groups = entries.groupBy(e =>
          math.min(e._2.epoch.getOrElse(0), epochs.size - 1))
        val cur = epochs.last
        return groups.toSeq.sortBy(_._1).map { case (ei, es) =>
          val em = epochs(ei)
          val phys = cur.flatMap { case (id, c) => em.get(id).map(c -> _) }
          val df = readLive(spark, root, es, mergeSchema = true, withMeta,
            rowId = rowId)
          val dfSchema = df.schema
          val metaCols = (if (withMeta) Seq("__file", "__pos") else Nil) ++
            (if (rowId) Seq("__rowid") else Nil)
          // a physical dotted path resolves as a getField chain off its
          // top-level column (never a parsed string — names are data)
          def physCol(pp: String): Column = {
            val segs = pp.split('.').toSeq
            segs.tail.foldLeft(col(segs.head))(_.getField(_))
          }
          // NESTED field-id translation: a declared struct rebuilds
          // member-by-member through the dotted id map — a renamed
          // inner field reads its old bytes, an inner field whose id
          // didn't exist at the file's epoch (incl. dropped-and-
          // re-added names) reads NULL, and a NULL struct VALUE stays
          // NULL (struct() of nulls is not null)
          def structExpr(curPath: String, physTop: Column,
              st: StructType): Column =
            when(physTop.isNotNull,
              org.apache.spark.sql.functions.struct(
                st.fields.toSeq.map { inf =>
                  val cp = s"$curPath.${inf.name}"
                  phys.get(cp)
                    .filter(pp => typeAtPath(dfSchema, pp).isDefined) match {
                    case None => lit(null).cast(inf.dataType).as(inf.name)
                    case Some(pp) => inf.dataType match {
                      case s2: StructType =>
                        structExpr(cp, physCol(pp), s2).as(inf.name)
                      case dt2 => physCol(pp).cast(dt2).as(inf.name)
                    }
                  }
                }: _*))
          // translation is a no-op for a subtree whose current paths
          // all equal their physical paths and exist — skip the
          // rebuild (and keep the column vectorizable downstream)
          def subtreeIdentity(curPath: String, st: StructType): Boolean =
            st.fields.forall { inf =>
              val cp = s"$curPath.${inf.name}"
              phys.get(cp).contains(cp) &&
                typeAtPath(dfSchema, cp).isDefined &&
                (inf.dataType match {
                  case s2: StructType => subtreeIdentity(cp, s2)
                  case _ => true
                })
            }
          df.select(declared.fields.toSeq.map { f =>
            phys.get(f.name)
              .filter(pp => typeAtPath(dfSchema, pp).isDefined) match {
              // cast to the DECLARED type: files written before a
              // type-widening ALTER carry the narrower physical type
              // (a same-type cast folds away in the optimizer)
              case Some(pn) => f.dataType match {
                case st: StructType
                    if !(pn == f.name && subtreeIdentity(f.name, st)) =>
                  structExpr(f.name, col(pn), st).as(f.name)
                case dt => col(pn).cast(dt).as(f.name)
              }
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          } ++ metaCols.map(col): _*)
        }.reduce(_.unionByName(_))
      case _ =>
    }
    val (dirty, clean) = entries.partition(_._2.dv.isDefined)
    def meta(df: DataFrame): DataFrame = df
      .withColumn("__file", relOfCol(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    // the hidden row-lineage column is PROVENANCE, not data: plain
    // reads drop it; a rowId read surfaces it as `__rowid` (NULL for
    // rows/files without a materialized id — the caller coalesces with
    // base+pos). rowId forces mergeSchema so a mixed rim/plain file
    // set can't lose the column to first-file schema picking.
    def rd(paths: Seq[String]): DataFrame = {
      // KNOWN-SCHEMA fast path: when every file in this subset carries
      // the same Spark-embedded schema, pass it explicitly — Spark then
      // skips schema inference entirely, which for a mergeSchema read
      // is a whole DISTRIBUTED JOB per call (SchemaMergeUtils.
      // mergeSchemasInParallel: profiled as the per-commit fixed cost
      // of the CDF path — two inference jobs per commit in
      // tableChanges) and for a plain read a driver footer pass. The
      // result is identical by construction: inference over
      // equal-schema footers returns exactly that schema (merge of
      // equals), and first-file picking returns the same one; any
      // disagreement (mixed rim/plain, evolution seams, foreign files)
      // falls back to Spark's own inference.
      val known = embeddedSchema(spark, root, paths)
      val rdr = known match {
        case Some(s) => spark.read.schema(s)
        case None =>
          spark.read.option("mergeSchema", (mergeSchema || rowId).toString)
      }
      val d0 = rdr.parquet(absPaths(root, paths): _*)
      if (rowId) {
        if (d0.columns.contains(RowIdCol))
          d0.withColumnRenamed(RowIdCol, "__rowid")
        else d0.withColumn("__rowid",
          lit(null).cast(org.apache.spark.sql.types.LongType))
      }
      else if (d0.columns.contains(RowIdCol)) d0.drop(RowIdCol)
      else d0
    }
    val cleanDf =
      if (clean.isEmpty) None
      else {
        val d = rd(clean.map(_._1))
        Some(if (withMeta) meta(d) else d)
      }
    val dirtyDf =
      if (dirty.isEmpty) None
      else {
        val dvPaths = dirty.flatMap(_._2.dv).distinct
        val dvRdr = embeddedSchema(spark, root, dvPaths) match {
          case Some(s) => spark.read.schema(s)
          case None => spark.read
        }
        val pairs = dvRdr.parquet(absPaths(root, dvPaths): _*)
          .select(col("file").as("__file"), col("pos").as("__pos"))
        val d = meta(rd(dirty.map(_._1)))
          .join(pairs, Seq("__file", "__pos"), "left_anti")
        Some(if (withMeta) d else d.drop("__file", "__pos"))
      }
    (cleanDf, dirtyDf) match {
      case (Some(a), Some(b)) =>
        a.unionByName(b, allowMissingColumns = mergeSchema)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException("unreachable")
    }
  }

  // ---- EQUALITY DELETES: key-based delete sidecars ----------------------
  //
  // The Iceberg-v2 / Flink-writer construction for CDC upsert: a
  // delete is ONE parquet sidecar of key tuples written WITHOUT
  // reading a single base file — O(batch) write cost at any table
  // size — and resolved at READ by anti-joining the sidecar against
  // the files it applies to. An eq-delete rides the manifest META
  // (`#eqdel.<seq>=<sidecarRel>|<baseV>|<hexCols>`): it applies to
  // exactly the data files present in snapshot `baseV` (the commit's
  // parent — files landing in or after the delete's own commit are
  // NEWER by serialization and never masked), `seq` orders multiple
  // pending deletes, and an empty value is the absorb tombstone.
  // COMPACTION owns resolution: while deletes are pending, the read
  // faces apply them and row-level DML/branch surgery REFUSES loudly
  // ("compact first") — the documented division of labor that keeps
  // the write path O(batch) and the invariants checkable.

  final case class EqDelete(seq: Int, sidecar: String,
      keyCols: Seq[String], baseV: Long)

  private[sources] val EqDelPrefix = "eqdel."

  private def hexEncName(s: String): String =
    s.getBytes(StandardCharsets.UTF_8).map("%02x".format(_)).mkString
  private def hexDecName(h: String): String =
    new String(h.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray,
      StandardCharsets.UTF_8)

  private[sources] def eqDeletesOf(
      meta: Map[String, String]): Seq[EqDelete] =
    meta.toSeq.collect {
      case (k, v) if k.startsWith(EqDelPrefix) && v.nonEmpty =>
        val seq = k.stripPrefix(EqDelPrefix).toInt
        val parts = v.split('|')
        EqDelete(seq, parts(0),
          parts(2).split(',').toSeq.filter(_.nonEmpty).map(hexDecName),
          parts(1).toLong)
    }.sortBy(_.seq)

  /** The rel-path set an eq-delete applies to: the data files of its
    * base snapshot (manifest-resolved, memoize per baseV upstream).
    */
  private[sources] def eqAppliesTo(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      baseV: Long): Set[String] = {
    val root = new Path(dir)
    linesAt(root.getFileSystem(conf), root, baseV).map(pathOf).toSet
  }

  /** Pending eq-deletes of a snapshot (None = current head). */
  private[sources] def eqDeletesAt(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      version: Option[Long] = None): Seq[EqDelete] =
    eqDeletesOf(snapshotMeta(conf, dir, version))

  /** Per-CAS-attempt guard for the row-level rewrites: each DML checks
    * "no pending eq-deletes" before its find-touched scan, but an
    * eqUpsert committing DURING the scan would otherwise rebase in as
    * a plain append — and the rewrite's survivor files are new rel
    * paths outside that delete's base scope, so its masked rows would
    * silently resurrect. Same discipline as compact's absorb guard.
    */
  private def noEqMetaGuard(op: String, dir: String)
      : Map[String, String] => Unit = prevMeta =>
    if (eqDeletesOf(prevMeta).nonEmpty) throw new ConcurrentWriteException(
      s"$op of $dir: equality delete(s) committed concurrently with " +
        "this rewrite's scan — CALL compact to absorb them, then re-run")

  private def requireNoEqDeletes(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      op: String): Unit = {
    val pending = eqDeletesAt(conf, dir)
    require(pending.isEmpty,
      s"$op on $dir: ${pending.size} equality delete(s) pending — " +
        "CALL compact first (compaction absorbs eq-deletes; row-level " +
        "surgery over an eq-masked snapshot would need every op to " +
        "re-derive the masks)")
  }

  /** Anti-join `df`'s rows against the pending eq-deletes, respecting
    * each delete's applies-to scope. `df` must carry `__file`
    * (rel path) when any delete has a scoped base; the helper splits
    * applicable rows, anti-joins per delete IN SEQUENCE, and unions
    * the untouched remainder back.
    */
  private def applyEqDeletes(spark: SparkSession, dir: String,
      df: DataFrame, eqs: Seq[EqDelete]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val applies = scala.collection.mutable.Map.empty[Long, Set[String]]
    eqs.foldLeft(df) { (d, e) =>
      val scope = applies.getOrElseUpdate(e.baseV,
        eqAppliesTo(conf, dir, e.baseV))
      val keys = spark.read.parquet(new Path(root, e.sidecar).toString)
        .select(e.keyCols.map(col): _*).distinct()
      val in = d.filter(col("__file").isin(scope.toSeq: _*))
      val out = d.filter(!col("__file").isin(scope.toSeq: _*))
      in.join(keys, e.keyCols, "left_anti").unionByName(out)
    }
  }

  /** CDC UPSERT by key, write-side O(batch): `source`'s rows APPEND
    * (tuple-stamped like any stage) and one eq-delete sidecar of the
    * batch's key tuples masks older images — delete-then-insert per
    * key, no base file read or rewritten. `deletes` adds key tuples
    * with no replacement row (the CDC delete). NULL keys refuse (an
    * anti-join never matches them — the "delete" would silently
    * no-op). Main-lineage only; one commit, exactly-once with
    * [[appendBatch]]'s txn marker via `txnId`.
    */
  def eqUpsert(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], deletes: Option[DataFrame] = None,
      txnId: Option[Long] = None): Long = {
    require(keys.nonEmpty, "eqUpsert needs at least one key column")
    require(keys.forall(source.columns.contains),
      s"source is missing key column(s): " +
        keys.filterNot(source.columns.contains).mkString(","))
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(root)
    if (txnId.isDefined) {
      val last = snapshotMeta(spark.sessionState.newHadoopConf(), dir)
        .get(TxnKey).flatMap(s => scala.util.Try(s.toLong).toOption)
      if (last.exists(_ >= txnId.get))
        return mainHeadVersion(spark.sessionState.newHadoopConf(), dir)
          .getOrElse(0L)
    }
    val delKeys = deletes.map(_.select(keys.map(col): _*))
    val allKeys = delKeys.fold(source.select(keys.map(col): _*))(
      source.select(keys.map(col): _*).unionByName(_)).distinct()
    require(allKeys.filter(keys.map(col(_).isNull)
      .reduce(_ || _)).isEmpty,
      "eqUpsert: NULL key tuples are not supported (an anti-join " +
        "never matches NULL — the delete would silently no-op)")
    val sidecar = stageSidecar(allKeys, root, fs)
    val staged =
      if (source.isEmpty) Nil else stageFiles(source, root, fs, None)
    val colsHex = keys.map(hexEncName).mkString(",")
    publish(fs, root, AppendFiles, staged,
      // the op name marks the commit for the STREAM faces: an
      // eq-delete masks rows without removing entries, which the
      // entry-diff streams cannot express — they refuse at this op
      meta = txnId.map(TxnKey -> _.toString).toMap +
        (OpKey -> "eq-upsert"),
      metaFn = (prevV, prevMeta) => {
        val nextSeq = prevMeta.keys.filter(_.startsWith(EqDelPrefix))
          .flatMap(k => scala.util.Try(
            k.stripPrefix(EqDelPrefix).toInt).toOption)
          .maxOption.getOrElse(0) + 1
        Map(s"$EqDelPrefix$nextSeq" -> s"$sidecar|$prevV|$colsHex")
      })
  }

  /** CDC DELETE by key — the rows-free flavor of [[eqUpsert]]. */
  def eqDelete(spark: SparkSession, dir: String,
      keys: DataFrame): Long =
    eqUpsert(spark, dir, keys.limit(0), keys.columns.toSeq,
      deletes = Some(keys))

  /** Stage a sidecar — an eq-delete's key tuples or a deletion
    * vector's (file, pos) pairs — as one parquet file and return its
    * relative path.
    */
  private def stageSidecar(rows: DataFrame, root: Path,
      fs: FileSystem): String = {
    val stage = s"dv-${java.util.UUID.randomUUID()}"
    rows.coalesce(1).write.parquet(new Path(root, stage).toString)
    fs.listStatus(new Path(root, stage)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$stage/${s.getPath.getName}").head
  }

  /** Merged DV pairs for `files`: freshly deleted positions plus the
    * files' EXISTING sidecar pairs (a later DML replaces, not chains,
    * the token — readers apply exactly one sidecar per file).
    */
  private def mergedDvPairs(spark: SparkSession, root: Path,
      fresh: DataFrame, files: Seq[String],
      entryMap: Map[String, FileStats]): DataFrame = {
    val oldDvPaths = files.flatMap(entryMap(_).dv).distinct
    if (oldDvPaths.isEmpty) fresh
    else fresh.unionByName(
      spark.read.parquet(absPaths(root, oldDvPaths): _*)
        .filter(col("file").isin(files: _*))
        .select(col("file"), col("pos")))
  }

  /** The snapshot a row-level DML (`op`: merge, deleteWhere,
    * deleteMatching) plans and commits against, resolved once: ONE
    * head-meta read feeds the eq-delete refusal, the delete split's
    * spec history and the lineage flag — per-commit fixed costs add up
    * on commit-dense lifecycles.
    */
  private final case class DmlBase(dir: String, op: String,
      branch: Option[String], root: Path, fs: FileSystem,
      headMeta: Map[String, String], baseV: Long, baseLines: Seq[String],
      ctx: Option[(StructType, Seq[Map[Int, String]])]) {
    val cur: Seq[String] = baseLines.map(pathOf)
    val entries: Seq[(String, FileStats)] = baseLines.map(parseEntry)
    val entryMap: Map[String, FileStats] = entries.toMap
    val lineMap: Map[String, String] =
      baseLines.map(l => pathOf(l) -> l).toMap
    val lineage: Boolean = lineageOn(headMeta)
    def epochs: Seq[Map[Int, String]] = ctx.map(_._2).getOrElse(Nil)
    /** `files`' entries, in snapshot order. */
    def entriesOf(files: Seq[String]): Seq[(String, FileStats)] = {
      val s = files.toSet
      entries.filter(e => s(e._1))
    }
  }

  private def dmlBase(spark: SparkSession, dir: String, op: String,
      dvMaxFraction: Double, branch: Option[String]): DmlBase = {
    require(dvMaxFraction >= 0.0 && dvMaxFraction <= 1.0,
      s"dvMaxFraction must be in [0,1], got $dvMaxFraction")
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    // head meta and base lines come from one listing: the same snapshot
    val (baseV, headPath, baseLines) = lineageSnapshot(fs, root, branch)
    val headMeta = readMeta(fs, headPath)
    require(eqDeletesOf(headMeta).isEmpty,
      s"$op on $dir: equality deletes pending — CALL compact to " +
        "absorb them first")
    require(baseLines.nonEmpty, s"manifested table $dir is empty — " +
      "schemaless empty reads are not supported")
    DmlBase(dir, op, branch, root, fs, headMeta, baseV, baseLines,
      schemaCtxOf(headMeta))
  }

  /** Per-file hit counts of `matched` over the LIVE rows of `files`
    * (already-deleted positions never re-match) in one pass — a
    * manifest-sized collect, and exactly the number the merge-on-read
    * split needs. No files, no job.
    */
  private def hitCounts(spark: SparkSession, b: DmlBase,
      files: Seq[String], matched: DataFrame => DataFrame)
      : Map[String, Long] =
    if (files.isEmpty) Map.empty
    else matched(readLive(spark, b.root, b.entriesOf(files),
        withMeta = true, schemaCtx = b.ctx))
      .groupBy(col("__file")).agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The merge-on-read split of `files`: a file with hits whose hit
    * fraction of its physical rows is ≤ `dvFrac` keeps its bytes — the
    * positions `matched` selects in its live rows go to ONE fresh
    * deletion-vector sidecar (with the files' existing pairs, see
    * [[mergedDvPairs]]) and its manifest line gains the token.
    * Returns (the DV'd files' new lines, the files left to rewrite).
    */
  private def stageMorDeletes(spark: SparkSession, b: DmlBase,
      files: Seq[String], hits: Map[String, Long], dvFrac: Double,
      matched: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    val (dvT, rwT) = files.partition(f => hits.get(f).exists(h =>
      b.entryMap(f).rows.exists(n => n > 0 && h.toDouble / n <= dvFrac)))
    if (dvT.isEmpty) (Nil, rwT)
    else {
      val fresh = matched(readLive(spark, b.root, b.entriesOf(dvT),
          withMeta = true, schemaCtx = b.ctx))
        .select(col("__file").as("file"), col("__pos").as("pos"))
      val dvRel = stageSidecar(
        mergedDvPairs(spark, b.root, fresh, dvT, b.entryMap), b.root, b.fs)
      (dvT.map(f => withDvToken(b.lineMap(f), dvRel)), rwT)
    }
  }

  /** Commit a row-level rewrite: `touched` leave the base snapshot,
    * `staged` lines join it, and an interleaved commit conflicts when
    * `overlaps` finds a row of its added files inside the op's scope.
    */
  private def commitRewrite(b: DmlBase, touched: Seq[String],
      staged: Seq[String], overlaps: Seq[String] => Boolean): Long =
    publish(b.fs, b.root,
      RewriteFiles(b.baseV, b.baseLines, touched.toSet, b.op, overlaps),
      staged, ref = b.branch, metaGuard = noEqMetaGuard(b.op, b.dir))

  /** The delete body [[deleteWhere]] and [[deleteMatching]] share:
    * `covered` files drop by reference, `candidates` are scanned for
    * `matched` rows, and each file with hits either takes a deletion
    * vector or rewrites to its `survivors`. No hits and nothing covered
    * commits nothing (version unchanged).
    */
  private def deleteRows(spark: SparkSession, b: DmlBase,
      dvMaxFraction: Double, covered: Seq[String], candidates: Seq[String],
      matched: DataFrame => DataFrame, survivors: DataFrame => DataFrame,
      overlaps: Seq[String] => Boolean): Long = {
    val hits = hitCounts(spark, b, candidates, matched)
    if (hits.isEmpty && covered.isEmpty) return b.baseV
    val coveredSet = covered.toSet
    val touched = b.cur.filter(f => hits.contains(f) || coveredSet(f))
    // the MoR threshold applies to genuinely-partial files only; a
    // covered file has NO survivors — by reference, no DV, no rewrite
    val (dvLines, rwT) = stageMorDeletes(spark, b,
      b.cur.filter(hits.contains), hits, dvMaxFraction, matched)
    // with row lineage ON, survivors re-emit with their ids
    // materialized (the rewrite output becomes a `rim:` file)
    val rwStaged =
      if (rwT.isEmpty) Nil
      else stageFiles(survivors(readForRewrite(spark, b.root,
        b.entriesOf(rwT), b.ctx, b.lineage)), b.root, b.fs, b.branch)
    commitRewrite(b, touched, rwStaged ++ dvLines, overlaps)
  }

  /** `WHEN NOT MATCHED BY SOURCE ...` action for [[merge]] — the
    * full-sync half of the MERGE matrix: what happens to BASE rows no
    * source row matched. Conditions evaluate over the base row's own
    * columns; None = unconditional.
    */
  sealed trait BySourceAction
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` — with no
    * cond this makes merge a full synchronization: the table becomes
    * exactly the source's image (the CDC reconciliation form).
    */
  final case class BySourceDelete(cond: Option[Column] = None)
    extends BySourceAction
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr`
    * — e.g. flagging rows the feed stopped covering as stale.
    */
  final case class BySourceUpdate(set: Seq[(String, Column)],
      cond: Option[Column] = None) extends BySourceAction

  /** Row-level MERGE — the copy-on-write `MERGE INTO` a lakehouse
    * table format runs, on the manifest layout, with the FULL clause
    * matrix:
    *
    *  - `WHEN MATCHED [AND deleteWhen] THEN DELETE` — the CDC
    *    delete-flag form: source rows where it evaluates TRUE remove
    *    their matched base row and never re-enter (FALSE/NULL upsert).
    *  - `WHEN MATCHED [AND updateWhen] THEN UPDATE` — conditional
    *    update: matched base rows take the source image only where the
    *    condition holds, and SURVIVE UNCHANGED otherwise (the
    *    only-if-newer CDC guard). The condition sees the source row's
    *    columns by name and the base row's as `__base_<col>`; when
    *    given, matching follows SQL MERGE's per-target-row semantics
    *    (each matched base row decides independently).
    *  - `WHEN NOT MATCHED [AND insertWhen] THEN INSERT` — unmatched
    *    source rows insert only where the condition holds (TRUE).
    *  - `WHEN NOT MATCHED BY SOURCE THEN DELETE/UPDATE` (`bySource`) —
    *    base rows no source row matched delete (full sync) or update
    *    (stale-flagging), optionally condition-guarded over the base
    *    row.
    *
    * Copy-on-write file pruning is the scale property: phase 1 finds
    * the files containing ≥ 1 matched key via a stats-pruned
    * key-column scan + semi join (what Delta's findTouchedFiles does;
    * the manifest's embedded per-file intervals prune the scan itself
    * on a key-clustered layout), phase 2 rewrites ONLY those files,
    * and the new manifest carries every untouched file BY REFERENCE —
    * at 100 TB an upsert touching 0.1% of files moves 0.1% of the data
    * (CompactionSpec pins paths + mtimes unchanged). A `bySource`
    * clause additionally touches every file holding an APPLICABLE
    * unmatched row — with no condition that is the whole unmatched
    * mass, which is what full synchronization means; the condition
    * narrows it. Publication is the usual single validated manifest
    * rename (see [[publish]]).
    *
    * Multiple source rows per key would make the upsert
    * order-dependent, so it throws (the MERGE cardinality rule) —
    * NULL-keyed source rows are exempt (they match nothing and simply
    * insert). The check costs one aggregate over the delta, never the
    * table.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], deleteWhen: Option[Column] = None,
      updateWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      bySource: Option[BySourceAction] = None,
      dvMaxFraction: Double = 0.0,
      branch: Option[String] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val b = dmlBase(spark, dir, "merge", dvMaxFraction, branch)
    val (root, ctx, lineage) = (b.root, b.ctx, b.lineage)
    val base = readLive(spark, root, b.entries, schemaCtx = ctx)
    // merge-on-read applies only to the plain upsert shape: matched
    // rows' old images DV out, source images stage fresh. Conditional
    // updates keep base images and by-source clauses rewrite unmatched
    // rows — both need the physical rewrite anyway.
    val dvFrac =
      if (updateWhen.isEmpty && bySource.isEmpty) dvMaxFraction else 0.0
    require(base.columns.sorted.sameElements(source.columns.sorted),
      s"merge source columns [${source.columns.sorted.mkString(",")}] " +
        s"must match table [${base.columns.sorted.mkString(",")}]")
    // NULL-keyed source rows can never match a base row (the semi/anti
    // joins use SQL equality), so each simply inserts — they are
    // exempt from the cardinality rule rather than spuriously grouped
    // together by groupBy's NULL-bucketing.
    // ONE action serves both the cardinality check AND the key bounds
    // the manifest prune needs (previously two separate jobs, each
    // paying the full per-action plan/AQE fixed cost): bounds over the
    // distinct non-null key tuples equal bounds over the rows that can
    // match — NULL-keyed rows match nothing, and min/max ignore NULLs.
    val srcKeys = source.select(keys.map(col): _*)
    val cols = base.columns.toSeq
    val kAgg = source
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val kAggCols = keys.flatMap(k =>
      Seq(org.apache.spark.sql.functions.min(col(k)),
        org.apache.spark.sql.functions.max(col(k)))) :+
      org.apache.spark.sql.functions.max(col("__n"))
    val kRow = kAgg.agg(kAggCols.head, kAggCols.tail: _*).head()
    require(kRow.isNullAt(2 * keys.size) ||
        kRow.getLong(2 * keys.size) <= 1L,
      "merge source has multiple rows per key — the upsert would be " +
        "order-dependent (MERGE cardinality violation)")
    // find-touched is stats-pruned BEFORE any data IO: only files whose
    // manifest key interval intersects the source's key bounds are
    // scanned for the exact semi join — on a key-clustered layout a
    // key-local delta opens a handful of files, not the table
    val candidates = pruneByKeyBounds(b.entries, srcKeys, keys, b.epochs,
      boundsRow = Some(kRow))
    // matched-hit counts per file in one LIVE pass: find-touched and
    // the MoR split from the same manifest-sized collect
    val matched = (d: DataFrame) => d.join(srcKeys, keys, "left_semi")
    val matchHits = hitCounts(spark, b, candidates, matched)
    val matchTouched = b.cur.filter(matchHits.contains)
    // a by-source clause also touches every file holding an APPLICABLE
    // unmatched row — unprunable in general (the condition is over
    // arbitrary base columns), inherent to full-sync semantics
    val bySourceTouched = bySource match {
      case None => Seq.empty[String]
      case Some(a) =>
        val unmatched = readLive(spark, root, b.entries, withMeta = true,
          schemaCtx = ctx)
          .join(srcKeys, keys, "left_anti")
        val applicable = (a match {
          case BySourceDelete(c) => c
          case BySourceUpdate(_, c) => c
        }).map(unmatched.filter).getOrElse(unmatched)
        // distinct file names: ≤ |files| rows — manifest-sized
        applicable.select(col("__file")).distinct().collect()
          .map(_.getString(0)).toSet.toSeq.sorted
    }
    val touched = (matchTouched ++ bySourceTouched).distinct
    // MoR split: matched files whose hit fraction is small keep their
    // bytes — old images DV out, new images ride the staged delta (a
    // by-source clause forces dvFrac 0, so it rewrites every file)
    val (dvLines, rwT) =
      stageMorDeletes(spark, b, touched, matchHits, dvFrac, matched)
    val delC = deleteWhen.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val rewrite: DataFrame =
      if (touched.isEmpty) {
        // nothing matched, nothing by-source-applicable: pure insert
        insertWhen.map(c => source.filter(coalesce(c, lit(false))))
          .getOrElse(source).filter(!delC)
      } else if (updateWhen.isEmpty && insertWhen.isEmpty &&
          bySource.isEmpty && dvLines.isEmpty) {
        // plain-upsert fast path (the overwhelmingly common shape):
        // ONE anti join over the touched files + the blind source
        // union — no matched/unmatched source split, so the touched
        // files scan once, not three times. With row lineage ON the
        // survivors carry their ids (the source's upserted images
        // mint fresh ones — the object API's documented v1 contract;
        // the engine-planned SQL MERGE preserves per-row)
        readForRewrite(spark, root, b.entriesOf(touched), ctx, lineage)
          .join(srcKeys, keys, "left_anti")
          .unionByName(source.filter(!delC).select(cols.map(col): _*),
            allowMissingColumns = lineage)
      } else {
        val t = readLive(spark, root, b.entriesOf(touched), schemaCtx = ctx)
        val tKeys = t.select(keys.map(col): _*)
        // NOT MATCHED BY SOURCE: unmatched base rows in touched files
        // — only REWRITTEN files re-emit them; a DV'd file's unmatched
        // rows stay physically in place
        val um =
          if (rwT.isEmpty) t.join(srcKeys, keys, "left_anti").limit(0)
          else readLive(spark, root, b.entriesOf(rwT), schemaCtx = ctx)
            .join(srcKeys, keys, "left_anti")
        val umOut = bySource match {
          case None => um
          case Some(BySourceDelete(c)) =>
            um.filter(!coalesce(c.getOrElse(lit(true)), lit(false)))
          case Some(BySourceUpdate(set, c)) =>
            val setM = set.toMap
            require(setM.keySet.subsetOf(cols.toSet),
              s"bySource UPDATE sets unknown column(s): " +
                s"${setM.keySet.diff(cols.toSet).mkString(",")}")
            val cc = coalesce(c.getOrElse(lit(true)), lit(false))
            um.select(cols.map(n => setM.get(n)
              .map(e => when(cc, e).otherwise(col(n)))
              .getOrElse(col(n)).as(n)): _*)
        }
        // MATCHED: source rows whose key exists in a touched file
        val srcMatched = source.join(tKeys, keys, "left_semi")
        val matchedOut = updateWhen match {
          case None =>
            // unconditional upsert fast path: matched base images drop
            // (they are not in um), flag-free source images re-enter
            srcMatched.filter(!delC)
          case Some(u) =>
            // SQL MERGE's per-target-row semantics: every matched base
            // row decides via the (source, __base_*) pair — update
            // where TRUE, survive UNCHANGED otherwise
            val bRenamed = cols.filterNot(keys.contains)
              .foldLeft(t)((d, c) => d.withColumnRenamed(c, s"__base_$c"))
            val joined = bRenamed.join(source, keys, "inner")
            val uc = coalesce(u, lit(false))
            joined.filter(!delC).select(cols.map { c =>
              (if (keys.contains(c)) col(c)
               else when(uc, col(c)).otherwise(col(s"__base_$c"))).as(c)
            }: _*)
        }
        // NOT MATCHED: unmatched source rows insert (condition-guarded)
        val srcUnmatched = source.join(tKeys, keys, "left_anti")
        val inserts = insertWhen
          .map(c => srcUnmatched.filter(coalesce(c, lit(false))))
          .getOrElse(srcUnmatched).filter(!delC)
        umOut.select(cols.map(col): _*)
          .unionByName(matchedOut.select(cols.map(col): _*))
          .unionByName(inserts.select(cols.map(col): _*))
      }
    val keepCols = cols ++
      (if (lineage && rewrite.columns.contains(RowIdCol)) Seq(RowIdCol)
       else Nil)
    val staged = stageFiles(
      rewrite.select(keepCols.map(col): _*), root, b.fs, branch) ++ dvLines
    // conflict scope: ANY source key — an interleaved commit that
    // added a row this merge would have matched (updated, or collided
    // with an insert) cannot serialize either side of it. A by-source
    // clause reads the WHOLE unmatched mass, so there ANY interleaved
    // row conflicts.
    val overlaps = (paths: Seq[String]) =>
      if (bySource.isDefined)
        !spark.read.option("mergeSchema", "true").parquet(paths: _*).isEmpty
      else
        !spark.read.option("mergeSchema", "true").parquet(paths: _*)
          .select(keys.map(col): _*).join(srcKeys, keys, "left_semi").isEmpty
    commitRewrite(b, touched, staged, overlaps)
  }

  /** Catalyst predicate → V1 Filter for the shapes the manifest
    * matchers consume (attribute-vs-literal comparisons, IN, null
    * probes, And/Or). Literal values convert to their EXTERNAL Scala
    * forms (java.sql.Date etc. — what the tuple/stat matchers expect
    * from pushed filters). Casts and everything else decline — an
    * untranslatable conjunct prunes nothing, never wrongly.
    */
  private def toV1Filter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.{sources => v1}
    def ext(l: Literal): Any = convertToScala(l.value, l.dataType)
    e match {
      case EqualTo(a: Attribute, l: Literal) =>
        Some(v1.EqualTo(a.name, ext(l)))
      case EqualTo(l: Literal, a: Attribute) =>
        Some(v1.EqualTo(a.name, ext(l)))
      case GreaterThan(a: Attribute, l: Literal) =>
        Some(v1.GreaterThan(a.name, ext(l)))
      case GreaterThan(l: Literal, a: Attribute) =>
        Some(v1.LessThan(a.name, ext(l)))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        Some(v1.GreaterThanOrEqual(a.name, ext(l)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        Some(v1.LessThanOrEqual(a.name, ext(l)))
      case LessThan(a: Attribute, l: Literal) =>
        Some(v1.LessThan(a.name, ext(l)))
      case LessThan(l: Literal, a: Attribute) =>
        Some(v1.GreaterThan(a.name, ext(l)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        Some(v1.LessThanOrEqual(a.name, ext(l)))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        Some(v1.GreaterThanOrEqual(a.name, ext(l)))
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(v1.In(a.name,
          vs.map(v => ext(v.asInstanceOf[Literal])).toArray))
      case IsNull(a: Attribute) => Some(v1.IsNull(a.name))
      case IsNotNull(a: Attribute) => Some(v1.IsNotNull(a.name))
      case And(l, r) => for {
        lf <- toV1Filter(l); rf <- toV1Filter(r)
      } yield v1.And(lf, rf)
      case Or(l, r) => for {
        lf <- toV1Filter(l); rf <- toV1Filter(r)
      } yield v1.Or(lf, rf)
      case _ => None
    }
  }

  /** Translation works on the RAW (unanalyzed) expression tree — the
    * Column DSL builds exactly the attribute-vs-literal shapes
    * [[toV1Filter]] matches, so no analyzer pass (and no schema) is
    * needed: a full analysis roundtrip per DELETE was measurable
    * per-commit overhead on commit-dense lifecycles. Unresolvable
    * shapes (functions, multi-part names) decline per conjunct.
    */
  private def translateCond(cond: Column)
      : Seq[Option[org.apache.spark.sql.sources.Filter]] =
    scala.util.Try {
      org.apache.spark.sql.graftshim.GraftSqlInternals
        .predicateConjuncts(cond).map(_.flatMap(toV1Filter))
    }.getOrElse(Nil)

  /** The find-touched split a DELETE WHERE plans from the manifest
    * alone (also the spec face of it): file →
    *
    *  - `covered`: the partition tuple PROVES every row matches — the
    *    file drops by REFERENCE, zero IO (Iceberg's metadata delete:
    *    a months-aligned retention DELETE is an O(manifest) commit);
    *  - `refuted`: stats intervals / bloom / partition tuple prove NO
    *    row matches — never opened, rides by reference;
    *  - `candidates`: everything else — the only files the
    *    find-touched scan opens.
    *
    * Coverage requires EVERY conjunct of the predicate translated and
    * proven (a partially-translated predicate can still refute, but
    * can never cover). Both directions are advisory for correctness —
    * refuted files would contribute no hits, covered files' rows all
    * match — so the split only moves IO, not semantics.
    */
  private[graft] def deleteSplit(spark: SparkSession, dir: String,
      cond: Column, branch: Option[String] = None)
      : (Seq[String], Seq[String], Seq[String]) = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val (_, headPath, baseLines) = lineageSnapshot(fs, root, branch)
    val headMeta = readMeta(fs, headPath)
    deleteSplitOf(cond, baseLines.map(parseEntry), schemaCtxOf(headMeta),
      headMeta)
  }

  private def deleteSplitOf(cond: Column,
      entries: Seq[(String, FileStats)],
      ctx: Option[(StructType, Seq[Map[Int, String]])],
      headMeta: Map[String, String])
      : (Seq[String], Seq[String], Seq[String]) = {
    val epochs = ctx.map(_._2).getOrElse(Nil)
    val specs = ManifestPartitions.decodeSpecs(
      headMeta.get(ManifestPartitions.SpecsKey))
    val conjuncts = translateCond(cond)
    val translated = conjuncts.flatten
    val allTranslated =
      conjuncts.nonEmpty && conjuncts.forall(_.isDefined)
    val covered = scala.collection.mutable.ArrayBuffer.empty[String]
    val refuted = scala.collection.mutable.ArrayBuffer.empty[String]
    val cands = scala.collection.mutable.ArrayBuffer.empty[String]
    entries.foreach { case (rel, raw) =>
      val eff = rekeyStats(epochs, raw)
      val pm = physMap(epochs, raw)
      if (eff.rows.contains(0L) ||
          translated.exists(f =>
            !ManifestDataSource.mayMatch(eff, f) ||
              !ManifestPartitions.entryMayMatch(specs, raw, f, pm)))
        refuted += rel
      else if (allTranslated && translated.forall(f =>
          ManifestPartitions.entryMustMatch(specs, raw, f, pm)))
        covered += rel
      else cands += rel
    }
    (covered.toSeq, cands.toSeq, refuted.toSeq)
  }

  /** Row-level DELETE WHERE — `cond` follows SQL DELETE semantics:
    * rows where it evaluates TRUE are removed; FALSE and NULL rows
    * SURVIVE (the three-valued-logic edge CompactionSpec pins).
    * Copy-on-write by default: only files holding ≥ 1 matching row
    * rewrite (with the negated, null-safe filter), everything else
    * rides into the new manifest by reference; a predicate matching
    * nothing commits nothing (version unchanged).
    *
    * Find-touched is MANIFEST-PRUNED before anything opens: stats
    * intervals / blooms / partition tuples refute files the predicate
    * cannot touch (they are never read), and a file whose partition
    * tuple PROVES every row matches drops by REFERENCE with zero IO —
    * a partition-aligned retention DELETE (`WHERE dt < X` on a
    * months(dt) table) is an O(manifest) metadata commit (Iceberg's
    * metadata delete). Only genuinely ambiguous files are scanned.
    *
    * `dvMaxFraction` enables MERGE-ON-READ per file: a touched file
    * whose deleted fraction (hits / physical rows) is ≤ the threshold
    * is NOT rewritten — the deleted positions go to a deletion-vector
    * sidecar and the file keeps riding by reference (a one-row delete
    * in a 1 GB file moves ~16 bytes, not 1 GB). 0 (the default) keeps
    * pure copy-on-write; the threshold is deployment policy — read
    * amplification (an anti join per dirty file) against write
    * amplification.
    */
  def deleteWhere(spark: SparkSession, dir: String, cond: Column,
      dvMaxFraction: Double = 0.0,
      branch: Option[String] = None): Long = {
    val b = dmlBase(spark, dir, "deleteWhere", dvMaxFraction, branch)
    // manifest-level split BEFORE anything opens: refuted files are
    // never read, covered files drop by reference (metadata delete),
    // only the ambiguous middle is scanned
    val (covered, cands, _) = deleteSplitOf(cond, b.entries, b.ctx, b.headMeta)
    deleteRows(spark, b, dvMaxFraction, covered, cands,
      matched = _.filter(cond),
      survivors = _.filter(!coalesce(cond, lit(false))),
      // conflict scope: the delete predicate — interleaved rows it would
      // have deleted make the serial orders disagree
      overlaps = paths =>
        !spark.read.option("mergeSchema", "true").parquet(paths: _*)
          .filter(cond).isEmpty)
  }

  /** Row-level DELETE by key set — `DELETE WHERE key IN (subquery)`,
    * the form CDC apply needs (the keys come from a change feed, not a
    * predicate): rows whose key tuple appears in `keys` (whose columns
    * name the key) are removed under SQL IN semantics (NULL keys never
    * match). Same copy-on-write plan as [[merge]]: touched files found
    * by a key-column scan + semi join, only those rewritten (anti
    * join), the rest ride by reference; an empty match commits
    * nothing.
    */
  def deleteMatching(spark: SparkSession, dir: String,
      keys: DataFrame, dvMaxFraction: Double = 0.0,
      branch: Option[String] = None): Long = {
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteMatching needs at least one key column")
    val b = dmlBase(spark, dir, "deleteMatching", dvMaxFraction, branch)
    val k = keys.distinct()
    // same stats-pruned find-touched as merge: the key feed's bounds
    // refute non-intersecting files from the manifest alone
    deleteRows(spark, b, dvMaxFraction, covered = Nil,
      candidates = pruneByKeyBounds(b.entries, k, keyCols, b.epochs),
      matched = _.join(k, keyCols, "left_semi"),
      survivors = _.join(k, keyCols, "left_anti"),
      overlaps = paths =>
        !spark.read.option("mergeSchema", "true").parquet(paths: _*)
          .select(keyCols.map(col): _*).join(k, keyCols, "left_semi")
          .isEmpty)
  }

  /** ATOMIC CLUSTERED compaction — the `OPTIMIZE ... ZORDER BY` /
    * cluster-by maintenance move: like [[compact]] but the rewrite
    * range-partitions and sorts on `clusterBy` (one shuffle; pass a
    * z-interleave column — `LayoutOps.zorderLayout`'s construction —
    * for multi-dimensional keys), so every output file covers a TIGHT
    * key range and per-file (lo,hi) stats turn from useless (every
    * hash-partitioned file spans the whole range) to selective —
    * the write-side move that makes q131-style manifest skipping and
    * [[merge]]/[[deleteMatching]]'s find-touched pruning cheap. Always
    * rewrites (re-clustering IS the point, unlike [[compact]]'s
    * already-compact no-op); same single-rename publication.
    */
  def compactClustered(spark: SparkSession, dir: String,
      targetFileBytes: Long, clusterBy: Column): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val b = compactBase(spark, dir)
    require(b.baseLines.nonEmpty, s"manifested table $dir is empty — " +
      "schemaless empty reads are not supported")
    val needed = filesNeeded(b.fs, b.root, b.baseLines, targetFileBytes)
    compactRewrite(spark, dir, "compactClustered", b)(
      _.repartitionByRange(needed, clusterBy).sortWithinPartitions(clusterBy))
  }

  /** Table-health report — the numbers the OPTIMIZE decision is made
    * from, computed WITHOUT reading data: one row per current-snapshot
    * file with its byte size (driver-side FileSystem metadata, |files|
    * calls — manifest-sized), plus a `small` flag under
    * `smallFileBytes`. The classic lakehouse failure mode this
    * surfaces is small-file creep: streaming appends land a file per
    * batch per partition, and a thousand 100 KB files cost a thousand
    * task launches + footer reads per scan — the report's
    * small-file count is the [[compact]] trigger a maintenance loop
    * polls. Returned as a DataFrame so the report composes (alerting
    * thresholds, per-table rollups) like any other table.
    */
  def describeLayout(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val rows = currentFiles(spark, dir).map { f =>
      val len = fs.getFileStatus(new Path(root, f)).getLen
      (f, len, len < smallFileBytes)
    }
    rows.toDF("file", "bytes", "small")
  }

  /** Default [[vacuum]] retention: unreferenced files younger than
    * this survive (Delta's 7-day VACUUM default — long enough that any
    * in-flight stage or straggling reader of a superseded snapshot has
    * finished).
    */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Reclaim files the RETAINED snapshots don't reference: orphans
    * from aborted stages and data superseded past the retention
    * horizon. `keepLast` is the retention policy — the newest n
    * manifests survive, so [[readAt]]/[[changesBetween]] keep working
    * across exactly that window (time travel and vacuum compose
    * instead of excluding each other); the default keeps only the
    * current snapshot. Returns the number of data files deleted. Run
    * OUT-OF-BAND — the separation of publication (atomic, instant)
    * from deletion (lazy, maintenance) is what makes racing readers
    * safe.
    *
    * `minAgeMillis` is the age guard that makes out-of-band safe
    * against CONCURRENT WRITERS too: a racing job's staged-but-
    * uncommitted files are unreferenced by every manifest, and
    * deleting them would let its later commit publish references to
    * missing data — the table would be permanently unreadable. Files
    * whose mtime is within the threshold are therefore skipped (the
    * Delta VACUUM retention construction); pass 0 ONLY when no writer
    * can be in flight.
    *
    * `_manifests` is listed ONCE, and everything vacuum reasons about
    * there — retained versions, branch and main heads, tags, the
    * checkpoints it writes and sweeps — comes from that listing: a
    * commit that lands after it is never a deletion candidate. A tag
    * created while vacuum runs is not seen; tag before vacuuming.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      minAgeMillis: Long = DefaultVacuumRetentionMs): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    require(minAgeMillis >= 0, s"minAgeMillis must be >= 0, got $minAgeMillis")
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    val listing = manifestListing(fs, root)
    val vs = versionsIn(listing)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val byV = vs.toMap
    // manifests get the SAME age guard as data files: an in-flight
    // time-travel read, changesBetween, or streaming batch planning
    // that already listed versions must not lose its manifest
    // mid-query inside the retention window — so superseded manifests
    // younger than the cutoff survive this pass (and their entries
    // join the live set, keeping those versions fully READABLE, not
    // just listable). LIVE BRANCH HEADS are additionally retained
    // regardless of age: an unpromoted write-audit-publish staging
    // snapshot must survive maintenance until promoted or dropped.
    val branchHeadVs: Set[Long] = liveBranchHeads(fs, vs).map(_._2).toSet
    // the MAIN head is retained unconditionally too: with a branch
    // commit as the newest global version, keepLast alone could drop
    // the snapshot every main reader resolves
    val mainHeadV = headIn(fs, vs, None).map(_._1).getOrElse(0L)
    // TAGGED versions are retained unconditionally, whatever keepLast
    // says — ref-scoped retention: a tag is a promise that `VERSION AS
    // OF '<tag>'` outlives maintenance; drop_tag releases the version
    // back to normal retention
    val taggedVs: Set[Long] = tagsIn(fs, listing).map(_._2).toSet
    // EQ-DELETE bases: a pending eq-delete's applies-to scope resolves
    // through its BASE snapshot's manifest — any retained version with
    // pending deletes pins their bases (to fixpoint: a pinned base's
    // own pending deletes pin further back; compaction's tombstones
    // release the chain)
    val eqBaseKeep: Set[Long] = {
      var keep = Set.empty[Long]
      var changed = true
      while (changed) {
        val retainedNow = vs.takeRight(keepLast).map(_._1).toSet ++
          branchHeadVs ++ taggedVs ++ keep + mainHeadV
        val need = vs.filter(v => retainedNow(v._1))
          .flatMap(v => eqDeletesOf(readMeta(fs, v._2)).map(_.baseV))
          .filter(b => b > 0L && byV.contains(b)).toSet
        val add = need -- keep
        changed = add.nonEmpty
        keep ++= add
      }
      keep
    }
    val dropped = vs.dropRight(keepLast)
      .filter(v => !branchHeadVs(v._1) && v._1 != mainHeadV &&
        !taggedVs(v._1) && !eqBaseKeep(v._1) &&
        fs.getFileStatus(v._2).getModificationTime <= cutoff)
    val droppedSet = dropped.map(_._1).toSet
    val retained = vs.filterNot(v => droppedSet(v._1))
    // every retained version must stay RESOLVABLE once the manifests
    // below it drop: a retained delta whose PARENT CHAIN crosses the
    // dropped set gets a checkpoint fence first (with branches the
    // chain follows explicit parent pointers, so each lineage fences
    // independently — for a linear history this degenerates to the
    // single oldest-retained checkpoint). Every fence must verifiably
    // EXIST before any manifest deletion — a failed write skips the
    // manifest pass (derived state: retrying next vacuum is free).
    // Each retained version's chain is walked exactly as the resolver
    // walks it (checkpoint-first at EVERY step, own version included);
    // a chain that would cross a dropped or already-missing link gets
    // a checkpoint fence at the retained version itself, and every
    // checkpoint a chain STOPS at is recorded as an ANCHOR — anchored
    // checkpoints survive even when their version's manifest drops
    // (the model-check counterexample: v4's chain anchoring on
    // dropped v2's checkpoint, which a blind cleanup then deleted).
    val planned = scala.collection.mutable.Set.empty[Long]
    val anchors = scala.collection.mutable.Set.empty[Long]
    retained.map(_._1).foreach { v0 =>
      var cur = v0
      var walking = true
      while (walking) {
        if (cur == 0L) walking = false
        else if (planned(cur) || fs.exists(checkpointPathOf(root, cur))) {
          anchors += cur
          walking = false
        } else byV.get(cur) match {
          case None => // link gone with no checkpoint: fence v0 itself
            planned += v0; anchors += v0; walking = false
          case Some(pp) =>
            if (cur != v0 && droppedSet(cur)) {
              planned += v0; anchors += v0; walking = false
            } else readMeta(fs, pp).get(DeltaKey) match {
              case None => walking = false // full manifest, retained
              case Some(b) => cur = b.toLong
            }
        }
      }
    }
    planned.foreach(v => writeCheckpointAt(fs, root, v, byV))
    val fenced =
      planned.forall(v => fs.exists(checkpointPathOf(root, v)))
    // memoized tree fold for the live set (each lineage resolves its
    // own parents; O(retained) small reads). Eq-delete SIDECARS are
    // referenced from retained versions' META, not their entry lines —
    // they join the live set the same way DV sidecars do.
    val linesOf = lineageResolver(fs, root, byV)
    val live = retained.flatMap(r => linesOf(r._1).map(parseEntry))
      .flatMap(e => e._1 +: e._2.dv.toSeq).toSet ++
      retained.flatMap(r =>
        eqDeletesOf(readMeta(fs, r._2)).map(_.sidecar)).toSet
    var deleted = 0
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && (s.getPath.getName.startsWith("data-") ||
        s.getPath.getName.startsWith("dv-")))
      .foreach { d =>
        val stage = d.getPath.getName
        fs.listStatus(d.getPath).toSeq.filter(_.isFile).foreach { f =>
          val rel = s"$stage/${f.getPath.getName}"
          val keep = live.contains(rel) ||
            f.getModificationTime > cutoff || // possibly mid-commit
            f.getPath.getName.startsWith("_") // Spark's _SUCCESS markers
          if (!keep) { fs.delete(f.getPath, false); deleted += 1 }
        }
        // the dir itself is subject to the same age guard: a racing
        // writer may have created its stage dir but written nothing yet
        if (d.getModificationTime <= cutoff &&
            fs.listStatus(d.getPath).forall(s =>
              s.getPath.getName.startsWith("_")))
          fs.delete(d.getPath, true)
      }
    if (fenced) {
      dropped.foreach { v =>
        fs.delete(v._2, false)
        // a dropped version's checkpoint goes with it UNLESS a
        // retained chain anchors on it
        val cp = checkpointPathOf(root, v._1)
        if (!anchors(v._1) && fs.exists(cp)) fs.delete(cp, false)
      }
      // checkpoints of versions already gone from the listing whose
      // anchor role has ended (age-guarded like everything else)
      listing
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(CheckpointPrefix))
        .foreach { st =>
          scala.util.Try(st.getPath.getName
            .stripPrefix(CheckpointPrefix).toLong).toOption.foreach { v =>
            if (!byV.contains(v) && !anchors(v) &&
                st.getModificationTime <= cutoff)
              fs.delete(st.getPath, false)
          }
        }
    }
    deleted
  }
}
