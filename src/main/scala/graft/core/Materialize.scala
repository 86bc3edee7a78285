package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materializes a result off its lineage so upstream caches can be
  * released before the result is returned — the one fence primitive of
  * the engine, and the one owner of per-query caches and scratch tables.
  *
  * A builder that reuses an intermediate persists it through
  * [[caching]]: the level is fixed at MEMORY_AND_DISK (spills instead of
  * failing at corpus size), and every cached frame is released after the
  * result is fenced — also when the builder or the fence throws.
  *
  * `localCheckpoint(eager = true)` computes the plan once and stores the
  * partitions as executor-local blocks — the result never passes through
  * the driver, so it is safe for outputs of data-dependent size
  * (candidate-pair sets, stream join results) where a `collect()`-pin
  * would OOM the driver at 100 TB. The blocks are reclaimed by the
  * ContextCleaner once the caller drops the reference. Driver-side
  * `collect()` remains appropriate ONLY for provably tiny aggregates
  * (fixed-cardinality group-bys).
  *
  * Durability caveat: the blocks are stored MEMORY_AND_DISK with a
  * SINGLE replica, and the checkpoint cuts the lineage — after `release`
  * runs, the upstream caches (or scratch tables) needed to recompute are
  * gone, so losing the executor that holds a block loses the detached
  * result unrecoverably and the query must be rerun. Fine for local[n]
  * (one JVM, where executor loss is process loss); a cluster deployment
  * would need a replicated level or a reliable `checkpoint()` to a
  * replicated filesystem to survive a single executor loss.
  */
object Materialize {
  /** Session conf key, set ONLY by plan inspection (ExplainAudit, and
    * PlanAuditSpec on a session of its own): when "true" on a frame's
    * session, [[detached]] returns the un-checkpointed frame so the FULL
    * plan stays visible to plan-shape tooling — r13's snapshot recorded
    * ~27 detached queries as a bare post-checkpoint `{"Scan":1}`,
    * blinding `tools/plancheck.py` to precisely the most intricate
    * plans. The release closure still runs in this mode: the audit
    * never EXECUTES the returned frame, so unpersisting is always safe,
    * and some builders (q71's dupComponents convergence loop) run
    * count() actions while the frame is being BUILT — their persisted
    * intermediates are real and would otherwise accumulate across the
    * ~150-query audit JVM. Unpersisting also yields a fuller lineage
    * snapshot (no InMemoryRelation stubs). Never enable outside plan
    * inspection — execution paths rely on the checkpoint both for the
    * re-planning fence (q121's bloom literal) and for cache release.
    * Read from the frame's own session, so a session that audits cannot
    * change what a concurrently executing session materializes.
    */
  val PassthroughKey = "graft.audit.passthrough"

  /** Checkpoint `df` off-lineage, then run `release` (unpersist the
    * upstream caches the plan depended on), and return the detached
    * result.
    */
  def detached(df: DataFrame)(release: => Unit): DataFrame =
    if (df.sparkSession.conf.getOption(PassthroughKey).contains("true")) {
      release; df
    } else {
      val out = df.localCheckpoint(true)
      release
      out
    }

  /** The intermediates one query persisted, released together. */
  final class Caches {
    private var frames = List.empty[DataFrame]

    /** Persists `df` at MEMORY_AND_DISK and returns it. */
    def apply(df: DataFrame): DataFrame = {
      frames ::= df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Unpersists every frame cached so far (non-blocking). */
    def release(): Unit = frames.foreach(_.unpersist(blocking = false))
  }

  /** Builds a result over a fresh [[Caches]], fences it ([[detached]]),
    * then releases the caches — after the checkpoint, so the fence reads
    * them, and also when `build` or the fence throws. Under
    * [[PassthroughKey]] the result comes back unfenced with its caches
    * already released, as [[detached]] does for its release.
    */
  def caching(build: Caches => DataFrame): DataFrame = {
    val c = new Caches
    try detached(build(c))(())
    finally c.release()
  }

  /** [[owning]] over fresh local temp dirs, one per tag, handed to
    * `build` in tag order.
    */
  def scratch(s: SparkSession, tags: String*)(build: Seq[String] => DataFrame)
             (release: => Unit = ()): DataFrame = {
    val dirs = tags.map(java.nio.file.Files.createTempDirectory(_).toString)
    owning(s, dirs: _*)(build(dirs))(release)
  }

  /** Builds a result over scratch tables stored under `dirs`, fences it
    * ([[detached]], running `release` after the checkpoint), then deletes
    * `dirs` — also when `build` or `release` throws, so a failing
    * builder leaves no scratch table behind.
    */
  def owning(s: SparkSession, dirs: String*)(build: => DataFrame)
            (release: => Unit): DataFrame =
    try detached(build)(release)
    finally {
      val conf = s.sessionState.newHadoopConf()
      dirs.foreach { d => val p = new Path(d); p.getFileSystem(conf).delete(p, true) }
    }
}
