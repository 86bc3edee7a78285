package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** Local file system that counts `listStatus` calls on a table's
  * `_manifests` directory and opens of the files in it — manifests,
  * whose meta and entry reads each open the file once (instantiated by
  * Hadoop through `fs.file.impl`, so the counts live in the companion).
  */
class ManifestListingCountingFs extends RawLocalFileSystem {
  // commits take the local per-table lock by scheme
  override def getScheme: String = "file"
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_manifests")
      ManifestListingCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getParent != null && f.getParent.getName == "_manifests")
      ManifestListingCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object ManifestListingCountingFs {
  val listings = new AtomicInteger(0)
  val opens = new AtomicInteger(0)

  def reset(): Unit = { listings.set(0); opens.set(0) }
}

/** Manifest IO per operation on the manifested table, counted through
  * a file system that observes every listing.
  */
class ManifestIoSpec extends SparkTestBase {
  import graft.sources.ManifestedTable

  /** A two-commit table of `events(event_id, value)`. */
  private def twoCommits(prefix: String): String = {
    val dir = tempDir(prefix).toString
    val ev = core.Tables.events(spark, sf).select("event_id", "value")
    ManifestedTable.write(ev.filter(col("event_id") < 300), dir,
      overwrite = true)
    ManifestedTable.write(ev.filter(col("event_id") >= 300), dir,
      overwrite = false)
    dir
  }

  /** A session whose local file system counts manifest IO. */
  private def counted() = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[ManifestListingCountingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  test("current-head lookup lists _manifests once") {
    val dir = twoCommits("graft_mio")
    val counted = this.counted()
    ManifestListingCountingFs.reset()
    val files = ManifestedTable.currentFiles(counted, dir)
    assert(ManifestListingCountingFs.listings.get() === 1)
    assert(files.sorted === ManifestedTable.currentFiles(spark, dir).sorted)
    assert(files.nonEmpty)
  }

  test("deleteWhere resolves its base head once") {
    val dir = twoCommits("graft_mio_del")
    val kept = ManifestedTable.read(spark, dir)
      .filter(col("event_id") >= 10).count()
    ManifestListingCountingFs.reset()
    ManifestedTable.deleteWhere(counted(), dir, col("event_id") < 10)
    // head meta and base lines come from one listing: resolving the
    // head and then the base on their own made it 5 listings and 9
    // manifest opens (6 and 10 before the schema came from the head meta)
    assert(ManifestListingCountingFs.listings.get() === 4)
    assert(ManifestListingCountingFs.opens.get() === 8)
    assert(ManifestedTable.read(spark, dir).count() === kept)
  }

  test("vacuum lists _manifests once") {
    val dir = twoCommits("graft_mio_vac")
    ManifestedTable.deleteWhere(spark, dir, col("event_id") < 10)
    val live = ManifestedTable.currentFiles(spark, dir).sorted
    val rows = ManifestedTable.read(spark, dir).count()
    ManifestListingCountingFs.reset()
    ManifestedTable.vacuum(counted(), dir, minAgeMillis = 0)
    // it was 6: the branch and main heads, the tags, the checkpoint
    // fence and the checkpoint sweep each listed again
    assert(ManifestListingCountingFs.listings.get() === 1)
    assert(ManifestedTable.currentFiles(spark, dir).sorted === live)
    assert(ManifestedTable.read(spark, dir).count() === rows)
  }
}
