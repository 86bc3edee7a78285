package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** Local file system that counts `listStatus` calls on a table's
  * `_manifests` directory (instantiated by Hadoop through `fs.file.impl`,
  * so the count lives in the companion).
  */
class ManifestListingCountingFs extends RawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_manifests")
      ManifestListingCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object ManifestListingCountingFs {
  val listings = new AtomicInteger(0)
}

/** Manifest IO per operation on the manifested table, counted through
  * a file system that observes every listing.
  */
class ManifestIoSpec extends SparkTestBase {

  test("current-head lookup lists _manifests once") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_mio").toString
    val ev = core.Tables.events(spark, sf).select("event_id", "value")
    ManifestedTable.write(ev.filter(col("event_id") < 300), dir,
      overwrite = true)
    ManifestedTable.write(ev.filter(col("event_id") >= 300), dir,
      overwrite = false)
    val counted = spark.newSession()
    counted.conf.set("fs.file.impl", classOf[ManifestListingCountingFs].getName)
    counted.conf.set("fs.file.impl.disable.cache", "true")
    ManifestListingCountingFs.listings.set(0)
    val files = ManifestedTable.currentFiles(counted, dir)
    assert(ManifestListingCountingFs.listings.get() === 1)
    assert(files.sorted === ManifestedTable.currentFiles(spark, dir).sorted)
    assert(files.nonEmpty)
  }
}
