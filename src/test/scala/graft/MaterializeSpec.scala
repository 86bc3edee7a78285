package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.Materialize

/** The fence primitive: where passthrough is read from, how a fence
  * stores its blocks, and that a cache or scratch scope always releases
  * what it holds.
  */
class MaterializeSpec extends SparkTestBase {

  private def isCheckpointLeaf(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("localCheckpoint stores MEMORY_AND_DISK whether or not the level is passed") {
    // detached calls localCheckpoint(true) and documents MEMORY_AND_DISK
    def levelOf(fence: DataFrame => DataFrame): StorageLevel = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = fence(spark.range(100).toDF("id"))
      val added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(isCheckpointLeaf(out) && added.size == 1)
      added.values.head.getStorageLevel
    }
    val default = levelOf(_.localCheckpoint(true))
    assert(default === levelOf(_.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)))
    assert(default === StorageLevel.MEMORY_AND_DISK)
  }

  test("passthrough is read from the frame's own session") {
    val audit = spark.newSession()
    audit.conf.set(Materialize.PassthroughKey, "true")
    var released = 0
    val fenced = Materialize.detached(spark.range(10).toDF("id"))(released += 1)
    assert(isCheckpointLeaf(fenced) && released === 1)
    val onAudit = audit.range(10).toDF("id")
    assert(Materialize.detached(onAudit)(released += 1) eq onAudit)
    assert(released === 2)
  }

  test("scratch fences before releasing, then deletes its dirs") {
    var dirs = Seq.empty[String]
    var existedAtRelease = false
    val out = Materialize.scratch(spark, "graft_ms_a", "graft_ms_b") { ds =>
      dirs = ds
      spark.range(5).toDF("id").write.parquet(s"${ds.head}/t")
      spark.read.parquet(s"${ds.head}/t")
    } { existedAtRelease = dirs.forall(new File(_).exists) }
    assert(dirs.size === 2 && existedAtRelease)
    assert(dirs.forall(!new File(_).exists))
    assert(out.count() === 5) // served by the fence, not the deleted files
  }

  test("a scratch builder that throws leaves no temp dir behind") {
    var dirs = Seq.empty[String]
    var released = false
    intercept[IllegalStateException] {
      Materialize.scratch(spark, "graft_ms_fail") { ds =>
        dirs = ds
        spark.range(5).toDF("id").write.parquet(s"${ds.head}/t")
        throw new IllegalStateException("builder failed")
      } { released = true }
    }
    assert(dirs.size === 1 && dirs.forall(!new File(_).exists))
    assert(!released)
  }

  test("caching fences the result, then releases every frame it cached") {
    var cached = Seq.empty[DataFrame]
    val out = Materialize.caching { c =>
      val ids = c(spark.range(100).toDF("id"))
      val even = c(ids.filter(col("id") % 2 === 0))
      cached = Seq(ids, even)
      ids.join(even, "id")
    }
    assert(isCheckpointLeaf(out))
    assert(cached.size === 2)
    assert(cached.forall(_.storageLevel == StorageLevel.NONE))
    assert(out.count() === 50) // served by the fence, not the caches
  }

  test("a caching builder that throws still releases its caches") {
    var cached: DataFrame = null
    var levelInside = StorageLevel.NONE
    intercept[IllegalStateException] {
      Materialize.caching { c =>
        cached = c(spark.range(10).toDF("id"))
        levelInside = cached.storageLevel
        throw new IllegalStateException("builder failed")
      }
    }
    assert(levelInside === StorageLevel.MEMORY_AND_DISK)
    assert(cached.storageLevel === StorageLevel.NONE)
  }

  test("under passthrough, caching returns the unfenced frame, caches released") {
    val audit = spark.newSession()
    audit.conf.set(Materialize.PassthroughKey, "true")
    var cached: DataFrame = null
    var built: DataFrame = null
    val out = Materialize.caching { c =>
      cached = c(audit.range(10).toDF("id"))
      built = cached.filter(col("id") > 4)
      built
    }
    assert(out eq built)
    assert(cached.storageLevel === StorageLevel.NONE)
  }
}
