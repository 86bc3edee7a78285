package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (suites run in one forked JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[4]", 4)
      .appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // tests assert on full plan strings (PlanAuditSpec, LlmOpsSpec) —
    // undo the session default that bounds per-action plan rendering
    // on the execution hot path
    s.conf.set("spark.sql.maxPlanStringLength", Int.MaxValue - 15)
    s
  }
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"

  // the suite's temp dirs, deleted after the suite. They stay directly
  // under the temp dir, not under one suite root: several tests assert on
  // plan strings that print a scan's path, which Spark cuts at 100
  // characters, and a suite name in the path (SourceFormatsSpec holds
  // "ts") could match a column name such a test asserts absent
  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its contents after the suite. */
  protected def tempDir(prefix: String): Path = made.synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.synchronized {
      made.foreach(d => FileUtils.deleteQuietly(d.toFile))
      made.clear()
    }
}
