package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  * `runMain graft.Verify <sfDir> <outDir> [name...]` dumps the named
  * queries, or all of them when no name is given. */
object Verify {

  /** Dump one query's result as a single parquet under `outDir/name`. */
  def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
                name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
      .mode("overwrite").parquet(s"$outDir/$name")

  /** Write `outDir/oracle_sql.json` for the given query names.
    * JSON string escape covers backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness.
    */
  def writeOracleJson(outDir: String, names: Iterable[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.toSeq
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Error MARKER result for a query that raised: a one-row frame whose
    * single `_graft_error` column can never match any oracle's schema, so
    * the driver's compare records a visible per-query FAILURE in its
    * slot. Without this, a query that raises leaves NO output directory
    * and the round artifact silently OMITS it — round 11 read as
    * all-green while 7 queries were broken (ADVICE r11). Marker write
    * errors are swallowed: the caller's stderr line already tells the
    * story, and a broken slot (no files) still fails the driver compare
    * loudly.
    */
  private[graft] def writeErrorMarker(spark: SparkSession, outDir: String,
                                      name: String, e: Throwable): Unit =
    try {
      import spark.implicits._
      Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        .toDF("_graft_error").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val (sfDir, outDir) = (args(0), args(1))
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    names.foreach { name =>
      try dumpQuery(spark, sfDir, outDir, name)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        writeErrorMarker(spark, outDir, name, e)
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.sorted.mkString(", "))
    writeOracleJson(outDir, names)
    spark.stop()
  }
}
