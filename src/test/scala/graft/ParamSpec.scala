package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Param

/** `Param` answers as the literal it replaces, on the generated and the
  * interpreted path and in any session time zone, and its generated
  * code does not change with its value.
  */
class ParamSpec extends SparkTestBase {

  /** 48 hourly rows from 2016-01-07 00:00 UTC: an id, a double, a
    * timestamp and the timestamp's date in the session zone.
    */
  private def rows(s: SparkSession): DataFrame =
    s.range(48).select(col("id"), (col("id") * 0.5).as("x"),
        timestamp_seconds(col("id") * 3600 + 1452124800L).as("ts"))
      .withColumn("d", to_date(col("ts")))

  /** One query over `rows` with every constant passed through `bind`:
    * a double, a timestamp and a date cast from strings, and a typed
    * null, in filters and in the output.
    */
  private def query(s: SparkSession, bind: Column => Column): DataFrame = {
    val nul = bind(lit(null).cast("double"))
    rows(s)
      .filter(col("x") >= bind(lit(3.0)) &&
        col("ts") >= bind(lit("2016-01-08").cast("timestamp")))
      .select(col("id"), (col("x") + bind(lit(0.25))).as("x"),
        bind(lit("2016-01-08").cast("timestamp")).as("t0"),
        (col("d") === bind(lit("2016-01-08").cast("date"))).as("same_day"),
        nul.as("nul"), coalesce(nul, col("x")).as("x_or_nul"),
        (col("x") > nul).as("gt_nul"))
      .orderBy("id")
  }

  private def sameAsLiteral(s: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val got = query(s, Param.column).collect().toSeq
    assert(got === query(s, identity).collect().toSeq)
    assert(got.nonEmpty && got.size < 48)
    got
  }

  test("param answers as the literal on the generated code path") {
    val s = spark.newSession()
    val got = sameAsLiteral(s)
    assert(got.size === 24) // ids 24..47: midnight UTC of 2016-01-08
    val df = query(s, Param.column)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("param("), plan)
  }

  test("param answers as the literal on the interpreted path") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(sameAsLiteral(s).size === 24)
  }

  test("param casts its date strings in the session time zone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    // local midnight of 2016-01-08 is 16:00 UTC the day before
    assert(sameAsLiteral(s).size === 32)
  }

  test("param is not foldable and stays in the optimized plan") {
    val p = Param(org.apache.spark.sql.catalyst.expressions.Literal(1.5))
    assert(!p.foldable)
    val df = rows(spark).filter(col("x") >= Param.column(lit(3.0)))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("param(3.0)"), optimized)
  }

  test("the same filter with two values compiles once") {
    val s = spark.newSession()
    def compiles() = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def sumOver(bound: Column) =
      rows(s).filter(col("x") >= bound).agg(sum("x")).collect().head.getDouble(0)
    assert(sumOver(Param.column(lit(20.0))) === 20.0 + 20.5 + 21.0 + 21.5 + 22.0 + 22.5 + 23.0 + 23.5)
    val before = compiles()
    assert(sumOver(Param.column(lit(23.0))) === 23.0 + 23.5)
    assert(compiles() === before)
    // the literal form of a value not seen before compiles again
    sumOver(lit(23.123456789))
    assert(compiles() > before)
  }
}
