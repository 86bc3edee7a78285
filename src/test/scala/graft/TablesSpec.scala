package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.core.Tables

/** The `Tables` schema memo: a repeat read starts no schema-inference
  * job, and a changed file set or parquet setting is inferred again.
  */
class TablesSpec extends SparkTestBase {

  /** Spark jobs `body` starts. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val counter = new Bench.JobCounter(spark.sparkContext)
    try {
      counter.take()
      val out = body
      (out, counter.take())
    } finally counter.close()
  }

  private def copyOf(name: String): String = {
    val dir = tempDir("graft_tables").toString
    spark.read.parquet(s"$sf/$name.parquet").write.parquet(s"$dir/$name.parquet")
    dir
  }

  test("a second read of the same file starts no job") {
    val dir = copyOf("nation")
    val (first, coldJobs) = jobsOf(Tables.table(spark, dir, "nation"))
    assert(coldJobs >= 1, "the cold read infers with a job")
    val (second, warmJobs) = jobsOf(Tables.table(spark, dir, "nation"))
    assert(warmJobs === 0)
    assert(second.schema === first.schema)
    // a fresh relation each time: the self-join resolves both sides
    val joined = first.as("a").join(second.as("b"),
      col("a.n_nationkey") === col("b.n_nationkey"))
    assert(joined.count() === first.count())
  }

  test("the memoized schema is the inferred one for every sf0.001 table") {
    val names = new java.io.File(sf).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("events") && names.size >= 10)
    for (n <- names) {
      Tables.table(spark, sf, n)
      val (memo, jobs) = jobsOf(Tables.table(spark, sf, n).schema)
      assert(jobs === 0, n)
      assert(memo === spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
    assert(Tables.events(spark, sf).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("a file rewritten with another schema is inferred again") {
    val path = tempDir("graft_tables_rw").resolve("t.parquet").toString
    spark.range(5).toDF("a").write.mode("overwrite").parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq === Seq("a"))
    spark.range(5).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(path)
    val (schema, jobs) = jobsOf(Tables.parquet(spark, path).schema)
    assert(schema.fieldNames.toSeq === Seq("b", "c"))
    assert(jobs >= 1)
  }

  test("flipping binaryAsString gives the other schema") {
    // written by parquet-mr, not Spark: a footer without Spark's own
    // schema, so the setting decides how the binary column reads
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = tempDir("graft_tables_bin").resolve("b.parquet").toString
    val mt = MessageTypeParser.parseMessageType(
      "message m { required binary v; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(mt).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(mt)
    try Seq("a", "b").foreach(v => w.write(rows.newGroup().append("v", v)))
    finally w.close()
    assert(Tables.parquet(spark, path).schema("v").dataType === BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.parquet(asString, path).schema("v").dataType === StringType)
    assert(Tables.parquet(spark, path).schema("v").dataType === BinaryType)
    assert(Tables.parquet(asString, path).schema("v").dataType === StringType)
  }

  test("two threads reading the same cold path both get its schema") {
    val path = tempDir("graft_tables_mt").resolve("m.parquet").toString
    spark.range(10).select(col("id"), col("id").cast("double").as("d"))
      .write.parquet(path)
    val expected = spark.read.parquet(path).schema
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val read: Callable[org.apache.spark.sql.types.StructType] = () => {
        barrier.await()
        Tables.parquet(spark, path).schema
      }
      val fs = Seq(pool.submit(read), pool.submit(read))
      fs.foreach(f => assert(f.get() === expected))
    } finally pool.shutdown()
    assert(jobsOf(Tables.parquet(spark, path).schema)._2 === 0)
  }

  test("an unchanged graft-manifest table resolves its schema without a job") {
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_tables_mf").toString
    ManifestedTable.write(spark.range(20).toDF("k"), dir, overwrite = true)
    def schema() = spark.read.format("graft-manifest").load(dir).schema
    val (first, coldJobs) = jobsOf(schema())
    assert(coldJobs >= 1)
    val (second, warmJobs) = jobsOf(schema())
    assert(warmJobs === 0)
    assert(second === first)
  }
}
