package graft

/** One-off measurement: IVFADC cost vs nprobe at a fixed corpus — the
  * "cost tracks nprobe, not corpus" half of q120's scale claim (the
  * corpus half is ScaleBench's q120 row). Usage:
  * SPARK_GRAFT_SF_DIR=<dir> runMain graft.NprobeProbe
  */
object NprobeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def shot(np: Int): Double = {
      val t0 = System.nanoTime()
      val c = new graft.core.Materialize.Caches
      try LlmEntry.ivfadcPlan(spark, d, np)(c)
        .write.format("noop").mode("overwrite").save()
      finally c.release()
      (System.nanoTime() - t0) / 1e9
    }
    shot(3) // warmup (JIT + codegen)
    for (np <- args.toSeq.map(_.toInt) match {
           case Nil => Seq(1, 2, 3, 5, 8); case xs => xs }) {
      val ts = (1 to 3).map(_ => shot(np)).sorted
      println(f"[nprobe] np=$np median=${ts(1)}%.2f s " +
        s"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
