package graft

/** Plan audit tool: prints the formatted physical plan of each (or one
  * named) SparkEntry query so scan pushdown (`PushedFilters`, `ReadSchema`),
  * broadcast vs shuffle joins, and whole-stage-codegen spans can be
  * inspected per round. Usage: runMain graft.ExplainAudit [queryName ...]
  *
  * Snapshot mode: `runMain graft.ExplainAudit --snapshot <file.json>`
  * writes a per-query histogram of physical-plan NODE TYPES (names only,
  * no expression ids — stable across runs) so rounds can diff plan
  * SHAPES mechanically the way BenchDiff diffs timings:
  * `python3 tools/plancheck.py old.json new.json` exits 1 on any
  * node-type change (an extra Exchange, a SortMergeJoin where a
  * BroadcastHashJoin was, a lost WindowGroupLimit...) with a per-query
  * diff. Queries added/removed between snapshots are reported but not
  * failures — the inventory is allowed to grow.
  *
  * Detached queries (core.Materialize): this main sets
  * `Materialize.PassthroughKey` on its own session so the FULL
  * un-checkpointed plan is what gets snapshotted/printed — without it,
  * ~27 queries recorded a
  * bare post-checkpoint `{"Scan":1}` and plancheck could not watch
  * precisely the most intricate plans (VERDICT r13 gap 2). Passthrough
  * is plan-inspection-only: queries are never EXECUTED here, so the
  * skipped checkpoint/release side effects don't matter.
  */
object ExplainAudit {

  /** Node-type histogram of a plan string: first identifier per tree
    * line, `*(n)` codegen markers and tree art stripped, `== ... ==`
    * section headers dropped. Counting (not just the set) catches
    * "one more Exchange" regressions.
    */
  private[graft] def nodeCounts(planStr: String): Map[String, Int] =
    planStr.linesIterator
      .map(_.dropWhile(c => " :+-".contains(c)))
      .filter(l => l.nonEmpty && !l.startsWith("=="))
      .map { l =>
        val s = if (l.startsWith("*(")) l.dropWhile(_ != ')').drop(1).trim
                else l
        s.takeWhile(c => c.isLetterOrDigit || c == '_')
      }
      .filter(_.nonEmpty)
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val snapshot = args.toSeq match {
      case Seq("--snapshot", f, rest @ _*) => Some((f, rest))
      case _ => None
    }
    val spark = graft.core.Sessions.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // plan INSPECTION wants the whole string: undo the session default
    // that bounds per-action plan rendering on the execution hot path
    // (Sessions.builder's spark.sql.maxPlanStringLength)
    spark.conf.set("spark.sql.maxPlanStringLength", Int.MaxValue - 15)
    spark.conf.set(graft.core.Materialize.PassthroughKey, "true")
    snapshot match {
      case Some((file, sel)) =>
        val names = if (sel.nonEmpty) sel else SparkEntry.queries.keys.toSeq.sorted
        val entries = names.map { n =>
          val counts =
            try nodeCounts(SparkEntry.queries(n)(spark, sfDir)
              .queryExecution.explainString(
                org.apache.spark.sql.execution.SimpleMode))
            catch { case e: Throwable =>
              Map("ERROR" -> 1) // a raising query must be visible in the diff
            }
          val body = counts.toSeq.sorted
            .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          s""""$n":$body"""
        }
        val json = entries.mkString("{\n", ",\n", "\n}")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(file), json + "\n")
        println(s"[explainaudit] wrote ${names.size} plan snapshots to $file")
      case None =>
        val names = if (args.nonEmpty) args.toSeq
                    else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"\n===== $n =====")
          try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        }
    }
    spark.stop()
  }
}
