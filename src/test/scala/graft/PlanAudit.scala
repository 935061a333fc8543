package graft

/** Registry-wide physical-plan audit: one line per registered query with
  * the plan features that matter at 100 TB —
  *
  *   exch     - `Exchange hashpartitioning` count (shuffles)
  *   smj/bhj  - sort-merge / broadcast-hash join counts
  *   bnlj     - BroadcastNestedLoopJoin count (fine for 1-row dims,
  *              a scale bug on anything larger)
  *   cart     - CartesianProduct count (almost always a bug)
  *   wsc      - WholeStageCodegen span count
  *
  * and a final summary listing every query with a cartesian product or
  * nested-loop join for adjudication (PLANS.md records the verdicts).
  * Plans are built, not executed (construction-time jobs — sketch
  * training, index builds — do run, same as Bench warmup).
  *
  * Run: sbt "Test/runMain graft.PlanAudit [sfDir]".
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def count(plan: String, pat: String): Int = pat.r.findAllIn(plan).size
    var flagged = List.empty[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val exch = count(plan, "Exchange hashpartitioning")
        val smj = count(plan, "SortMergeJoin")
        val bhj = count(plan, "BroadcastHashJoin")
        val bnlj = count(plan, "BroadcastNestedLoopJoin")
        val cart = count(plan, "CartesianProduct")
        val wsc = count(plan, "WholeStageCodegen")
        println(s"[plan-audit] $name exch=$exch smj=$smj bhj=$bhj " +
          s"bnlj=$bnlj cart=$cart wsc=$wsc")
        if (cart > 0) flagged ::= (name, s"cartesian x$cart")
        if (bnlj > 0) flagged ::= (name, s"bnlj x$bnlj")
      } catch { case e: Throwable =>
        println(s"[plan-audit] $name ERROR ${e.getMessage}")
      }
    }
    if (flagged.isEmpty) println("[plan-audit] SUMMARY clean")
    else flagged.reverse.foreach { case (n, why) =>
      println(s"[plan-audit] SUMMARY flag $n: $why")
    }
    spark.stop()
  }
}
