package graft

/** Diagnostic main: one-line physical-plan summary per declared query —
  * join strategies, exchange/sort counts, scan pruning — so a plan
  * regression (a theta join degrading to nested-loop, a new global sort,
  * an unpruned scan) is visible as a diff, not an anecdote. Executes each
  * query at the smallest SF so AQE finalizes its runtime choices.
  *
  * Usage: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val loop = new Harness.Loop()

    val interesting = Seq(
      "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct",
      "Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition", "Sort ", "Window", "Generate",
      "HashAggregate", "ObjectHashAggregate", "SortAggregate",
      "ReusedExchange")

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      loop(name) { s =>
        val df = fn(s, sfDir)
        // collect() on df's OWN QueryExecution so AQE finalizes the plan
        // we read — a side-channel noop write executes a separate
        // QueryExecution and would leave this one pre-AQE (isFinalPlan
        // false), misreporting exactly the strategy changes we audit
        df.collect()
        // AdaptiveSparkPlan's toString appends an "== Initial Plan =="
        // section after the final plan — slice it off or every operator
        // counts twice
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val counts = interesting.flatMap { op =>
          val n = plan.linesIterator.count(_.contains(op))
          if (n > 0) Some(s"$op=$n") else None
        }
        println(f"$name%-28s ${counts.mkString(" ")}")
      }.error.foreach(msg => println(f"$name%-28s FAILED: $msg"))
    }
    loop.stop()
  }
}
