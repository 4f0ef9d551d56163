package graft

/** Local-only smoke main for the streaming micro-bench (not a driver
  * contract; kept tiny so StreamBench changes can be exercised without
  * a full Bench run). */
object StreamBenchSmoke {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("scaling")) {
      val rows = args.lift(1).map(_.toInt).getOrElse(8000)
      graft.streaming.StreamBench.runScaling(rows).toSeq.sortBy(_._1)
        .foreach { case (cfg, ops) =>
          ops.toSeq.sortBy(_._1).foreach { case (k, r) =>
            println(f"$cfg%-12s $k%-18s rps=${r.rows / r.sec}%9.0f batches=${r.batches}%3d state=${r.stateRows}%6d")
          }
        }
      return
    }
    val spark = Harness.session()
    val rows = args.headOption.map(_.toInt).getOrElse(20000)
    graft.streaming.StreamBench.run(spark, rows).toSeq.sortBy(_._1)
      .foreach { case (k, r) =>
        println(f"$k%-18s rows=${r.rows}%7d sec=${r.sec}%7.2f rps=${r.rows / r.sec}%9.0f batches=${r.batches}%3d state=${r.stateRows}%7d")
      }
    spark.stop()
  }
}
