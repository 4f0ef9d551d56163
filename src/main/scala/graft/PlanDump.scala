package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: write `.explain("formatted")` for a CSV of declared
  * queries to files — the plan-evidence artifacts the optimization rounds
  * commit under plans/rNN/ (VERDICT checks plan claims against these).
  *
  * Usage: `sbt "runMain graft.PlanDump q424_lsh_band_plan,q457_cluster_consensus
  *   plans/r11 /root/testdata/sf0.01 before"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = Harness.queryNames(args(0))
    val outDir = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val suffix = if (args.length > 3) args(3) else "before"
    val loop = new Harness.Loop()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      loop(n) { s =>
        val plan = SparkEntry.queries(n)(s, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      }.error.foreach(msg => System.err.println(s"[plandump] $n failed: $msg"))
    }
    loop.stop()
  }
}
