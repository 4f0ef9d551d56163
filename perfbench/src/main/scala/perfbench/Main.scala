package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point: runs one workload and writes its outcome as a
  * JSON file. Usage:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <events export or sf dir> --tmp <dir>
  *                  --artifacts <dir> --out <file>
  *                  [--cores <n>]
  *
  * `perfbench/run.py` builds the classpath, prepares the data and calls
  * this; it also owns the stdout contract, and BENCHMARK.json names the
  * workloads. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val a = RunArgs(
      workload = need("workload"), seed = need("seed").toLong, seconds = need("seconds").toDouble,
      trace = need("trace") == "1", data = need("data"), tmpDir = Paths.get(need("tmp")),
      artifactDir = Paths.get(need("artifacts")), cores = opts.getOrElse("cores", "4").toInt)
    Files.createDirectories(a.tmpDir)
    Files.createDirectories(a.artifactDir)
    val o = a.workload match {
      case "sink_bulk" => SinkWorkload.run(a)
      case "queries_sample" => QueryWorkload.run(a)
      case other => sys.error(s"unknown workload $other")
    }
    Json.write(a.artifactDir.resolve("records.json"), o.records)
    Json.write(Paths.get(need("out")), Map(
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> o.metrics, "checks" -> o.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }))
  }
}
