package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every declared query at the
  * SPARK_GRAFT_SF_DIR scale factor and prints ONE JSON line.
  *
  * Methodology: a warmup pass at sf0.001 first (JVM + codegen + parquet
  * footer caches are one-time costs that would otherwise be charged to
  * whichever query runs first), then each query materialized fully through
  * the `noop` sink — `count()` alone would let Catalyst skip sorts and
  * column materialization. The measured set runs TWICE (run A = the
  * reported `queries`, run B = `queriesB`) so single-run host-noise
  * outliers can be adjudicated from one artifact — see BASELINE.md
  * "Dual-run convention".
  *
  * Drift bound (round-7 VERDICT "Next round #4"): the measured queries
  * run through [[Harness.Loop]], which restarts the session every 100 of
  * them; each fresh session re-warms on one sf0.001 query before
  * measuring resumes, so per-query numbers stay comparable across suite
  * growth.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"

    def action(name: String, dir: String)(s: SparkSession): Unit =
      SparkEntry.queries(name)(s, dir).write.format("noop").mode("overwrite").save()
    // Watchdog (inside the loop): a stuck query records -1 and the run
    // continues — round 6's BENCH artifact was zeroed by a single 1 h hang.
    def seconds(name: String, o: Harness.Outcome): Double = o.error match {
      case Some(msg) => System.err.println(s"[bench] $name failed: $msg"); -1.0
      case None => o.seconds
    }
    val loop = new Harness.Loop(rewarm = Some((s, name) => action(name, warmDir)(s)))

    // SPARK_GRAFT_ONLY (local dev only; the driver never sets it): CSV of
    // query names to measure — lets a single new query get its dual-run
    // baseline entry without re-timing the whole surface. Unset = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // warmup at the smallest SF (not measured)
    names.foreach(n => seconds(n, loop.once(n)(action(n, warmDir))))

    // TWO measured passes, back to back. Host timing variance on this
    // box is ±40% on heavy queries (BASELINE.md "A/B evidence"), so a
    // single-run outlier cannot be told apart from a real regression; a
    // second same-session pass pins it — a plan problem reproduces in
    // both columns, host noise does not. The headline `queries`/`value`
    // stay run A (unchanged methodology vs every prior round's
    // baseline); run B rides along as `queriesB` for adjudication.
    def measure(name: String): (String, Double) =
      name -> seconds(name, loop(name)(action(name, sfDir)))
    val runA = names.map(measure)
    val runB = names.map(measure)

    // Streaming micro-bench (round-7 VERDICT "Next round #5"): the five
    // stateful streaming ops get throughput/latency/state-size numbers.
    // Runs on a FRESH session so batch-suite heap state cannot skew it;
    // each op is watchdogged like any query. SPARK_GRAFT_STREAMBENCH=0
    // skips (local query-subset iteration); with SPARK_GRAFT_ONLY set
    // it is skipped too — subset runs baseline individual queries.
    val streamJson: String =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_STREAMBENCH").contains("0")) ""
      else {
        loop.restart()
        val rows = sys.env.get("SPARK_GRAFT_STREAM_ROWS")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(100000)
        var results = Map.empty[String, graft.streaming.StreamBench.OpResult]
        Watchdog.run(loop.spark, "streambench", timeoutSec = 600L) {
          results = graft.streaming.StreamBench.run(loop.spark, rows)
        }.foreach(msg => System.err.println(s"[bench] streambench failed: $msg"))
        if (results.isEmpty) ""
        else results.toSeq.sortBy(_._1).map { case (k, r) =>
          val rps = if (r.sec > 0) r.rows / r.sec else 0.0
          val spb = if (r.batches > 0) r.sec / r.batches else 0.0
          "\"" + k + "\":{\"rows\":" + r.rows + ",\"sec\":" + r.sec +
            ",\"rows_per_sec\":" + rps + ",\"batches\":" + r.batches +
            ",\"sec_per_batch\":" + spb + ",\"state_rows\":" + r.stateRows + "}"
        }.mkString(",\"streaming\":{", ",", "}")
      }

    // Scale-out sweep (round-9 VERDICT ask #4b): the same gauges at
    // shuffle-partitions 1/4/16 and on the RocksDB state store, at a
    // reduced per-config row budget. runScaling builds one fresh session
    // per config, so the current session is stopped first; the sweep is
    // bounded by a plain thread-join timeout (Watchdog is session-
    // coupled and these sessions are sweep-internal).
    val streamScaleJson: String =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_STREAMBENCH").contains("0")
          || sys.env.get("SPARK_GRAFT_STREAM_SCALING").contains("0")) ""
      else {
        loop.stop()
        val rows = sys.env.get("SPARK_GRAFT_STREAM_SCALE_ROWS")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(25000)
        @volatile var results =
          Map.empty[String, Map[String, graft.streaming.StreamBench.OpResult]]
        val t = new Thread(() => {
          try results = graft.streaming.StreamBench.runScaling(rows)
          catch { case e: Throwable =>
            System.err.println(s"[bench] stream scaling failed: ${e.getMessage}") }
        }, "stream-scaling")
        t.setDaemon(true)
        t.start()
        t.join(900L * 1000L)
        if (t.isAlive) System.err.println("[bench] stream scaling timed out")
        if (results.isEmpty) ""
        else results.toSeq.sortBy(_._1).map { case (cfg, ops) =>
          "\"" + cfg + "\":{" + ops.toSeq.sortBy(_._1).map { case (k, r) =>
            val rps = if (r.sec > 0) r.rows / r.sec else 0.0
            "\"" + k + "\":{\"rows\":" + r.rows + ",\"rows_per_sec\":" + rps +
              ",\"batches\":" + r.batches + ",\"state_rows\":" + r.stateRows + "}"
          }.mkString(",") + "}"
        }.mkString(",\"streaming_scaling\":{", ",", "}")
      }

    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = runA.map(_._2).filter(_ >= 0).sum
    val totalB = runB.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${toJson(runA)},"queriesB":${toJson(runB)},"totalB":$totalB$streamJson$streamScaleJson,"sf":"$sfDir"}"""
    // Durable file copy: with ~100 queries the JSON line outgrows captured
    // stdout tails (round 3 lost q01–q36 that way), so the file is the
    // artifact of record and stdout stays the driver-contract summary.
    // A failed write (bad SPARK_GRAFT_BENCH_OUT, read-only cwd) must not
    // take the stdout line down with it — each copy survives the other.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.write(Paths.get(out), (json + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    println(json)
    loop.stop()
  }
}
