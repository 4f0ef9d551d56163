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
    // SPARK_GRAFT_ONLY (local dev only; the driver never sets it): CSV of
    // query names to measure — lets a single new query get its dual-run
    // baseline entry without re-timing the whole surface. Unset = all.
    // Parsed before the session is built: an unknown name fails the run.
    val names = sys.env.get("SPARK_GRAFT_ONLY").map(Harness.queryNames)
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted

    def action(name: String, dir: String)(s: SparkSession): Unit =
      SparkEntry.queries(name)(s, dir).write.format("noop").mode("overwrite").save()
    // Watchdog (inside the loop): a stuck query records -1 and the run
    // continues — round 6's BENCH artifact was zeroed by a single 1 h hang.
    def seconds(name: String, o: Harness.Outcome): Double = o.error match {
      case Some(msg) => System.err.println(s"[bench] $name failed: $msg"); -1.0
      case None => o.seconds
    }
    val loop = new Harness.Loop(rewarm = Some((s, name) => action(name, warmDir)(s)))

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

    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = runA.map(_._2).filter(_ >= 0).sum
    val totalB = runB.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${toJson(runA)},"queriesB":${toJson(runB)},"totalB":$totalB,"sf":"$sfDir"}"""
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
