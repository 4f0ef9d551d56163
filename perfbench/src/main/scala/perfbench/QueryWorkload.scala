package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Caches

/** Batch-query workload: a fixed sample of `SparkEntry.queries`, each with
  * a DuckDB oracle in `SparkEntry.oracleSql`, run in a seed-shuffled order.
  * Each query is built, its result written as parquet, and `Caches.clear()`
  * called after, the way the repo's own harnesses run them (they write to
  * the `noop` sink instead; a real result lets every run check every
  * sampled query against DuckDB without executing it twice). */
object QueryWorkload {
  /** Every 64th name with an oracle in sorted order, fixed by name so that
    * adding queries to the program does not change the workload. */
  val Sample: Seq[String] = Seq("q01_pricing_summary", "q150_acf_lags", "q209_shard_manifest",
    "q267_ols_two_feature", "q325_span_overlap", "q384_bowley_skew", "q442_eager_preagg",
    "q500_semantics_canary")
  /** Set-up warms the session on this query, which is not in the sample. */
  val WarmupQuery = "q02_revenue_by_nation"
  val SetupReps = 5

  type Builder = (SparkSession, String) => DataFrame

  /** The ops modules, which name the per-module layer metrics. */
  val Modules: Seq[(String, Map[String, Builder])] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries, "FlowQueries" -> FlowQueries.queries,
      "ConvertQueries" -> ConvertQueries.queries, "TextAnalysis" -> TextAnalysis.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "Multimodal" -> Multimodal.queries, "Extras" -> Extras.queries,
      "Curation" -> Curation.queries, "Corpus" -> Corpus.queries,
      "Behavior" -> Behavior.queries, "Graph" -> Graph.queries,
      "Warehouse" -> Warehouse.queries, "Pipeline" -> Pipeline.queries,
      "Evaluation" -> Evaluation.queries, "Quality" -> Quality.queries,
      "Lakehouse" -> Lakehouse.queries, "Analytics" -> Analytics.queries,
      "Stewardship" -> Stewardship.queries)
  }

  def moduleOf(name: String): String = Modules.find(_._2.contains(name)).map(_._1).getOrElse("other")

  final case class QueryRec(pass: Int, name: String, buildS: Double, execS: Double, clearS: Double,
                            layer: Map[String, Double]) {
    def totalS: Double = buildS + execS + clearS
    def toMap: Map[String, Any] = Map("pass" -> pass, "name" -> name, "module" -> moduleOf(name),
      "build_s" -> buildS, "exec_s" -> execS, "clear_s" -> clearS, "total_s" -> totalS) ++ layer
  }

  def run(a: RunArgs): Outcome = {
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val gone = (WarmupQuery +: Sample).filterNot(queries.contains) ++ Sample.filterNot(oracle.contains)
    require(gone.isEmpty, s"sampled queries without a builder or an oracle: ${gone.mkString(", ")}")
    val (spark, _, setupS, setupTimes) = Harness.repeatedSetup(SetupReps) { () =>
      val s = Harness.session(a, extensions = true)
      queries(WarmupQuery)(s, a.data).write.mode("overwrite").parquet(a.tmpDir.resolve("warm").toString)
      Caches.clear()
      (s, ())
    }
    val order = new scala.util.Random(a.seed).shuffle(Sample)
    val listeners = if (a.trace) Some(new Listeners(spark)) else None
    val tracer = new Tracer(false)
    val recs = ArrayBuffer.empty[QueryRec]
    val failures = ArrayBuffer.empty[(String, String)]

    val results = Files.createDirectories(a.tmpDir.resolve("results"))
    var pass = 0
    def runPass(): Unit = {
      val traced = listeners.filter(_ => tracer.enabled)
      order.foreach { n =>
        val unit = s"p$pass-$n"
        traced.foreach { l => l.quiesce(); l.sql.drain() }
        val c0 = traced.map(_.jobs.snapshot())
        try {
          val tb = System.nanoTime()
          val df = tracer.span("query.build", unit)(queries(n)(spark, a.data))
          val te = System.nanoTime()
          val c1 = traced.map { l => l.quiesce(); l.jobs.snapshot() }
          val tx = System.nanoTime()
          val out = results.resolve(s"$n-p$pass").toString
          tracer.span("query.exec", unit)(df.write.mode("overwrite").parquet(out))
          val tc = System.nanoTime()
          tracer.span("Caches.clear", unit)(Caches.clear())
          val td = System.nanoTime()
          val layer = traced.map { l =>
            l.quiesce()
            val b = c1.get - c0.get
            val x = l.jobs.snapshot() - c1.get
            Map("jobs_in_build" -> b.jobs.toDouble, "jobs" -> x.jobs.toDouble,
              "stages" -> x.stages.toDouble, "tasks" -> x.tasks.toDouble, "task_s" -> x.taskNs / 1e9,
              "shuffle_bytes" -> x.shuffleBytes.toDouble, "spill_bytes" -> x.spillBytes.toDouble,
              "build_task_s" -> b.taskNs / 1e9)
          }.getOrElse(Map.empty)
          recs += QueryRec(pass, n, (te - tb) / 1e9, (tc - tx) / 1e9, (td - tc) / 1e9, layer)
        } catch {
          case e: Throwable =>
            failures += (n -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
            Caches.clear()
        }
      }
      pass += 1
    }
    // whole passes over the sample: at least two untraced, or one per
    // phase of a traced run
    val minPasses = if (a.trace) 1 else 2
    val wallS = Harness.window(a, tracer) { (until, n) =>
      failures.isEmpty && (n < minPasses || System.nanoTime() < until)
    }(() => runPass())
    // the stateful operators' layer metrics ride on this workload's traced run
    val (stateful, statefulChecks) =
      if (a.trace) StatefulPhase.layerPhase(spark, a) else (Map.empty[String, Double], Nil)

    // every pass's outputs are compared; row counts come from the footers
    val outputs = recs.toList.map(q => s"${q.name}-p${q.pass}" -> q.name)
    Json.write(results.resolve("oracle_sql.json"), outputs.map { case (dir, n) => dir -> oracle(n) }.toMap)
    val rowsOut = outputs.map { case (dir, _) =>
      dir -> spark.read.parquet(results.resolve(dir).toString).count() }.toMap

    val done = recs.toList
    val plain = done.filter(_.layer.isEmpty)
    val lat = plain.map(_.totalS * 1000)
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "rows_per_s" -> plain.map(q => rowsOut(s"${q.name}-p${q.pass}").toDouble).sum / plain.map(_.totalS).sum,
        "batch_latency_ms_p50" -> Harness.median(lat),
        "batch_latency_ms_p90" -> Harness.quantile(lat, 0.9))
      else {
        val traced = done.filter(_.layer.nonEmpty)
        val passes = math.max(1, traced.map(_.pass).distinct.size)
        def tot(f: QueryRec => Double): Double = traced.map(f).sum / passes
        def lay(k: String): Double = tot(_.layer.getOrElse(k, 0.0))
        Map(
          "query.total_s" -> tot(_.totalS),
          "query.build_s" -> tot(_.buildS), "query.exec_s" -> tot(_.execS),
          "Caches.clear_s" -> tot(_.clearS),
          "query.jobs_in_build" -> lay("jobs_in_build"), "query.jobs" -> lay("jobs"),
          "query.stages" -> lay("stages"), "query.tasks" -> lay("tasks"),
          "query.task_s" -> lay("task_s"), "query.shuffle_bytes" -> lay("shuffle_bytes"),
          "query.spill_bytes" -> lay("spill_bytes"),
          "query.exec_busy_frac" -> lay("task_s") / math.max(1e-9, tot(_.execS) * a.cores),
          "trace.overhead_ms_p50" -> (Harness.median(traced.map(_.totalS * 1000)) - Harness.median(lat))
        ) ++ traced.groupBy(q => moduleOf(q.name)).flatMap { case (m, mine) =>
          Seq(s"$m.build_s" -> mine.map(_.buildS).sum / passes, s"$m.exec_s" -> mine.map(_.execS).sum / passes)
        }
      }
    if (a.trace) tracer.write(a.artifactDir.resolve("spans.jsonl"))
    val heap = Harness.heapMbAfterGc(spark)
    spark.stop()
    val extra = if (a.trace) Map.empty[String, Double] else Map("setup_s" -> setupS, "heap_mb_end" -> heap)
    val checks = ("queries.all_ran", failures.isEmpty,
      failures.map { case (n, m) => s"$n: $m" }.mkString("; ").take(600)) +: statefulChecks
    Outcome(metrics ++ stateful ++ extra, attempted = (done.size + failures.size).toLong,
      failed = failures.map(_._1).distinct.size.toLong + statefulChecks.count(!_._2),
      checks, done.map(_.toMap) :+ Map[String, Any]("setup_s_each" -> setupTimes, "passes" -> pass,
        "measured_s" -> wallS, "sample" -> Sample, "result_rows" -> rowsOut) ++ tracer.summary())
  }
}
