package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.functions.StrictConvert
import graft.sink.{AppendRowsException, QuarantineLedger, SinkConfig, TwoPhaseParquetSink, WriteMode}
import graft.streaming.StreamPipeline

/** Closed-loop connector benchmark. One client thread plays a scheduled
  * connector run per round: add the round's records to a MemoryStream,
  * start the pipeline on the same checkpoint with Trigger.AvailableNow, wait
  * until it terminates and `commit()` the pending batch. Each round is
  * 10,000 JSON envelopes through `StreamPipeline.startInferred` with a drift
  * monitor; every 5th round's first attempt has 5 rows rejected by the
  * remote append, which fails it, and the replay runs inside the same round,
  * as a restarted connector would. */
object SinkWorkload {
  val RowsPerRound = 10000
  val BadMix = Mix(malformed = 0.05, wrongType = 0.05, requiredNull = 0.05, unknownField = 0.01)
  val RejectEvery = 5
  val RejectCount = 5
  val WarmupRounds = 1
  val SetupReps = 5

  def rejectsIn(round: Int): Int = if (round % RejectEvery == RejectEvery - 1) RejectCount else 0

  def run(a: RunArgs): Outcome = {
    var runNo = 0
    def freshDir(): Path = { runNo += 1; a.tmpDir.resolve(s"sink-$runNo") }
    // set-up: session, fixture, warm-up rounds on their own directories.
    // `events` and `pipe` are vars so the fixture and the pipeline's
    // in-memory stream can be released before the end-of-run heap reading.
    var events: Array[Envelopes.Event] = null
    val (spark, _, setupS, setupTimes) = Harness.repeatedSetup(SetupReps) { () =>
      val s = Harness.step("session")(Harness.session(a, extensions = false))
      events = Harness.step("fixture")(Envelopes.load(a.data))
      val warm = new Pipe(s, freshDir(), new Envelopes(events, a.seed, BadMix), new Tracer(false), None)
      Harness.step("warm-up")((0 until WarmupRounds).foreach(warm.round))
      warm.close()
      (s, ())
    }
    val listeners = if (a.trace) Some(new Listeners(spark)) else None
    val tracer = new Tracer(false)
    var pipe = new Pipe(spark, freshDir(), new Envelopes(events, a.seed, BadMix), tracer, listeners)

    // measured loop: whole rejection cycles, at least two of them (per
    // phase of a traced run), for at least the window. The minimum keeps
    // the amount of work fixed while a run's rounds take longer than the
    // window, so a slower host does not also measure fewer, less settled
    // rounds.
    var r = 0
    val wallS = Harness.window(a, tracer) { (until, n) =>
      pipe.healthy && (n < 2 * RejectEvery || r % RejectEvery != 0 || System.nanoTime() < until)
    } { () => pipe.round(r); r += 1 }

    val checks = Harness.step("verify")(pipe.verify())
    val recs = pipe.records.toList
    val plain = recs.filter(x => x.error.isEmpty && x.layer.isEmpty)
    val lat = plain.map(_.latencyMs)
    val failed = recs.count(_.error.nonEmpty) + checks.count(!_._2)

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "rows_per_s" -> recs.map(_.rows.toDouble).sum / wallS,
        "batch_latency_ms_p50" -> Harness.median(lat),
        "batch_latency_ms_p90" -> Harness.quantile(lat, 0.9))
      else pipe.layerMetrics(a.cores) +
        ("trace.overhead_ms_p50" -> (Harness.median(recs.filter(_.layer.nonEmpty).map(_.latencyMs)) -
          Harness.median(lat)))
    val files = Harness.step("close")(pipe.close())
    pipe = null
    events = null
    if (a.trace) tracer.write(a.artifactDir.resolve("spans.jsonl"))
    val heap = Harness.step("heap")(Harness.heapMbAfterGc(spark))
    Harness.step("stop")(spark.stop())
    val extra = if (a.trace) Map("TwoPhaseParquetSink.files_per_batch" -> files._1.toDouble / recs.size,
      "TwoPhaseParquetSink.bytes_per_batch" -> files._2.toDouble / recs.size)
    else Map("setup_s" -> setupS, "heap_mb_end" -> heap)
    Outcome(metrics ++ extra, attempted = recs.size, failed = failed, checks,
      recs.map(_.toMap) :+ Map[String, Any]("setup_s_each" -> setupTimes, "rounds" -> recs.size,
        "measured_s" -> wallS) ++ tracer.summary())
  }

  final case class RoundRec(round: Int, rows: Int, latencyMs: Double, attempts: Int,
                            error: Option[String], layer: Map[String, Double]) {
    def toMap: Map[String, Any] = Map("round" -> round, "rows" -> rows, "latency_ms" -> latencyMs,
      "attempts" -> attempts, "error" -> error.getOrElse("")) ++ layer
  }

  private def planned(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[AppendRowsException])

  /** One pipeline over its own checkpoint, sink, DLQ and ledger. */
  private final class Pipe(spark: SparkSession, dir: Path, gen: Envelopes,
                           tracer: Tracer, listeners: Option[Listeners]) {
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val stream = MemoryStream[Env]
    private val sinkDir = dir.resolve("sink")
    private val dlqDir = dir.resolve("dlq")
    private val ckpt = dir.resolve("checkpoint")
    private val ledgerDir = dir.resolve("ledger")
    private val drift = new StreamPipeline.SchemaDriftMonitor
    @volatile private var rejectNext: Seq[(String, Int, Long, String)] = Nil
    // the remote append's row-level response: the planned rejections of the
    // round's first attempt, nothing afterwards
    private val appendCheck: DataFrame => Seq[(String, Int, Long, String)] = _ => {
      val r = rejectNext; rejectNext = Nil; r
    }
    private val config = SinkConfig(sinkDir.toString, WriteMode.Pending)
    private var sink: TwoPhaseParquetSink = _
    private var dlq: TwoPhaseParquetSink = _
    private var driftExpected = 0L
    val chunks = ArrayBuffer.empty[Chunk]
    val records = ArrayBuffer.empty[RoundRec]
    def healthy: Boolean = records.forall(_.error.isEmpty)

    private def start() =
      StreamPipeline.startInferred(stream.toDF(), Envelopes.Target, config, dlqDir.toString,
        ckpt.toString, Some(ledgerDir.toString), appendCheck, drift = Some(drift))

    def round(r: Int): Unit = {
      val c = gen.chunk(r, RowsPerRound, rejectsIn(r))
      chunks += c
      val unit = s"round-$r"
      val traced = listeners.filter(_ => tracer.enabled)
      traced.foreach { l => l.quiesce(); l.sql.drain(); l.engine.drain() }
      val before = traced.map(_.jobs.snapshot())
      var attempts = 0
      var error: Option[String] = None
      val awaits = ArrayBuffer.empty[(java.util.UUID, Int)]
      val t0 = System.nanoTime()
      tracer.span("round", unit) {
        tracer.span("MemoryStream.addData", unit)(stream.addData(c.rows.toSeq))
        rejectNext = c.rejected
        var landed = false
        while (!landed && error.isEmpty) {
          attempts += 1
          val (q, s, d) = tracer.span("StreamPipeline.start", unit)(start())
          sink = s; dlq = d
          try {
            tracer.span("StreamPipeline.await", unit) {
              awaits += (q.runId -> tracer.current)
              q.awaitTermination()
            }
            landed = true
          } catch {
            case e: StreamingQueryException if planned(e) && attempts == 1 && c.rejected.nonEmpty => ()
            case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          }
        }
        if (error.isEmpty)
          tracer.span("TwoPhaseParquetSink.commit", unit)(sink.commit())
      }
      val latencyMs = (System.nanoTime() - t0) / 1e6
      driftExpected += attempts * c.labels.count(_ == Label.UnknownField)
      val layer = traced match {
        case Some(l) => traceRound(l, before.get, c, unit, awaits.toSeq, latencyMs, attempts)
        case None => Map.empty[String, Double]
      }
      records += RoundRec(r, c.rows.length, latencyMs, attempts, error, layer)
    }

    /** Per-round layer numbers of a traced run, read after the round ends. */
    private def traceRound(l: Listeners, before: Counts, c: Chunk, unit: String,
                           awaits: Seq[(java.util.UUID, Int)], latencyMs: Double,
                           attempts: Int): Map[String, Double] = {
      l.quiesce()
      val counts = l.jobs.snapshot() - before
      val progress = l.engine.drain()
      val sqls = l.sql.drain()
      val spans = tracer.all
      val nsPerEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      var trigger = 0.0
      val engine = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val dataW = sqls.filter(_.outputPath.exists(_.contains(sinkDir.toString)))
      val dlqW = sqls.filter(_.outputPath.exists(_.contains(dlqDir.toString)))
      val other = sqls.filterNot(s => dataW.contains(s) || dlqW.contains(s))
      progress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        trigger += ms("triggerExecution")
        Seq("walCommit", "commitOffsets", "queryPlanning", "addBatch", "getBatch", "latestOffset")
          .foreach(k => engine(k) += ms(k))
        // rebuild the trigger's phases as spans under the attempt that ran it
        awaits.find(_._1 == p.runId).foreach { case (_, parent) =>
          // engine timestamps have millisecond grain: keep the trigger
          // inside the wait that contains it
          val await = spans(parent)
          val start = math.max(await.startNs,
            Instant.parse(p.timestamp).toEpochMilli * 1000000L + nsPerEpochMs)
          val tIdx = tracer.add(Span("engine.trigger", unit, parent, start,
            math.min(await.endNs, start + ms("triggerExecution") * 1000000L)))
          var at = start
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            .foreach { k =>
              val end = at + ms(k) * 1000000L
              val idx = tracer.add(Span(s"engine.$k", unit, tIdx, at, end))
              if (k == "addBatch" && p.numInputRows > 0) {
                // foreachBatch body: the two sink legs last (StreamPipeline
                // writes data, then DLQ), the batch's other jobs before them;
                // jobs of a failed attempt do not fit and are cut off
                val legs = dataW.map(s => ("TwoPhaseParquetSink.data_write", s.durationNs)) ++
                  dlqW.map(s => ("TwoPhaseParquetSink.dlq_write", s.durationNs))
                var e = end
                legs.reverse.foreach { case (n, dur) => tracer.add(Span(n, unit, idx, e - dur, e)); e -= dur }
                var o = at
                other.foreach { s =>
                  val stop = math.min(o + s.durationNs, e)
                  if (stop > o) tracer.add(Span("StreamPipeline.batch_job", unit, idx, o, stop))
                  o = stop
                }
              }
              at = end
            }
        }
      }
      val commitMs = spans.filter(s => s.unit == unit && s.name == "TwoPhaseParquetSink.commit")
        .map(_.ms).sum
      // the public calls a batch makes, timed directly on this round's data
      val ledger = new QuarantineLedger(ledgerDir.toString)
      val tl = System.nanoTime()
      val entries = ledger.load()
      val loadMs = (System.nanoTime() - tl) / 1e6
      val ledgerFiles = Files.list(ledgerDir)
      val nFiles = try ledgerFiles.filter(_.toString.endsWith(".csv")).count() finally ledgerFiles.close()
      val (decodeMs, splitMs, convertMs) = timeDecode(c)
      l.quiesce(); l.sql.drain(); l.engine.drain()
      Map(
        "trigger_ms" -> trigger,
        "start_ms" -> (latencyMs - trigger - commitMs),
        "walCommit_ms" -> engine("walCommit"), "commitOffsets_ms" -> engine("commitOffsets"),
        "queryPlanning_ms" -> engine("queryPlanning"), "addBatch_ms" -> engine("addBatch"),
        "getBatch_ms" -> engine("getBatch"), "latestOffset_ms" -> engine("latestOffset"),
        "jobs" -> counts.jobs.toDouble, "stages" -> counts.stages.toDouble,
        "tasks" -> counts.tasks.toDouble, "task_s" -> counts.taskNs / 1e9,
        "source_scans" -> sqls.map(_.sourceScans).sum.toDouble,
        "data_write_ms" -> dataW.map(_.durationNs / 1e6).sum,
        "dlq_write_ms" -> dlqW.map(_.durationNs / 1e6).sum,
        "commit_ms" -> commitMs,
        "ledger_load_ms" -> loadMs, "ledger_files" -> nFiles.toDouble,
        "ledger_entries" -> entries.size.toDouble,
        "decode_ms" -> decodeMs, "decode_split_ms" -> splitMs, "convert_ms" -> convertMs,
        "rows_processed" -> (c.rows.length * attempts).toDouble)
    }

    /** Decode alone, decode + validation split, and StrictConvert alone,
      * over the round's records as a batch frame. */
    private def timeDecode(c: Chunk): (Double, Double, Double) = {
      val raw = c.rows.toSeq.toDF()
      def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
      // the inferred pipeline learns exactly these fields: the target's,
      // nullable, since the sample never holds the unknown field
      val decoded = StreamPipeline.decode(raw, Envelopes.ValueSchema)
      val decodeMs = time(decoded.write.format("noop").mode("overwrite").save())
      val splitMs = time {
        val (good, bad) = StreamPipeline.validationSplit(decoded, Envelopes.Target)
        good.write.format("noop").mode("overwrite").save()
        bad.write.format("noop").mode("overwrite").save()
      }
      // StrictConvert alone: the same projection of the decoded payload
      // struct with and without the conversion check
      val payload = struct(Envelopes.Target.fields.map(f => col(s"payload.${f.name}")).toIndexedSeq: _*)
      val projectMs = time(decoded.select(payload.as("p")).write.format("noop").mode("overwrite").save())
      val convertedMs = time(decoded.select(payload.as("p"), StrictConvert.convert_error_as(payload, Envelopes.Target))
        .write.format("noop").mode("overwrite").save())
      (decodeMs, splitMs, convertedMs - projectMs)
    }

    /** Aggregate the per-round layer numbers into the per-layer metrics. */
    def layerMetrics(cores: Int): Map[String, Double] = {
      val recs = records.filter(r => r.error.isEmpty && r.layer.nonEmpty).toList
      def med(k: String): Double = Harness.median(recs.map(_.layer(k)))
      def perRound(k: String): Double = Harness.mean(recs.map(_.layer(k)))
      val taskS = recs.map(_.layer("task_s")).sum
      val latS = recs.map(_.latencyMs).sum / 1000
      val processed = recs.map(_.layer("rows_processed")).sum
      val self = tracer.selfByName()
      Map(
        "StreamPipeline.start_ms" -> med("start_ms"),
        "engine.walCommit_ms" -> med("walCommit_ms"),
        "engine.commitOffsets_ms" -> med("commitOffsets_ms"),
        "engine.queryPlanning_ms" -> med("queryPlanning_ms"),
        "engine.addBatch_ms" -> med("addBatch_ms"),
        "engine.triggerExecution_ms" -> med("trigger_ms"),
        "StreamPipeline.jobs_per_batch" -> perRound("jobs"),
        "StreamPipeline.source_scans_per_batch" -> perRound("source_scans"),
        "StreamPipeline.decode_split_ms" -> med("decode_split_ms"),
        "StreamPipeline.decode_ms" -> med("decode_ms"),
        "StrictConvert.convert_ms" -> med("convert_ms"),
        "TwoPhaseParquetSink.data_write_ms" -> med("data_write_ms"),
        "TwoPhaseParquetSink.dlq_write_ms" -> med("dlq_write_ms"),
        "TwoPhaseParquetSink.commit_ms" -> med("commit_ms"),
        "QuarantineLedger.load_ms" -> med("ledger_load_ms"),
        "QuarantineLedger.files" -> recs.lastOption.map(_.layer("ledger_files")).getOrElse(0.0),
        "QuarantineLedger.entries" -> recs.lastOption.map(_.layer("ledger_entries")).getOrElse(0.0),
        "task_s_per_batch" -> perRound("task_s"),
        "executor_busy_frac" -> (if (latS > 0) taskS / (latS * cores) else 0.0),
        "replays" -> records.map(_.attempts - 1).sum.toDouble,
        "useful_row_frac" -> (if (processed > 0) recs.map(_.rows.toDouble).sum / processed else 0.0),
        "trace.round_ms_p50" -> Harness.median(recs.map(_.latencyMs)),
        "trace.round_self_ms" -> self.getOrElse("round", 0.0) / math.max(1, recs.size),
        "trace.await_self_ms" -> self.getOrElse("StreamPipeline.await", 0.0) / math.max(1, recs.size),
        "trace.addBatch_self_ms" -> self.getOrElse("engine.addBatch", 0.0) / math.max(1, recs.size),
        "trace.trigger_self_ms" -> self.getOrElse("engine.trigger", 0.0) / math.max(1, recs.size)
      ) ++ readMs.map("TwoPhaseParquetSink.read_ms" -> _)
    }

    private var readMs: Option[Double] = None

    /** Exactly-once, DLQ routing, commit markers, ledger and drift, against
      * the labels. Runs after the measured loop. */
    def verify(): Seq[(String, Boolean, String)] = {
      val labelled = chunks.toSeq.flatMap(c => c.rows.indices.map(i => (c.rows(i), c.labels(i))))
      val expectGood = labelled.filter(_._2.good).map { case (e, _) => e.offset -> e }.toMap
      val expectDlq = labelled.filterNot(_._2.good).map { case (e, l) => e.offset -> l }.toMap
      val t0 = System.nanoTime()
      val landed = sink.read(spark).select("offset", "event_id", "user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      readMs = Some((System.nanoTime() - t0) / 1e6)
      val landedOffsets = landed.map(_._1)
      val dupes = landedOffsets.length - landedOffsets.distinct.length
      val wrongContent = landed.count { case (o, eid, uid) =>
        expectGood.get(o).forall(e => !e.value.contains("\"event_id\":" + eid + ",") ||
          e.key != uid.toString)
      }
      val missing = expectGood.keySet.diff(landedOffsets.toSet).size
      val dlqRows = dlq.read(spark).select("offset", "err").collect().map(r => (r.getLong(0), r.getString(1)))
      val dlqDupes = dlqRows.length - dlqRows.map(_._1).distinct.length
      val dlqWrong = dlqRows.count { case (o, err) => expectDlq.get(o).forall(l => !errorMatches(l, err)) }
      val dlqMissing = expectDlq.keySet.diff(dlqRows.map(_._1).toSet).size
      val rounds = chunks.size.toLong
      val markers = sink.committedBatchIds()
      val dlqMarkers = dlq.committedBatchIds()
      val ledgerEntries = new QuarantineLedger(ledgerDir.toString).load()
        .map(e => (e.topic, e.partition, e.offset)).toSet
      val expectLedger = chunks.flatMap(_.rejected).map(x => (x._1, x._2, x._3)).toSet
      Seq(
        ("sink.good_rows_exactly_once", dupes == 0 && missing == 0 && wrongContent == 0,
          s"landed=${landed.length} expected=${expectGood.size} dupes=$dupes missing=$missing wrong=$wrongContent"),
        ("dlq.rows_and_error_classes", dlqDupes == 0 && dlqWrong == 0 && dlqMissing == 0,
          s"dlq=${dlqRows.length} expected=${expectDlq.size} dupes=$dlqDupes wrong=$dlqWrong missing=$dlqMissing"),
        ("sink.commit_markers_equal_rounds", markers == (0L until rounds) && dlqMarkers == (0L until rounds),
          s"data=${markers.size} dlq=${dlqMarkers.size} rounds=$rounds"),
        ("ledger.holds_rejected_coordinates", ledgerEntries == expectLedger,
          s"ledger=${ledgerEntries.size} expected=${expectLedger.size}"),
        ("drift.rows_counted", drift.driftRows == driftExpected,
          s"drift=${drift.driftRows} expected=$driftExpected"))
    }

    /** Data and DLQ parquet files and bytes; stops nothing (every round's
      * query has already terminated) and deletes the pipeline's directories. */
    def close(): (Long, Long) = {
      val (f1, b1) = Harness.parquetFiles(sinkDir.resolve("data"))
      val (f2, b2) = Harness.parquetFiles(dlqDir.resolve("data"))
      spark.streams.active.foreach(_.stop())
      Harness.deleteRecursively(dir)
      (f1 + f2, b1 + b2)
    }
  }

  private def errorMatches(l: Label, err: String): Boolean = l match {
    case Label.Malformed | Label.WrongType => err == "unparseable payload"
    case Label.RequiredNull => err != null && err.contains("required field $.event_type")
    case Label.Quarantine => err == Envelopes.RejectError
    case _ => false
  }
}
