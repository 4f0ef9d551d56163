package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JsonKeyScan
import graft.sink.{ErrorClassifier, QuarantineLedger, SinkConfig, TwoPhaseParquetSink, WriteMode}
import graft.streaming.StreamPipeline

/** Mirrors the reference's writer/integration test coverage
  * (BigqueryStreamWriterTest.java, BigqueryStreamWriterIntegrationTest.java):
  * buffering/landing, pending-mode invisibility before commit, replay
  * idempotence (ALREADY_EXISTS), row-level error split, reset/finalize.
  */
class StreamPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  case class Env(topic: String, partition: Int, offset: Long, key: String, value: String)

  private val valueSchema = StructType(Seq(
    StructField("id", StringType), StructField("int_value", LongType)))
  // FIXTURES.md F1 — (id STRING required, int_value INT64 required)
  private val target = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("int_value", LongType, nullable = false)))

  private def tmp(): String = Files.createTempDirectory("graft-sink").toString

  private type Check = DataFrame => Seq[(String, Int, Long, String)]

  /** The remote append's row-level response, rejecting the "poison" rows.
    * Content-addressed: a plain retry would fail identically forever —
    * only the quarantine loop makes progress. */
  private val rejectPoison: Check = df =>
    df.filter(col("id") === "poison")
      .select("topic", "partition", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), "row rejected by remote append")).toSeq

  private def runPipeline(records: Seq[Env], mode: WriteMode) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    stream.addData(records)
    val (q, sink, dlq) = StreamPipeline.start(
      stream.toDF(), valueSchema, target,
      SinkConfig(tmp(), mode), dlqDir = tmp(), checkpointDir = tmp())
    q.awaitTermination(60000)
    (sink, dlq)
  }

  test("committed mode: good rows visible immediately, bad rows in DLQ") {
    val records = Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":123}"""),
      Env("t", 0, 1L, null, """{"id":"id-1","int_value":456}"""),
      Env("t", 0, 2L, null, """not json at all"""),
      Env("t", 0, 3L, null, """{"id":null,"int_value":7}"""))
    val (sink, dlq) = runPipeline(records, WriteMode.Committed)
    val good = sink.read(spark).collect()
    assert(good.map(_.getAs[String]("id")).sorted.toSeq == Seq("id-0", "id-1"))
    val bad = dlq.read(spark).collect()
    assert(bad.length == 2)
    val errByOffset = bad.map(r => r.getAs[Long]("offset") -> r.getAs[String]("err")).toMap
    assert(errByOffset(2L) == "unparseable payload")
    assert(errByOffset(3L).contains("required field $.id"))
  }

  test("pending mode: rows invisible until commit, visible after") {
    val records = Seq(Env("t", 0, 0L, null, """{"id":"a","int_value":1}"""))
    val (sink, _) = runPipeline(records, WriteMode.Pending)
    assert(sink.read(spark).isEmpty, "pending rows must be invisible before commit")
    sink.commit()
    assert(sink.read(spark).count() == 1, "commit publishes staged batches")
    assert(sink.committedBatchIds().nonEmpty)
  }

  test("pending mode: reset discards staged rows") {
    val records = Seq(Env("t", 0, 0L, null, """{"id":"a","int_value":1}"""))
    val (sink, _) = runPipeline(records, WriteMode.Pending)
    sink.reset()
    sink.commit()
    assert(sink.read(spark).isEmpty, "reset batches must never surface")
  }

  test("batch replay is idempotent (ALREADY_EXISTS image)") {
    import spark.implicits._
    val sink = new TwoPhaseParquetSink(SinkConfig(tmp()))
    val df = Seq(("a", 1L)).toDF("id", "int_value")
    sink.writeBatch(df, batchId = 7L)
    sink.writeBatch(df, batchId = 7L) // replay after recovery
    assert(sink.read(spark).count() == 1, "replayed batch must not duplicate rows")
    assert(sink.committedBatchIds() == Seq(7L))
  }

  test("crash between data write and marker: replay repairs and re-marks") {
    import spark.implicits._
    val dir = tmp()
    val sink = new TwoPhaseParquetSink(SinkConfig(dir))
    sink.writeBatch(Seq(("a", 1L)).toDF("id", "v"), 3L)
    // simulate crash after the parquet landed but before the marker
    Files.delete(java.nio.file.Paths.get(dir, "_commits", "3"))
    sink.writeBatch(Seq(("a", 1L)).toDF("id", "v"), 3L) // checkpoint replay
    assert(sink.read(spark).count() == 1)
    assert(sink.committedBatchIds() == Seq(3L))
  }

  test("torn staging write is repaired by replay, not skipped") {
    import spark.implicits._
    val dir = tmp()
    val sink = new TwoPhaseParquetSink(SinkConfig(dir, WriteMode.Pending))
    // simulate a crash mid-stage: partial garbage where the batch dir goes
    val staged = java.nio.file.Paths.get(dir, "_staging", "batch=0")
    Files.createDirectories(staged)
    Files.writeString(staged.resolve("part-garbage.parquet"), "not parquet")
    sink.writeBatch(Seq(("a", 1L), ("b", 2L)).toDF("id", "v"), 0L) // replay
    sink.commit()
    assert(sink.read(spark).count() == 2, "replay must overwrite the torn staging dir")
  }

  test("config validation rejects unknown write.mode (A16)") {
    assert(WriteMode.parse("PENDING") == WriteMode.Pending)
    val e = intercept[IllegalArgumentException] { WriteMode.parse("yolo") }
    assert(e.getMessage.contains("write.mode"))
    intercept[IllegalArgumentException] { SinkConfig(tmp(), maxRecordsPerTrigger = 0) }
  }

  test("error classification table marks IO as retriable, logic as not") {
    assert(ErrorClassifier.isRetriable(new java.io.IOException("net")))
    assert(!ErrorClassifier.isRetriable(new IllegalStateException("bug")))
    // the reference's code table, verbatim (BigqueryStreamWriter.java:120-127)
    for (code <- Seq("INTERNAL", "ABORTED", "CANCELLED",
                     "FAILED_PRECONDITION", "DEADLINE_EXCEEDED", "UNAVAILABLE"))
      assert(ErrorClassifier.isRetriable(graft.sink.TransportException(code)))
    for (code <- Seq("INVALID_ARGUMENT", "NOT_FOUND", "PERMISSION_DENIED",
                     "ALREADY_EXISTS", "OUT_OF_RANGE"))
      assert(!ErrorClassifier.isRetriable(graft.sink.TransportException(code)),
        s"$code must not retry (handled by dedicated paths or fatal)")
  }

  test("quarantine feedback loop: corrupted rows rewind, then DLQ on replay") {
    // The image of the reference's corrupted-row preCommit test
    // (BigqueryStorageWriteSinkTaskTest.java:197-224): a remote append
    // names rejected rows → offsets rewind with nothing landed → the
    // replay routes exactly those rows to the error reporter and the rest
    // commit.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sinkDir = tmp(); val dlqDir = tmp(); val ckpt = tmp(); val qDir = tmp()
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
      Env("t", 0, 1L, null, """{"id":"poison","int_value":2}"""),
      Env("t", 0, 2L, null, """{"id":"id-2","int_value":3}""")))
    def run() = StreamPipeline.start(stream.toDF(), valueSchema, target,
      SinkConfig(sinkDir), dlqDir, ckpt, quarantineDir = Some(qDir),
      appendCheck = rejectPoison)

    // attempt 1: the append fails, nothing lands, the batch rewinds
    val (q1, sink1, _) = run()
    intercept[Exception] { q1.awaitTermination(60000) }
    assert(sink1.read(spark).isEmpty, "failed append must land nothing")
    assert(sink1.committedBatchIds().isEmpty)

    // attempt 2: checkpoint replays the same batch; the quarantined row is
    // split to the DLQ before the append, which now succeeds
    val (q2, sink2, dlq2) = run()
    q2.awaitTermination(60000)
    assert(q2.exception.isEmpty, s"replay must succeed: ${q2.exception}")
    val good = sink2.read(spark).collect()
    assert(good.map(_.getAs[Long]("offset")).sorted.toSeq == Seq(0L, 2L))
    assert(!good.exists(_.getAs[String]("id") == "poison"))
    val bad = dlq2.read(spark).collect()
    assert(bad.length == 1 && bad.head.getAs[Long]("offset") == 1L)
    assert(bad.head.getAs[String]("err") == "row rejected by remote append")
    assert(sink2.committedBatchIds() == Seq(0L))
  }

  test("quarantine ledger round-trips commas, newlines, and backslash sequences") {
    val ledger = new graft.sink.QuarantineLedger(tmp())
    // "a\nb" (literal backslash + n) is the killer: its escaped form
    // contains the two-char sequence "\n", which a naive sequential
    // replace-based unescape would turn into a real linefeed
    val nasty = Seq(
      ("topic,with,commas", 0, 1L, "line1\nline2"),
      ("a\\nb", 1, 2L, "back\\slash, and \\c too"),
      ("plain", 2, 3L, "\\"))
    ledger.append(0L, nasty)
    val back = ledger.load().map(e => (e.topic, e.partition, e.offset, e.error))
    assert(back.toSet == nasty.toSet, s"round-trip mismatch: $back")
  }

  test("quarantine ledger accumulates successive rejection rounds for one batch") {
    val ledger = new graft.sink.QuarantineLedger(tmp())
    // round 1: the remote rejects row 1; the batch fails and replays
    ledger.append(5L, Seq(("t", 0, 1L, "bad utf8")))
    // round 2, same replayed batch: row 1 re-recorded (skipped — first
    // error wins) AND a new rejection surfaces. A REPLACE here would
    // forget row 1 and let the feedback loop flip-flop forever.
    ledger.append(5L, Seq(("t", 0, 1L, "different message"), ("t", 0, 2L, "oversize")))
    val back = ledger.load().map(e => (e.topic, e.partition, e.offset, e.error))
    assert(back.toSet == Set(("t", 0, 1L, "bad utf8"), ("t", 0, 2L, "oversize")),
      s"both rounds must accumulate: $back")
  }

  test("maxRecordsPerTrigger (buffer.size) bounds rows per append unit") {
    val dir = tmp()
    val sink = new TwoPhaseParquetSink(SinkConfig(dir, maxRecordsPerTrigger = 10L))
    sink.writeBatch(spark.range(95).toDF("v").coalesce(1), 0L)
    val parts = new java.io.File(s"$dir/data/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 10, s"95 rows / buffer 10 needs ≥10 appends, got ${parts.length}")
    parts.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 10L,
        s"append unit ${f.getName} exceeds buffer.size")
    }
    assert(sink.read(spark).count() == 95L)
  }

  test("retriable transport failure propagates without quarantining rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qDir = tmp()
    val stream = MemoryStream[Env]
    stream.addData(Seq(Env("t", 0, 0L, null, """{"id":"a","int_value":1}""")))
    val (q, sink, _) = StreamPipeline.start(stream.toDF(), valueSchema, target,
      SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp(),
      quarantineDir = Some(qDir),
      appendCheck = _ => throw new java.io.IOException("transient network"))
    intercept[Exception] { q.awaitTermination(60000) }
    assert(new graft.sink.QuarantineLedger(qDir).isEmpty,
      "a transport failure must not quarantine rows — the rows are fine")
    assert(sink.committedBatchIds().isEmpty)
  }

  test("startInferred runs the full pipeline with no declared value schema") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":123}"""),
      Env("t", 0, 1L, null, """not json at all"""),
      Env("t", 0, 2L, null, """{"id":null,"int_value":7}""")))
    val (q, sink, dlq) = StreamPipeline.startInferred(
      stream.toDF(), target, SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp())
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"inferred pipeline must run clean: ${q.exception}")
    val good = sink.read(spark).collect()
    assert(good.map(_.getAs[String]("id")).toSeq == Seq("id-0"))
    assert(good.head.getAs[Long]("int_value") == 123L)
    val bad = dlq.read(spark).collect()
    val errByOffset = bad.map(r => r.getAs[Long]("offset") -> r.getAs[String]("err")).toMap
    assert(errByOffset(1L) == "unparseable payload")
    assert(errByOffset(2L).contains("required field $.id"),
      "strict converter rules still apply to inferred payloads")
  }

  test("startInferred survives type drift: target types win, bad rows go to DLQ") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    // every int_value arrives QUOTED — inference alone would type it
    // STRING and fail the strict converter's analysis-time type check;
    // reconciling to the target type parses row 0 as a corrupt record
    // (PERMISSIVE: unconvertible field → whole record flagged) → DLQ
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":"not a number"}"""),
      Env("t", 0, 1L, null, """{"id":"id-1","int_value":456}""")))
    val ckpt = tmp()
    val (q, sink, dlq) = StreamPipeline.startInferred(
      stream.toDF(), target, SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = ckpt)
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"type drift must not crash the query: ${q.exception}")
    assert(sink.read(spark).collect().map(_.getAs[String]("id")).toSeq == Seq("id-1"))
    assert(dlq.read(spark).collect().map(_.getAs[Long]("offset")).toSeq == Seq(0L))
    // the learned schema is durable next to the checkpoint
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "_inferred_value_schema.ddl")))
  }

  test("drift monitor counts unknown-field rows while decode stays learn-once stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    stream.addData(Seq(Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}""")))
    val ckpt = tmp(); val out = tmp(); val dlqD = tmp()
    val monitor = new StreamPipeline.SchemaDriftMonitor
    val (q, _, _) = StreamPipeline.startInferred(
      stream.toDF(), target, SinkConfig(out), dlqDir = dlqD, checkpointDir = ckpt,
      drift = Some(monitor))
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    assert(monitor.driftRows == 0L, "the learning batch cannot drift from itself")
    // a field appears mid-stream: the reference's per-record inference
    // would pick it up; learn-once drops it — but the monitor must SAY so
    stream.addData(Seq(
      Env("t", 0, 1L, null, """{"id":"id-1","int_value":2,"brand_new_field":true}"""),
      Env("t", 0, 2L, null, """{"id":"id-2","int_value":3}""")))
    val (q2, sink2, dlq2) = StreamPipeline.startInferred(
      stream.toDF(), target, SinkConfig(out), dlqDir = dlqD, checkpointDir = ckpt,
      drift = Some(monitor))
    q2.awaitTermination(60000)
    assert(q2.exception.isEmpty, s"drift must not destabilize decode: ${q2.exception}")
    assert(monitor.driftRows == 1L, s"exactly the one new-field row: ${monitor.driftRows}")
    assert(monitor.driftBatches == 1L)
    // decode unchanged: all three rows land, the unknown field is dropped
    assert(sink2.read(spark).collect().map(_.getAs[String]("id")).toSet ==
      Set("id-0", "id-1", "id-2"))
    assert(dlq2.read(spark).isEmpty)
  }

  test("schema inference fallback: missing fields decode as optional nulls") {
    // reference RecordConverter.java:17-23 — null valueSchema ⇒ infer
    // from the value itself, everything optional
    import spark.implicits._
    val n: String = null
    val env = Seq(
      ("t", 0, 0L, n, """{"id":"a","int_value":1}"""),
      ("t", 0, 1L, n, """{"id":"b"}"""), // missing int_value: optional
      ("t", 0, 2L, n, """not json""")    // corrupt: flagged, not thrown
    ).toDF("topic", "partition", "offset", "key", "value")
    val inferred = StreamPipeline.inferValueSchema(env)
    assert(inferred.fieldNames.sorted.toSeq == Seq("id", "int_value"),
      s"merged sample inference, no corrupt column: $inferred")
    assert(inferred.forall(_.nullable), "inferred fields must be optional")
    val rows = StreamPipeline.decodeInferred(env)
      .select(col("offset"), col("payload.id").as("id"),
        col("payload.int_value").as("iv"),
        col(s"payload.${StreamPipeline.CorruptField}").as("corrupt"))
      .collect().map(r => r.getAs[Long]("offset") ->
        ((r.getAs[String]("id"), Option(r.get(2)), r.getAs[String]("corrupt") != null))).toMap
    assert(rows(0L) == (("a", Some(1L), false)))
    assert(rows(1L) == (("b", None, false)), "missing optional field is null, not a reject")
    assert(rows(2L)._3, "corrupt payload is flagged for the DLQ split")
  }

  test("multi-batch pending commit publishes in batch order") {
    import spark.implicits._
    val sink = new TwoPhaseParquetSink(SinkConfig(tmp(), WriteMode.Pending))
    sink.writeBatch(Seq(("a", 1L)).toDF("id", "v"), 0L)
    sink.writeBatch(Seq(("b", 2L)).toDF("id", "v"), 1L)
    assert(sink.read(spark).isEmpty)
    sink.commit()
    assert(sink.read(spark).count() == 2)
    assert(sink.committedBatchIds() == Seq(0L, 1L))
  }

  test("a batch directory without its marker is not read until the replay or commit marks it") {
    import spark.implicits._
    for (mode <- Seq(WriteMode.Committed, WriteMode.Pending)) {
      val dir = tmp()
      val sink = new TwoPhaseParquetSink(SinkConfig(dir, mode))
      def batch(b: Long) = Seq((s"b$b", b)).toDF("id", "v")
      sink.writeBatch(batch(0), 0L)
      sink.writeBatch(batch(1), 1L)
      sink.commit()
      // batch 1's directory is in data/, complete, but its marker is gone:
      // a committed-mode write torn before its marker, or a pending publish
      // whose marker write failed after the move
      Files.delete(java.nio.file.Paths.get(dir, "_commits", "1"))
      assert(Files.isDirectory(java.nio.file.Paths.get(dir, "data", "batch=1")), s"$mode")
      assert(sink.read(spark).collect().map(_.getAs[String]("id")).toSeq == Seq("b0"),
        s"$mode: an unmarked batch directory is not visible")
      sink.writeBatch(batch(1), 1L) // the checkpoint replay
      sink.commit()
      assert(sink.read(spark).collect().map(_.getAs[String]("id")).sorted.toSeq == Seq("b0", "b1"),
        s"$mode: the replay marks it visible, once")
      assert(sink.committedBatchIds() == Seq(0L, 1L), s"$mode")
    }
  }

  test("a commit marker is a regular file named by a batch id, to every reader of the ledger") {
    import spark.implicits._
    val dir = tmp()
    val sink = new TwoPhaseParquetSink(SinkConfig(dir))
    sink.writeBatch(Seq(("a", 1L)).toDF("id", "v"), 0L)
    sink.writeBatch(Seq(("b", 2L)).toDF("id", "v"), 1L)
    val commits = java.nio.file.Paths.get(dir, "_commits")
    // batch 0's marker replaced by a file linking to itself; entries that
    // name no batch id
    val marker = commits.resolve("0")
    Files.delete(marker)
    Files.createSymbolicLink(marker, marker)
    Files.createFile(commits.resolve("01"))
    Files.createFile(commits.resolve("notes"))
    Files.createDirectories(commits.resolve("2"))
    assert(!sink.isCommitted(0L) && sink.isCommitted(1L) && !sink.isCommitted(2L))
    assert(sink.committedBatchIds() == Seq(1L), "the self-link is not a marker to either")
    assert(sink.read(spark).collect().map(_.getAs[String]("id")).toSeq == Seq("b"))
  }

  // --- the per-batch flow: materialize once, check, two legs, unpersist

  /** Every `RDDScanExec` leaf of a plan (each one a pass over the batch
    * foreachBatch hands over), the cached relations it reads and its
    * broadcasts. */
  private object Scans extends AdaptiveSparkPlanHelper {
    def direct(p: SparkPlan): Int = collectWithSubqueries(p) { case s: RDDScanExec => s }.size
    def cached(p: SparkPlan) =
      collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    def broadcasts(p: SparkPlan): Int = collectWithSubqueries(p) { case b: BroadcastExchangeExec => b }.size
  }

  /** Runs one pipeline query to its end with a query-execution listener
    * and a job listener registered: the query and sinks, every executed
    * plan, and the job group of every job started meanwhile. */
  private def recorded(start: => (StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink))
      : ((StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink), Seq[SparkPlan], Seq[String]) = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val groups = ArrayBuffer.empty[String]
    val executions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.synchronized { groups += e.properties.getProperty("spark.jobGroup.id") }
    }
    ListenerBusShim.drain(spark.sparkContext)
    spark.listenerManager.register(executions)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val started = start
      started._1.awaitTermination(60000)
      ListenerBusShim.drain(spark.sparkContext)
      (started, plans.toSeq, groups.toSeq)
    } finally {
      spark.listenerManager.unregister(executions)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("one micro-batch decodes the envelope once and runs three jobs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
      Env("t", 0, 1L, null, """not json at all"""),
      Env("t", 0, 2L, null, """{"id":null,"int_value":3}""")))
    val ((q, sink, dlq), plans, groups) = recorded(StreamPipeline.start(stream.toDF(), valueSchema,
      target, SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp(), quarantineDir = Some(tmp())))
    assert(q.exception.isEmpty, s"${q.exception}")
    assert(sink.read(spark).count() == 1 && dlq.read(spark).count() == 2)
    val direct = plans.map(Scans.direct).sum
    val caches = plans.flatMap(Scans.cached).distinct
    assert(direct == 0, "no execution re-reads the batch past the cache")
    assert(caches.size == 1, s"one persisted frame per batch, got ${caches.size}")
    assert(caches.map(c => Scans.direct(c.cachedPlan)).sum == 1,
      "the cache decodes the envelope in one pass")
    assert(groups.count(_ == q.runId.toString) == 3,
      s"materialize, data leg and DLQ leg; got jobs of groups $groups")
  }

  test("a ledger of more than 10 entries marks its rows in the batch's own three jobs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qDir = tmp()
    val nasty = "rejected, twice\nover a \\ backslash"
    // batch 0's rejections (offsets 1-12), entries of other batches whose
    // coordinates this batch does not hold, and offset 15, which also
    // fails validation: its validation error wins
    val ledger = new QuarantineLedger(qDir)
    ledger.append(0L, (1L to 12L).map(o => ("t", 0, o, if (o == 7L) nasty else s"rejected #$o")) :+
      (("t", 0, 15L, "rejected #15")))
    ledger.append(3L, Seq(("t", 1, 5L, "other partition"), ("u", 0, 2L, "other topic")))
    ledger.append(7L, Seq(("t", 0, 99L, "later offset")))
    assert(ledger.load().size == 16)
    val stream = MemoryStream[Env]
    stream.addData((0L to 14L).map(o => Env("t", 0, o, null, s"""{"id":"id-$o","int_value":$o}""")) :+
      Env("t", 0, 15L, null, "not json at all"))
    val ((q, sink, dlq), plans, groups) = recorded(StreamPipeline.start(stream.toDF(), valueSchema,
      target, SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp(), quarantineDir = Some(qDir)))
    assert(q.exception.isEmpty, s"${q.exception}")
    assert(sink.read(spark).collect().map(_.getAs[Long]("offset")).sorted.toSeq == Seq(0L, 13L, 14L))
    assert(dlq.read(spark).collect().map(r => (r.getAs[Long]("offset"), r.getAs[String]("err")))
        .sortBy(_._1).toSeq ==
      (1L to 12L).map(o => (o, if (o == 7L) nasty else s"rejected #$o")) :+ ((15L, "unparseable payload")))
    assert(groups.count(_ == q.runId.toString) == 3,
      s"materialize, data leg and DLQ leg; got jobs of groups $groups")
    val caches = plans.flatMap(Scans.cached).distinct
    assert(caches.size == 1)
    val executed = plans ++ caches.map(_.cachedPlan)
    assert(executed.map(Scans.broadcasts).sum == 0, "the ledger lookup broadcasts nothing")
    assert(caches.head.cachedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[InSet]))),
      "the ledger's coordinates are one literal set")
  }

  test("a coordinate in two ledger files reaches the DLQ once, with the earliest batch's error") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qDir = tmp()
    val ledger = new QuarantineLedger(qDir)
    // by name, batch-10.csv sorts before batch-2.csv
    ledger.append(10L, Seq(("t", 0, 1L, "recorded by batch 10")))
    ledger.append(2L, Seq(("t", 0, 1L, "recorded by batch 2")))
    assert(ledger.load().map(_.error) == Seq("recorded by batch 2", "recorded by batch 10"))
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
      Env("t", 0, 1L, null, """{"id":"id-1","int_value":2}""")))
    val (q, sink, dlq) = StreamPipeline.start(stream.toDF(), valueSchema, target,
      SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp(), quarantineDir = Some(qDir))
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"${q.exception}")
    assert(sink.read(spark).collect().map(_.getAs[Long]("offset")).toSeq == Seq(0L))
    assert(dlq.read(spark).collect().map(r => (r.getAs[Long]("offset"), r.getAs[String]("err"))).toSeq ==
      Seq((1L, "recorded by batch 2")))
  }

  test("has_unknown_key answers as json_object_keys, lower and array_except did") {
    import spark.implicits._
    val known = Set("id", "int_value", "Ünïcödé", StreamPipeline.CorruptField)
    // the drift column before the key scan, kept as the oracle: null where
    // json_object_keys is null, else whether a lowercased key is unknown
    def oracle(v: Column): Column = {
      val keys = json_object_keys(v)
      when(keys.isNotNull, size(array_except(transform(keys, k => lower(k)),
        array(known.toSeq.map(k => lit(k.toLowerCase(java.util.Locale.ROOT))): _*))) > 0)
    }
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    val cases: Seq[(String, Array[Byte])] = Seq(
      "exact known keys" -> utf8("""{"id":"a","int_value":1}"""),
      "case-variant known keys" -> utf8("""{"ID":"a","Int_Value":1}"""),
      "unknown key" -> utf8("""{"id":"a","brand_new":1}"""),
      "unknown key below the top level" -> utf8("""{"id":{"nested_new":1},"int_value":[{"x":{"y":2}}]}"""),
      "corrupt key" -> utf8("""{"_corrupt":"x","ID":"a"}"""),
      "corrupt key, upper case" -> utf8("""{"_CORRUPT":"x"}"""),
      "empty object" -> utf8("""{}"""),
      "truncated after an unknown key" -> utf8("""{"id":"a","zzz":1,"int_va"""),
      "malformed after an unknown key" -> utf8("""{"zzz":1,"id":}"""),
      "array" -> utf8("""[{"zzz":1}]"""),
      "scalar" -> utf8("42"),
      "string scalar" -> utf8("\"zzz\""),
      "empty string" -> utf8(""),
      "whitespace only" -> utf8("   "),
      "leading whitespace" -> utf8("""  {"zzz":1}"""),
      "trailing text after a known object" -> utf8("""{"id":"a"} {"zzz":1}"""),
      "trailing text after an unknown key" -> utf8("""{"zzz":1} garbage"""),
      "duplicate known keys" -> utf8("""{"id":1,"id":2}"""),
      "duplicate unknown keys" -> utf8("""{"zzz":1,"zzz":2,"id":3}"""),
      "non-ASCII known key" -> utf8("""{"ünïcödé":1}"""),
      "non-ASCII known key, upper case" -> utf8("""{"ÜNÏCÖDÉ":1}"""),
      "non-ASCII unknown key" -> utf8("""{"ΣΟΦΙΑ":1,"id":"a"}"""),
      "dotted capital I" -> utf8("""{"İD":1}"""),
      "escaped key" -> utf8("{\"\\u0069d\":1,\"zz\\u007a\":2}"),
      "single quotes" -> utf8("""{'id':'a','zzz':1}"""),
      "unescaped control character" -> utf8("{\"id\":\"a\tb\"}"),
      "byte order mark" -> (bytes(0xef, 0xbb, 0xbf) ++ utf8("""{"zzz":1}""")),
      "leading zero byte" -> bytes(0, '{', '}'),
      "invalid UTF-8 in a value" -> (utf8("""{"zzz":"""") ++ bytes(0xff) ++ utf8("\"}")),
      "invalid UTF-8 in a known value" -> (utf8("""{"id":"""") ++ bytes(0xc3) ++ utf8("\"}")),
      "invalid UTF-8 in a key" -> (utf8("{\"") ++ bytes(0xfe, 'i', 'd') ++ utf8("\":1}")),
      "null" -> null)
    val df = cases.toDF("name", "bytes")
      .select(col("name"), col("bytes").cast("string").as("value"))
    val got = df.select(col("name"), oracle(col("value")).as("oracle"),
        JsonKeyScan.has_unknown_key(col("value"), known).as("scan"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    cases.foreach { case (name, _) =>
      val (expected, scanned) = got(name)
      assert(scanned == expected, s"$name: oracle $expected, key scan $scanned")
    }
    // the cases reach every answer
    assert(got.values.map(_._1).toSet == Set(Some(true), Some(false), None))
  }

  test("a replay after a failed DLQ publish does not re-check rows that landed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sinkDir = tmp(); val dlqDir = tmp(); val ckpt = tmp(); val qDir = tmp()
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
      Env("t", 0, 1L, null, """not json at all"""),
      Env("t", 0, 2L, null, """{"id":"poison","int_value":3}""")))
    // the remote accepts every row on the first attempt and would reject
    // the poison row on any later one
    val checks = new java.util.concurrent.atomic.AtomicInteger()
    val check: Check = df => if (checks.getAndIncrement() == 0) Seq.empty else rejectPoison(df)
    def run() = {
      val (q, sink, dlq) = StreamPipeline.start(stream.toDF(), valueSchema, target,
        SinkConfig(sinkDir, WriteMode.Committed), dlqDir, ckpt, quarantineDir = Some(qDir),
        appendCheck = check)
      try q.awaitTermination(60000) catch { case _: Exception => () }
      (q, sink, dlq)
    }
    // attempt 1: the data leg lands and commits; the DLQ publish fails at
    // its marker, blocked by a self-linking file
    new TwoPhaseParquetSink(SinkConfig(dlqDir))
    val blocker = java.nio.file.Paths.get(dlqDir, "_commits", "0")
    Files.createSymbolicLink(blocker, blocker)
    val (q1, sink1, dlq1) = run()
    assert(q1.exception.nonEmpty, "a failed DLQ publish must fail the batch")
    Files.delete(blocker)
    assert(sink1.committedBatchIds() == Seq(0L) && dlq1.committedBatchIds().isEmpty)
    val (q2, sink2, dlq2) = run()
    assert(q2.exception.isEmpty, s"the replay must not re-check landed rows: ${q2.exception}")
    assert(checks.get == 1, "appendCheck runs on the attempt that lands the data leg only")
    assert(sink2.read(spark).collect().map(_.getAs[Long]("offset")).sorted.toSeq == Seq(0L, 2L),
      "landed rows stay in the data sink")
    assert(dlq2.read(spark).collect().map(r => (r.getAs[Long]("offset"), r.getAs[String]("err"))).toSeq ==
      Seq((1L, "unparseable payload")), "the DLQ holds the bad rows once")
    assert(sink2.committedBatchIds() == Seq(0L) && dlq2.committedBatchIds() == Seq(0L))
    assert(new QuarantineLedger(qDir).isEmpty)
  }

  test("the batch frame is unpersisted whether the batch lands or fails") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // earlier suites keep pinned frames in the same cache manager, so the
    // check is on this batch's frame: appendCheck sees a plan over it,
    // which the cache manager still resolves to the cache after the query
    // ends if the frame was left persisted
    def readsCache(plan: LogicalPlan) =
      spark.sessionState.executePlan(plan).withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    val outcomes = Seq[(String, Check, Boolean)](
      ("clean batch", _ => Seq.empty, true),
      ("appendCheck rejection", rejectPoison, false),
      ("retriable transport failure", _ => throw new java.io.IOException("transient"), false),
      ("unretriable failure", _ => throw new IllegalArgumentException("bad request"), false))
    outcomes.foreach { case (name, check, lands) =>
      val stream = MemoryStream[Env]
      stream.addData(Seq(
        Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
        Env("t", 0, 1L, null, """{"id":"poison","int_value":2}""")))
      @volatile var seen: Option[(LogicalPlan, Boolean)] = None
      val (q, sink, _) = StreamPipeline.start(stream.toDF(), valueSchema, target,
        SinkConfig(tmp()), dlqDir = tmp(), checkpointDir = tmp(),
        quarantineDir = Some(tmp()), appendCheck = df => {
          val plan = df.queryExecution.analyzed
          seen = Some(plan -> readsCache(plan))
          check(df)
        })
      try q.awaitTermination(60000) catch { case _: Exception => () }
      assert(q.exception.isEmpty == lands, s"$name: ${q.exception}")
      assert(sink.committedBatchIds().nonEmpty == lands, name)
      val (plan, cachedDuringBatch) = seen.getOrElse(fail(s"$name: appendCheck never ran"))
      assert(cachedDuringBatch, s"$name: appendCheck must read the persisted frame")
      assert(!readsCache(plan), s"$name left the batch frame cached")
    }
  }

  test("a failing DLQ leg fails the batch; the replay lands both legs exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (mode <- Seq(WriteMode.Committed, WriteMode.Pending)) {
      val sinkDir = tmp(); val dlqDir = tmp(); val ckpt = tmp()
      val stream = MemoryStream[Env]
      stream.addData(Seq(
        Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
        Env("t", 0, 1L, null, """not json at all"""),
        Env("t", 0, 2L, null, """{"id":"id-2","int_value":3}""")))
      def run() = {
        val (q, sink, dlq) = StreamPipeline.start(stream.toDF(), valueSchema, target,
          SinkConfig(sinkDir, mode), dlqDir, ckpt)
        try q.awaitTermination(60000) catch { case _: Exception => () }
        (q, sink, dlq)
      }
      // a file that links to itself where the DLQ leg stages its batch:
      // neither a directory to write into nor one the overwrite removes
      new TwoPhaseParquetSink(SinkConfig(dlqDir))
      val blocker = java.nio.file.Paths.get(dlqDir, "_staging", "batch=0")
      Files.createSymbolicLink(blocker, blocker)
      val (q1, _, dlq1) = run()
      val causes = q1.exception.toSeq.flatMap(e => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(c => String.valueOf(c.getMessage)))
      assert(causes.exists(_.contains(blocker.toString)), s"$mode: a failed DLQ leg must fail the batch")
      assert(dlq1.committedBatchIds().isEmpty)
      Files.delete(blocker)
      val (q2, sink2, dlq2) = run()
      assert(q2.exception.isEmpty, s"$mode: replay must succeed: ${q2.exception}")
      sink2.commit()
      assert(sink2.read(spark).collect().map(_.getAs[Long]("offset")).sorted.toSeq == Seq(0L, 2L),
        s"$mode: good rows exactly once")
      assert(dlq2.read(spark).collect().map(_.getAs[Long]("offset")).toSeq == Seq(1L),
        s"$mode: DLQ rows exactly once")
      assert(sink2.committedBatchIds() == Seq(0L) && dlq2.committedBatchIds() == Seq(0L), s"$mode")
    }
  }

  test("drift is counted once per attempt, the rejected attempt included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp(); val out = tmp(); val dlqD = tmp(); val qDir = tmp()
    val monitor = new StreamPipeline.SchemaDriftMonitor
    val stream = MemoryStream[Env]
    def run(check: Check) = {
      val (q, sink, dlq) = StreamPipeline.startInferred(stream.toDF(), target,
        SinkConfig(out), dlqDir = dlqD, checkpointDir = ckpt, quarantineDir = Some(qDir),
        appendCheck = check, drift = Some(monitor))
      try q.awaitTermination(60000) catch { case _: Exception => () }
      (q, sink, dlq)
    }
    // the learning batch: no unknown field to drift from
    stream.addData(Seq(Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}""")))
    assert(run(_ => Seq.empty)._1.exception.isEmpty)
    stream.addData(Seq(
      Env("t", 0, 1L, null, """{"id":"id-1","int_value":2,"brand_new_field":true}"""),
      Env("t", 0, 2L, null, """{"id":"poison","int_value":3}""")))
    val (q2, _, _) = run(rejectPoison)
    assert(q2.exception.nonEmpty, "the first attempt is rejected")
    assert(monitor.driftRows == 1L, "the rejected attempt counts its drift")
    val (q3, sink3, dlq3) = run(rejectPoison)
    assert(q3.exception.isEmpty, s"${q3.exception}")
    assert(monitor.driftRows == 2L && monitor.driftBatches == 2L,
      s"once per attempt: rows ${monitor.driftRows}, batches ${monitor.driftBatches}")
    assert(sink3.read(spark).collect().map(_.getAs[String]("id")).toSet == Set("id-0", "id-1"))
    assert(dlq3.read(spark).collect().map(_.getAs[Long]("offset")).toSeq == Seq(2L))
  }

  test("a failed data leg publishes no DLQ batch; a row its replay rejects reaches the DLQ once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (mode <- Seq(WriteMode.Committed, WriteMode.Pending)) {
      val sinkDir = tmp(); val dlqDir = tmp(); val ckpt = tmp(); val qDir = tmp()
      val stream = MemoryStream[Env]
      stream.addData(Seq(
        Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
        Env("t", 0, 1L, null, """not json at all"""),
        Env("t", 0, 2L, null, """{"id":"poison","int_value":3}""")))
      def run(check: Check) = {
        val (q, sink, dlq) = StreamPipeline.start(stream.toDF(), valueSchema, target,
          SinkConfig(sinkDir, mode), dlqDir, ckpt, quarantineDir = Some(qDir), appendCheck = check)
        try q.awaitTermination(60000) catch { case _: Exception => () }
        (q, sink, dlq)
      }
      // attempt 1: the remote accepts every row, but the data leg's write
      // is blocked by a self-linking file where its batch directory goes
      new TwoPhaseParquetSink(SinkConfig(sinkDir))
      val blocker = java.nio.file.Paths.get(sinkDir,
        if (mode == WriteMode.Committed) "data" else "_staging", "batch=0")
      Files.createSymbolicLink(blocker, blocker)
      val (q1, _, dlq1) = run(_ => Seq.empty)
      assert(q1.exception.nonEmpty, s"$mode: a failed data leg must fail the batch")
      assert(dlq1.committedBatchIds().isEmpty, s"$mode: no DLQ batch lands ahead of the data leg")
      Files.delete(blocker)
      // attempt 2: the replayed append rejects the poison row; attempt 3
      // routes it to the DLQ next to the unparseable row
      val (q2, _, _) = run(rejectPoison)
      assert(q2.exception.nonEmpty, s"$mode: the rejection fails the replay")
      val (q3, sink3, dlq3) = run(rejectPoison)
      assert(q3.exception.isEmpty, s"$mode: ${q3.exception}")
      sink3.commit()
      assert(sink3.read(spark).collect().map(_.getAs[Long]("offset")).toSeq == Seq(0L), s"$mode")
      assert(dlq3.read(spark).collect().map(r => (r.getAs[Long]("offset"), r.getAs[String]("err")))
          .sortBy(_._1).toSeq ==
        Seq((1L, "unparseable payload"), (2L, "row rejected by remote append")),
        s"$mode: every DLQ row exactly once")
      assert(sink3.committedBatchIds() == Seq(0L) && dlq3.committedBatchIds() == Seq(0L), s"$mode")
    }
  }

  // --- the batch runs on the source session

  test("over one source session, later connector runs compile no code") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Env]
    val sinkDir = tmp(); val dlqDir = tmp(); val ckpt = tmp(); val qDir = tmp()
    // each run is a new streaming query (the image of a scheduled
    // AvailableNow run) over the same source, with good, unparseable,
    // invalid and quarantined rows, like the connector's rounds
    def run(round: Int): Long = {
      stream.addData((0 until 20).map { i =>
        val o = round * 20L + i
        Env("t", 0, o, null, i % 5 match {
          case 0 => "not json at all"
          case 1 => s"""{"id":null,"int_value":$o}"""
          case _ => s"""{"id":"id-$o","int_value":$o}"""
        })
      })
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (q, sink, _) = StreamPipeline.start(stream.toDF(), valueSchema, target,
        SinkConfig(sinkDir, WriteMode.Pending), dlqDir, ckpt, quarantineDir = Some(qDir))
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, s"round $round: ${q.exception}")
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      sink.commit()
      compiled
    }
    new QuarantineLedger(qDir).append(0L, (0 until 4).map(r => ("t", 0, r * 20L + 2, "rejected")))
    run(0) // the first run compiles whatever this session has not yet
    val later = (1 to 3).map(run)
    assert(later.sum == 0, s"compilations in runs 2-4: $later")
  }

  test("every SQL execution a batch starts runs on the source session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sessions = ArrayBuffer.empty[(String, AnyRef)]
    val executions = new QueryExecutionListener {
      private def seen(f: String, qe: QueryExecution): Unit =
        sessions.synchronized { sessions += f -> qe.sparkSession }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(f, qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(f, qe)
    }
    val stream = MemoryStream[Env]
    stream.addData(Seq(
      Env("t", 0, 0L, null, """{"id":"id-0","int_value":1}"""),
      Env("t", 0, 1L, null, """not json at all"""),
      Env("t", 0, 2L, null, """{"id":"poison","int_value":3}""")))
    val ckpt = tmp(); val out = tmp(); val dlqD = tmp(); val qDir = tmp()
    // registered before the queries start, so each query's session clone
    // copies it and reports the executions on the clone to it too
    ListenerBusShim.drain(spark.sparkContext)
    spark.listenerManager.register(executions)
    try {
      // inference, a rejected attempt and its replay
      Seq(false, true).foreach { lands =>
        val (q, _, _) = StreamPipeline.startInferred(stream.toDF(), target, SinkConfig(out),
          dlqDir = dlqD, checkpointDir = ckpt, quarantineDir = Some(qDir),
          appendCheck = rejectPoison, drift = Some(new StreamPipeline.SchemaDriftMonitor))
        try q.awaitTermination(60000) catch { case _: Exception => () }
        assert(q.exception.isEmpty == lands, s"${q.exception}")
      }
      ListenerBusShim.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(executions)
    // the inference sample and its read, `isEmpty`, the materialization of
    // each attempt, appendCheck's collects and the two legs of the replay
    assert(sessions.map(_._1).groupMapReduce(identity)(_ => 1)(_ + _) ==
      Map("collect" -> 3, "rdd" -> 1, "isEmpty" -> 1, "overwrite" -> 2, "command" -> 2),
      s"executions seen: ${sessions.map(_._1)}")
    assert(sessions.forall(_._2 eq spark),
      s"executions on another session: ${sessions.filterNot(_._2 eq spark).map(_._1)}")
  }
}
