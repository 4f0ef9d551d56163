package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `unit` groups the spans of one round or query;
  * `parent` is the index of the enclosing span, -1 for a root. */
final case class Span(name: String, unit: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing, so untraced work pays one branch per call. Spans opened on
  * one thread nest through a thread-local stack; spans reconstructed from
  * listener reports are added with an explicit parent. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, unit: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = add(Span(name, unit, stack.get.headOption.getOrElse(-1), System.nanoTime(), 0L))
      stack.set(idx :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        spans.synchronized { spans(idx) = spans(idx).copy(endNs = System.nanoTime()) }
      }
    }

  /** Index of the innermost open span on this thread, -1 if none. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  /** Add a span whose interval is already known; returns its index. */
  def add(s: Span): Int = spans.synchronized { spans += s; spans.length - 1 }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time of every span: its duration minus the union of its
    * children's intervals, clipped to the span. */
  def selfMs(): Seq[(Span, Double)] = {
    val ss = all
    val kids = ss.indices.groupBy(i => ss(i).parent)
    ss.indices.map { i =>
      val s = ss(i)
      val covered = kids.getOrElse(i, Nil)
        .map(k => (math.max(ss(k).startNs, s.startNs), math.min(ss(k).endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      s -> (s.endNs - s.startNs - total) / 1e6
    }
  }

  /** Self time summed per span name, and the check that self times
    * account for the root spans (rounds, or query steps): summed over
    * every span they equal the roots' summed duration when children nest
    * inside their parents without overlapping. */
  def summary(): Map[String, Any] = {
    val self = selfMs()
    Map("self_ms_by_span" -> selfByName(),
      "self_ms_total" -> self.map(_._2).sum,
      "root_span_ms" -> self.collect { case (s, _) if s.parent == -1 => s.ms }.sum)
  }

  def selfByName(): Map[String, Double] =
    selfMs().groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).sum }

  /** Every span as one JSON line, with its self time. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = selfMs().zipWithIndex.map { case ((s, self), i) =>
      Json.str(Map("id" -> i, "name" -> s.name, "unit" -> s.unit, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> self))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Counters fed by the Spark listener bus. Registered before any timed
  * region; read as differences between two snapshots. */
final class JobCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, stages.get, tasks.get, taskNs.get,
    shuffleBytes.get, spillBytes.get)
}

final case class Counts(jobs: Long, stages: Long, tasks: Long, taskNs: Long,
                        shuffleBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskNs - o.taskNs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** One finished SQL execution: the parquet output path it wrote (if any),
  * its duration, and how many scans of the micro-batch it held
  * (foreachBatch hands the batch over as an RDD, so every `RDDScanExec`
  * leaf is one pass over the source batch). */
final case class SqlExec(outputPath: Option[String], durationNs: Long, sourceScans: Int)

final class SqlExecutions extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val buf = ArrayBuffer.empty[SqlExec]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val out = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val n = collectWithSubqueries(qe.executedPlan) { case s: RDDScanExec => s }.size
    buf.synchronized { buf += SqlExec(out, durationNs, n) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Seq[SqlExec] = buf.synchronized { val r = buf.toList; buf.clear(); r }
}

/** Per-trigger progress of every streaming query, as the engine reports it. */
final class EngineProgress extends StreamingQueryListener {
  import StreamingQueryListener._
  private val buf = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = buf.synchronized { buf += e.progress }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    buf.synchronized { val r = buf.toList; buf.clear(); r }
}

/** The listeners of a traced run, registered once per session before any
  * timed region. `quiesce` waits for the listener bus to deliver every
  * event posted so far. */
final class Listeners(spark: SparkSession) {
  val jobs = new JobCounters
  val sql = new SqlExecutions
  val engine = new EngineProgress
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(sql)
  spark.streams.addListener(engine)

  def quiesce(): Unit = org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
}
