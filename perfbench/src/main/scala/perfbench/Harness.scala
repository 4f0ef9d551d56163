package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run, from the command line. */
final case class RunArgs(workload: String, seed: Long, seconds: Double, trace: Boolean,
                         data: String, tmpDir: Path, artifactDir: Path, cores: Int)

/** What a workload hands back: the end-to-end or per-layer metrics (by
  * trace mode), the attempted/failed counts, every correctness check, and
  * the per-round or per-query records for the artifact file. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
                         checks: Seq[(String, Boolean, String)],
                         records: Seq[Map[String, Any]]) {
  def correct: Boolean = checks.forall(_._2)
}

object Harness {
  /** A fresh local session whose scratch space stays under `tmp`. */
  def session(a: RunArgs, extensions: Boolean): SparkSession = {
    val local = a.tmpDir.resolve("spark")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", local.resolve("checkpoints").toString)
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `setup` `reps` times, stopping the session of every run but the
    * last; returns the last result and the median wall time. */
  def repeatedSetup[T](reps: Int)(setup: () => (SparkSession, T)): (SparkSession, T, Double, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      last = setup()
      times += (System.nanoTime() - t0) / 1e9
      if (i < reps) last._1.stop()
    }
    (last._1, last._2, median(times.toSeq), times.toSeq)
  }

  /** Run `body`, logging its wall time to stderr (the run's JVM log). */
  def step[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $what%s: ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Used heap after a full collection, in MB. Block removals that
    * `unpersist(blocking = false)` queued are let finish first: the reading
    * waits (up to 3 s) until the block manager's used memory holds still.
    * Spark's context cleaner frees broadcasts and shuffles only after a
    * collection finds them unreachable, so collections repeat (up to six)
    * until the used heap holds still too. */
  def heapMbAfterGc(spark: SparkSession): Double = {
    def blocks(): Long = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    var last = blocks(); var still = 0; var polls = 0
    while (still < 3 && polls < 30) {
      Thread.sleep(100); polls += 1
      val now = blocks()
      if (now == last) still += 1 else { still = 0; last = now }
    }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed }
    var prev = used(); var cur = used(); var gcs = 2
    while (math.abs(cur - prev) > (1L << 20) && gcs < 6) { prev = cur; cur = used(); gcs += 1 }
    cur / (1024.0 * 1024.0)
  }

  /** Run `unit` while `more` holds, first untraced for the whole window
    * (untraced run), or untraced for the first half and traced for the
    * second (traced run, whose difference gives the tracing overhead).
    * `more(deadlineNs, unitsInPhase)` decides whether another unit runs. */
  def window(a: RunArgs, tracer: Tracer)(more: (Long, Int) => Boolean)(unit: () => Unit): Double = {
    val t0 = System.nanoTime()
    val full = (a.seconds * 1e9).toLong
    def phase(until: Long): Unit = { var n = 0; while (more(until, n)) { unit(); n += 1 } }
    tracer.enabled = false
    if (!a.trace) phase(t0 + full)
    else {
      phase(t0 + full / 2)
      tracer.enabled = true
      phase(System.nanoTime() + full / 2)
      tracer.enabled = false
    }
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Files and bytes of the parquet part files under `dir`. */
  def parquetFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val walk = Files.walk(dir)
      try {
        var n = 0L; var bytes = 0L
        walk.filter(f => f.getFileName.toString.endsWith(".parquet")).forEach { f =>
          n += 1; bytes += Files.size(f)
        }
        (n, bytes)
      } finally walk.close()
    }
}
