package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.StreamingOps

/** Stateful streaming phase: four of the StreamBench operators (the
  * online CUSUM gauge on mapGroupsWithState, the windowed-distinct HLL
  * gauge, the count-min cell matrix and the flatMapGroupsWithState
  * near-dup candidates), each a long-running query over its own
  * MemoryStream. A round feeds every operator one deterministic chunk and
  * waits for it to be processed. */
object StatefulPhase {
  val WarmupRounds = 1
  private val Base = Timestamp.valueOf("2024-01-01 10:00:00").getTime

  /** One operator under test: feed rows [from, from+n) and check its output. */
  private abstract class Op(val name: String, val chunk: Int) {
    var fed = 0L
    def query: StreamingQuery
    def feed(from: Long, n: Int): Unit
    def check(spark: SparkSession): (Boolean, String)
  }

  private def key(seed: Long, i: Long, n: Int): String =
    s"k${java.lang.Math.floorMod(Envelopes.mix64(seed * 31 + i), n.toLong)}"
  private def num(seed: Long, i: Long, m: Long): Long =
    java.lang.Math.floorMod(Envelopes.mix64(seed * 131 + i * 7 + 1), m)

  private def ops(spark: SparkSession, seed: Long, ckpt: java.nio.file.Path): Seq[Op] = {
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    def start(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
      df.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt.resolve(name).toString).start()

    val cusum = new Op("cusum", 2000) {
      val s = MemoryStream[(String, Long, Long)]
      val query = start(StreamingOps.onlineCusum[(String, Long, Long)](s.toDS(), _._1, _._3,
        ref = 50L, h = 500L).toDF(), "pb_cusum", OutputMode.Update)
      def feed(from: Long, n: Int): Unit =
        s.addData((from until from + n).map(i => (key(seed, i, 64), i, num(seed, i, 100))))
      def check(sp: SparkSession): (Boolean, String) = {
        val got = sp.table("pb_cusum").groupBy("key").agg(max("n")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = (0L until fed).groupBy(i => key(seed, i, 64)).map { case (k, v) => k -> v.size.toLong }
        (got == want, s"keys=${got.size} expected=${want.size}")
      }
    }
    val wd = new Op("windowed_distinct", 2000) {
      val s = MemoryStream[(Timestamp, String)]
      val query = start(StreamingOps.windowedDistinct(s.toDF().toDF("ts", "key"), "ts", "key",
        "10 minutes", "5 minutes"), "pb_wd", OutputMode.Append)
      private def ts(i: Long) = Base + i * 1000L
      def feed(from: Long, n: Int): Unit =
        s.addData((from until from + n).map(i => (new Timestamp(ts(i)), key(seed, i, 2000))))
      def check(sp: SparkSession): (Boolean, String) = {
        val got = sp.table("pb_wd").select(col("window.start").cast("long"), col("n_distinct"), col("n_events"))
          .collect().map(r => (r.getLong(0) * 1000L, r.getLong(1), r.getLong(2)))
        val exact = (0L until fed).groupBy(i => ts(i) - java.lang.Math.floorMod(ts(i), 600000L))
        val bad = got.count { case (w, nd, ne) =>
          exact.get(w).forall { is =>
            val d = is.map(key(seed, _, 2000)).distinct.size
            ne != is.size || nd > ne || math.abs(nd - d) > 0.2 * d
          }
        }
        (got.nonEmpty && bad == 0, s"windows=${got.length} bad=$bad")
      }
    }
    val cms = new Op("cms", 2000) {
      val s = MemoryStream[String]
      val query = start(StreamingOps.cmsMatrix(s.toDF().toDF("term"), "term"), "pb_cms", OutputMode.Complete)
      def feed(from: Long, n: Int): Unit =
        s.addData((from until from + n).map(i => s"t${num(seed, i, 10000)}"))
      def check(sp: SparkSession): (Boolean, String) = {
        val sums = sp.table("pb_cms").groupBy("row").agg(sum("cnt")).collect().map(_.getLong(1))
        (sums.nonEmpty && sums.forall(_ == fed), s"row sums=${sums.distinct.mkString(",")} fed=$fed")
      }
    }
    val vocab = (0 until 64).map(w => s"w$w")
    val nd = new Op("near_dup", 500) {
      val s = MemoryStream[(Timestamp, Long, String)]
      val query = start(StreamingOps.streamingNearDupCandidates(
        s.toDF().toDF("ts", "doc_id", "text").withWatermark("ts", "1 minute"),
        horizonMillis = 60L * 60 * 1000).toDF(), "pb_nd", OutputMode.Append)
      def feed(from: Long, n: Int): Unit =
        s.addData((from until from + n).map { i =>
          // every 10th document repeats a template, so candidates keep flowing
          val text =
            if (i % 10 == 0) vocab.take(24).mkString(" ")
            else (0 until 24).map(j => vocab(num(seed, i * 24 + j, 64).toInt)).mkString(" ")
          (new Timestamp(Base + i * 50L), i, text)
        })
      def check(sp: SparkSession): (Boolean, String) = {
        val pairs = sp.table("pb_nd").select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        val bad = pairs.count { case (x, y) => x == y || x < 0 || y < 0 || x >= fed || y >= fed }
        (pairs.nonEmpty && bad == 0, s"pairs=${pairs.length} bad=$bad")
      }
    }
    Seq(cusum, wd, cms, nd)
  }

  final case class BatchRec(op: String, rows: Int, latencyMs: Double)

  /** Feed every operator `chunk` more rows, WarmupRounds times; the
    * operators warm up side by side: feed all, then wait for each. */
  private def warmUp(os: Seq[Op]): Unit =
    (0 until WarmupRounds).foreach { _ =>
      os.foreach { o => o.feed(o.fed, o.chunk); o.fed += o.chunk }
      os.foreach(_.query.processAllAvailable())
    }

  /** Rounds over the operators, one chunk each, timed one by one. */
  private final class Rounds(os: Seq[Op]) {
    val recs = ArrayBuffer.empty[BatchRec]
    var error: Option[String] = None
    var r = 0
    private val warmBatches =
      os.map(o => o.name -> Option(o.query.lastProgress).map(_.batchId).getOrElse(-1L)).toMap

    def round(): Unit = {
      os.foreach { o =>
        try {
          val tb = System.nanoTime()
          o.feed(o.fed, o.chunk)
          o.query.processAllAvailable()
          recs += BatchRec(o.name, o.chunk, (System.nanoTime() - tb) / 1e6)
          o.fed += o.chunk
        } catch { case e: Throwable => error = Some(s"${o.name}: ${e.getMessage}".take(300)) }
      }
      r += 1
    }

    def checks(spark: SparkSession): Seq[(String, Boolean, String)] = os.map { o =>
      val (ok, d) = try o.check(spark) catch { case e: Throwable => (false, e.getMessage) }
      (s"${o.name}.output", ok, d)
    } :+ (("stateful.no_errors", error.isEmpty, error.getOrElse("")))

    /** Per-operator layer metrics: chunk throughput, and the state
      * store's numbers from the engine's progress reports. */
    def layerMetrics(): Map[String, Double] = os.flatMap { o =>
      val mine = recs.filter(_.op == o.name)
      val stateOps = o.query.recentProgress.filter(_.batchId > warmBatches(o.name)).toSeq
        .flatMap(_.stateOperators.headOption)
      val last = Option(o.query.lastProgress).flatMap(_.stateOperators.headOption)
      Seq(
        s"StreamingOps.${o.name}.rows_per_s" -> mine.map(_.rows.toDouble).sum / (mine.map(_.latencyMs).sum / 1000),
        s"StreamingOps.${o.name}.state_commit_ms" -> Harness.median(stateOps.map(_.commitTimeMs.toDouble)),
        s"StreamingOps.${o.name}.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        s"StreamingOps.${o.name}.state_memory_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
    }.toMap
  }

  /** A short stateful phase on an existing session, for the per-layer
    * StreamingOps metrics of another workload's traced run: start the
    * operators, warm them up, run rounds for half the window. */
  def layerPhase(spark: SparkSession, a: RunArgs): (Map[String, Double], Seq[(String, Boolean, String)]) = {
    val os = ops(spark, a.seed, a.tmpDir.resolve("stateful-phase"))
    warmUp(os)
    val rounds = new Rounds(os)
    val until = System.nanoTime() + (a.seconds * 1e9 / 2).toLong
    while (rounds.error.isEmpty && (rounds.r < 2 || System.nanoTime() < until)) rounds.round()
    val out = (rounds.layerMetrics(), rounds.checks(spark))
    os.foreach(_.query.stop())
    out
  }
}
