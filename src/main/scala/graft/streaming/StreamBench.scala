package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming micro-benchmark: throughput, per-batch latency, and state
  * size for the five STATEFUL streaming operators (round-7 VERDICT
  * "Next round #5" — the reference is a streaming writer, so the
  * streaming legs need perf numbers, not just the StreamingOpsSpec
  * semantics proofs).
  *
  * Methodology: each op drains `rows` deterministic synthetic rows fed
  * through a MemoryStream in `chunks` micro-batches
  * (addData + processAllAvailable per chunk — the offline stand-in for
  * a rate source; the sandbox has no Kafka, and a rate source's wall
  * clock would make the numbers non-reproducible). Reported per op:
  * wall seconds, rows/s, micro-batch count, mean seconds per batch
  * (the end-to-end latency floor at this batch size), and the final
  * stateful-operator row count (the state-size gauge — constant-state
  * claims show up here as row counts that track keys/windows/buckets,
  * never raw event counts).
  *
  * Determinism: synthetic data is pure arithmetic in the row index
  * (no wall clock, no RNG), so reruns measure the same work.
  */
object StreamBench {
  case class OpResult(rows: Long, sec: Double, batches: Int, stateRows: Long)

  private val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime

  private def drain(spark: SparkSession, name: String, rows: Int,
                    chunks: Int)(
      feed: (Int, Int) => Unit, start: String => org.apache.spark.sql.streaming.StreamingQuery): OpResult = {
    val t0 = System.nanoTime()
    val q = start(name)
    val per = math.max(1, rows / chunks)
    var fed = 0
    while (fed < rows) {
      val n = math.min(per, rows - fed)
      feed(fed, n)
      q.processAllAvailable()
      fed += n
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val state = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    val batches = Option(q.lastProgress).map(_.batchId.toInt + 1).getOrElse(0)
    q.stop()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    OpResult(rows.toLong, sec, batches, state)
  }

  /** Run all five op benches; keys are stable metric names. */
  def run(spark: SparkSession, rows: Int = 100000,
          chunks: Int = 20): Map[String, OpResult] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    var out = Map.empty[String, OpResult]

    // F217 online CUSUM — 64 keys, value sawtooth around the reference
    locally {
      val s = MemoryStream[(String, Long, Long)]
      val ds = StreamingOps.onlineCusum[(String, Long, Long)](
        s.toDS(), _._1, _._3, ref = 50L, h = 500L)
      out += "cusum" -> drain(spark, "sb_cusum", rows, chunks)(
        (from, n) => s.addData((from until from + n).map(i =>
          (s"k${i % 64}", i.toLong, (i % 100).toLong))),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName(nm).start())
    }

    // F185 Misra–Gries heavy hitters — 8 strata, zipf-ish item skew
    locally {
      val s = MemoryStream[(String, String)]
      val ds = StreamingOps.heavyHitters[(String, String)](
        s.toDS(), _._1, _._2, k = 64)
      out += "misra_gries" -> drain(spark, "sb_mg", rows, chunks)(
        (from, n) => s.addData((from until from + n).map { i =>
          val item = if (i % 5 == 0) s"hot${i % 3}" else s"i${i % 5000}"
          (s"s${i % 8}", item)
        }),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName(nm).start())
    }

    // E7 streaming CMS cell matrix — Complete-mode sketch aggregation
    locally {
      val s = MemoryStream[String]
      val df = StreamingOps.cmsMatrix(s.toDF().toDF("term"), "term")
      out += "cms" -> drain(spark, "sb_cms", rows, chunks)(
        (from, n) => s.addData((from until from + n).map(i =>
          s"t${(i * 2654435761L) % 10000}")),
        nm => df.writeStream.outputMode(OutputMode.Complete)
          .format("memory").queryName(nm).start())
    }

    // F235 windowed-distinct gauge — HLL state per 10-minute window
    locally {
      val s = MemoryStream[(Timestamp, String)]
      val df = StreamingOps.windowedDistinct(
        s.toDF().toDF("ts", "key"), "ts", "key", "10 minutes", "5 minutes")
      out += "windowed_distinct" -> drain(spark, "sb_wd", rows, chunks)(
        (from, n) => s.addData((from until from + n).map(i =>
          (new Timestamp(base + i * 100L), s"u${i % 2000}"))),
        nm => df.writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName(nm).start())
    }

    // D5e streaming near-dup candidates — MinHash/LSH bucket state.
    // Docs get the FULL row budget (round-9 rework; the round-8 budget
    // of rows/10 at the same chunk count made every micro-batch ~500
    // docs, so the published rows/s measured the micro-batch scheduling
    // floor — ~0.55 s/batch, identical across all gauges — not the op.
    // The signature itself is a vectorized pre-shuffle projection
    // (Dedup.bandBucketsPerRow ahead of groupByKey), whose per-doc cost
    // only shows once batches are big enough to amortize the floor).
    locally {
      val nDocs = rows
      val vocab = (0 until 64).map(w => s"w$w")
      val s = MemoryStream[(Timestamp, Long, String)]
      val ds = StreamingOps.streamingNearDupCandidates(
        s.toDF().toDF("ts", "doc_id", "text").withWatermark("ts", "1 minute"),
        horizonMillis = 60L * 60 * 1000)
      out += "near_dup" -> drain(spark, "sb_nd", nDocs, chunks)(
        (from, n) => s.addData((from until from + n).map { i =>
          // every 10th doc repeats a template → steady candidate flow
          val text =
            if (i % 10 == 0) vocab.take(24).mkString(" ")
            else (0 until 24).map(j => vocab(((i * 31) + j * 7) % 64)).mkString(" ")
          (new Timestamp(base + i * 50L), i.toLong, text)
        }),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName(nm).start())
    }

    // F287 late-drop gauge — 64 keys, every 7th event 10 min late
    locally {
      val s = MemoryStream[(String, Long, Long)]
      val ds = StreamingOps.lateDropGauge[(String, Long, Long)](
        s.toDS(), _._1, _._2, _._3, allowedLatenessUs = 300L * 1000000L)
      out += "late_drop" -> drain(spark, "sb_ld", rows, chunks)(
        (from, n) => s.addData((from until from + n).map { i =>
          val us = (base + i * 100L) * 1000L -
            (if (i % 7 == 0) 600L * 1000000L else 0L)
          (s"k${i % 64}", i.toLong, us)
        }),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName(nm).start())
    }

    // F324 P² quantile gauge — 64 keys, shuffled value ramp
    locally {
      val s = MemoryStream[(String, Long, Long)]
      val ds = StreamingOps.p2QuantileGauge[(String, Long, Long)](
        s.toDS(), _._1, _._2, _._3, p = 0.95)
      out += "p2_quantile" -> drain(spark, "sb_p2", rows, chunks)(
        (from, n) => s.addData((from until from + n).map { i =>
          (s"k${i % 64}", i.toLong, ((i * 2654435761L) % 10000L))
        }),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName(nm).start())
    }

    // F288 token-bucket admission gauge — 64 keys, bursty arrivals
    locally {
      val s = MemoryStream[(String, Long, Long)]
      val ds = StreamingOps.tokenBucketGauge[(String, Long, Long)](
        s.toDS(), _._1, _._2, _._3, ratePerSec = 10L, burst = 100L)
      out += "token_bucket" -> drain(spark, "sb_tb", rows, chunks)(
        (from, n) => s.addData((from until from + n).map { i =>
          ((s"k${i % 64}"), i.toLong, (base + (i / 640) * 1000L) * 1000L)
        }),
        nm => ds.toDF().writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName(nm).start())
    }

    out
  }

  /** Scale-out sweep (round-9 VERDICT ask #4b): every gauge re-measured
    * at shuffle-partitions 1 / 4 / 16, plus partitions 16 on the RocksDB
    * state store — the numbers that show whether a gauge's throughput is
    * partition-bound (scales with p), scheduling-bound (flat), or
    * state-store-bound (HDFS-map vs RocksDB delta). Each config runs on
    * a FRESH SparkSession (partition count and state-store provider are
    * fixed per streaming query); the caller must have stopped any live
    * session first. Row budget per config is intentionally smaller than
    * the headline run — the sweep measures RELATIVE scaling, the
    * headline run remains the absolute throughput of record. */
  def runScaling(rows: Int = 25000,
                 chunks: Int = 10): Map[String, Map[String, OpResult]] = {
    val configs: Seq[(String, Int, Boolean)] = Seq(
      ("p1", 1, false), ("p4", 4, false), ("p16", 16, false),
      ("p16_rocksdb", 16, true))
    configs.map { case (name, parts, rocks) =>
      val s = graft.Harness.session(parts,
        if (rocks) Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Map.empty)
      val res =
        try run(s, rows, chunks)
        finally s.stop()
      name -> res
    }.toMap
  }
}
