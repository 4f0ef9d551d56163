package graft.sink

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-visibility modes, the image of the reference's `write.mode`
  * (reference: BigqueryStreamWriter.java:60-63;
  * BigqueryStreamWriteSinkConfig.java:30-34):
  *   - Committed: rows visible as soon as the micro-batch lands;
  *   - Pending: rows staged invisibly, visible only after `commit()` —
  *     the finalize+batchCommitWriteStreams two-phase path
  *     (BigqueryStreamWriter.java:299-352).
  */
sealed trait WriteMode
object WriteMode {
  case object Committed extends WriteMode
  case object Pending extends WriteMode
  def parse(s: String): WriteMode = s.toLowerCase match {
    case "committed" => Committed
    case "pending" => Pending
    case other => throw new IllegalArgumentException(
      s"write.mode must be 'committed' or 'pending', got '$other'")
  }
}

/** Sink configuration, the image of the reference's typed config surface
  * (reference: BigqueryStreamWriteSinkConfig.java:9-70): destination plus
  * validated write mode and batch sizing. `maxRecordsPerTrigger` is the
  * `buffer.size` image (BigqueryStreamWriteSinkConfig.java:36-41): the
  * reference cuts the record stream into appends of at most buffer.size
  * rows; here it bounds rows per written parquet file — the sink's append
  * unit — via the writer's maxRecordsPerFile (enforced in
  * [[TwoPhaseParquetSink.writeBatch]]). The DEFAULT departs from the
  * reference's literal 1000: that number sizes a streaming-RPC payload,
  * while this sink's append unit is a parquet file, where a 1000-row cap
  * would shatter a 10M-row micro-batch into ~10k files (the small-files
  * blowup). 1M rows ≈ a healthily-sized file; set it low only to mirror
  * RPC-grade batching in tests.
  */
case class SinkConfig(outputDir: String,
                      writeMode: WriteMode = WriteMode.Committed,
                      maxRecordsPerTrigger: Long = 1000000L) {
  require(maxRecordsPerTrigger > 0, "buffer.size must be positive")
}

/** Exactly-once, two-phase parquet sink driven by `foreachBatch`.
  *
  * Layout under `outputDir`:
  *   data/batch=<id>/      visible data (readers scan only `data/`)
  *   _staging/batch=<id>/  pending-mode staged batches (invisible)
  *   _commits/<id>         batch commit markers (the offset ledger)
  *
  * Exactly-once: Structured Streaming replays a failed micro-batch with
  * the SAME batchId; a commit marker already present means the batch
  * landed, so the replay is skipped — the image of the reference treating
  * ALREADY_EXISTS as success (BigqueryStreamWriter.java:157-160). The
  * marker is written only after the batch directory is fully in place
  * (write-then-rename), mirroring offset-addressed appends
  * (BigqueryStreamWriter.java:272-289).
  *
  * Pending mode stages under `_staging/`; `commit()` atomically moves each
  * staged batch into `data/` then marks it — finalize + batch-commit
  * (BigqueryStreamWriter.java:299-332). `reset()` discards staging
  * (BigqueryStreamWriter.java:334-337).
  *
  * Single-writer assumption (one streaming query per outputDir), same as
  * one JsonStreamWriter per write stream in the reference.
  */
class TwoPhaseParquetSink(config: SinkConfig) {
  private val root = Paths.get(config.outputDir)
  private val dataDir = root.resolve("data")
  private val stagingDir = root.resolve("_staging")
  private val commitsDir = root.resolve("_commits")

  Files.createDirectories(dataDir)
  Files.createDirectories(stagingDir)
  Files.createDirectories(commitsDir)

  /** The batch a commit marker stands for: `_commits/<id>` is a marker
    * when it is a regular file (not a link, not a directory — markers are
    * only ever created as plain files) named by a batch id. The one
    * definition behind [[isCommitted]], [[committedBatchIds]] and [[read]]. */
  private def markedBatch(p: Path): Option[Long] = {
    val name = p.getFileName.toString
    name.toLongOption.filter(id => id.toString == name &&
      Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS))
  }

  def isCommitted(batchId: Long): Boolean =
    markedBatch(commitsDir.resolve(batchId.toString)).isDefined

  private def markCommitted(batchId: Long): Unit =
    Files.createFile(commitsDir.resolve(batchId.toString))

  /** The foreachBatch body: land one micro-batch exactly once.
    *
    * Only the commit marker decides "already landed" — a data or staging
    * directory WITHOUT a marker may be a torn write from a crash, so a
    * replay overwrites it (same batchId ⇒ same offset range ⇒ same rows;
    * the overwrite is the repair). Marker creation is the last step, after
    * the parquet commit protocol finishes.
    */
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return // ALREADY_EXISTS skip
    // buffer.size image: no single append unit (parquet file) carries
    // more than maxRecordsPerTrigger rows, however large the micro-batch.
    val writer = df.write
      .option("maxRecordsPerFile", config.maxRecordsPerTrigger)
      .mode("overwrite")
    config.writeMode match {
      case WriteMode.Committed =>
        writer.parquet(dataDir.resolve(s"batch=$batchId").toString)
        markCommitted(batchId)
      case WriteMode.Pending =>
        writer.parquet(stagingDir.resolve(s"batch=$batchId").toString)
    }
  }

  /** `Files.list` holds a directory handle until closed — under a
    * long-running streaming query every batch would leak one descriptor,
    * so every listing here drains inside `Using`. */
  private def listDir(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)

  private def stagedBatches(): Seq[Path] =
    listDir(stagingDir)
      .filter(p => p.getFileName.toString.startsWith("batch="))
      .sortBy(p => p.getFileName.toString.stripPrefix("batch=").toLong)

  /** Pending-mode finalize + batch-commit: publish every staged batch
    * atomically (per-batch directory rename), in batch order. No-op in
    * committed mode (BigqueryStreamWriter.java:339-345).
    *
    * Crash-convergent: a previous commit() may have died between a
    * batch's atomic move and its marker, after which the recovery replay
    * re-stages that batch — so a marker-less target directory can
    * already exist. The move was atomic, so an existing target holds the
    * COMPLETE batch (in pending mode nothing else writes `data/`); the
    * staged duplicate carries the same batchId ⇒ the same offset range ⇒
    * the same rows, so it is dropped and only the marker is (re)written.
    * Every prefix of [move, mark]⁺ therefore replays to exactly-once
    * visibility — the property CrashRecoverySpec walks step by step.
    */
  def commit(): Unit = {
    stagedBatches().foreach { staged =>
      val name = staged.getFileName.toString
      val id = name.stripPrefix("batch=").toLong
      val target = dataDir.resolve(name)
      if (Files.exists(target)) deleteRecursively(staged)
      else Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
      if (!isCommitted(id)) markCommitted(id)
    }
  }

  /** Discard all staged batches (failed-epoch path). */
  def reset(): Unit =
    stagedBatches().foreach(deleteRecursively)

  /** Visible rows only: the `data/` batches whose commit marker exists.
    * Staged data never appears here, nor does a batch directory without a
    * marker — a committed-mode write torn before its marker, or a pending
    * batch moved into `data/` whose marker write failed — until its replay
    * (or `commit()`) repairs and marks it. */
  def read(spark: SparkSession): DataFrame = {
    val committed = committedBatchIds().map(id => s"batch=$id").toSet
    val batches = listDir(dataDir).filter(p => committed(p.getFileName.toString)).map(_.toString)
    if (batches.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(batches: _*)
  }

  def committedBatchIds(): Seq[Long] =
    listDir(commitsDir).flatMap(markedBatch).sorted

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.delete(p)
  }
}

/** A transport-level append failure carrying a status code — the image
  * of a gRPC StatusRuntimeException/StorageException reaching the append
  * path. Distinct from [[AppendRowsException]]: no rows are named, so
  * nothing is quarantined; classification alone decides retry vs fail. */
case class TransportException(code: String, detail: String = "")
    extends RuntimeException(s"$code: $detail")

/** Error classification kept as data, the image of the reference's
  * retriable-code table (BigqueryStreamWriter.java:120-127) and its
  * classification predicates (:153-183). In Spark, retriable failures are
  * retried by the streaming engine via checkpoint replay; unretriable ones
  * should fail the query.
  */
object ErrorClassifier {
  /** The reference's RETRIABLE_ERROR_CODES, verbatim
    * (BigqueryStreamWriter.java:120-127). */
  val RetriableCodes: Set[String] = Set(
    "INTERNAL", "ABORTED", "CANCELLED",
    "FAILED_PRECONDITION", "DEADLINE_EXCEEDED", "UNAVAILABLE")

  val RetriableExceptions: Set[Class[_]] = Set(
    classOf[java.io.IOException],
    classOf[java.util.concurrent.TimeoutException])

  def isRetriable(t: Throwable): Boolean = t match {
    case TransportException(code, _) => RetriableCodes.contains(code)
    case _ => RetriableExceptions.exists(_.isAssignableFrom(t.getClass))
  }
}
