package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.{JsonKeyScan, StrictConvert}
import graft.sink.{AppendRowsException, ErrorClassifier, QuarantineLedger, SinkConfig, TwoPhaseParquetSink, WriteMode}

/** End-to-end streaming assembly, the Spark image of the whole reference
  * dataflow (SURVEY.md §3.1):
  *
  *   source (Kafka / MemoryStream) ─ A1
  *     → envelope decode, permissive from_json (corrupt → null)  ─ A3/A7
  *     → strict-convert validation split (good / DLQ)            ─ A4/A9
  *     → two-phase exactly-once parquet sink                     ─ A10/A12-14
  *
  * The Connect machinery the reference needed for correctness — Phaser
  * barriers, retry boundaries, offset rewind (A6/A11/A13) — is subsumed by
  * Structured Streaming's checkpoint: offsets advance only after the batch
  * lands, replays carry the same batchId, and the sink's commit ledger
  * makes replays no-ops.
  *
  * Per micro-batch the envelope is decoded and validated ONCE, like the
  * reference converting each record once (see [[startWith]]):
  *
  *   1. materialize: one persisted frame (coordinates, `value`, decoded
  *      `payload`, one `err` column) filled by a single observed `noop`
  *      write that also returns the drift count — one job, whatever the
  *      quarantine ledger holds;
  *   2. `appendCheck` on the frame's good rows, unless the data sink
  *      already committed the batch;
  *   3. the data leg and the DLQ leg, written concurrently from the frame
  *      (the image of the reference's in-flight appends joined by one
  *      Phaser, BigqueryStreamWriter.java:58,97-100); the DLQ leg is
  *      published only after the data leg has landed;
  *   4. unpersist, on every path.
  *
  * All of it runs on the session the pipeline was started from, not on the
  * one the engine hands the batch over on. The engine runs each streaming
  * query — every `AvailableNow` start, every replay after a rejection — on
  * a fresh clone of that session, with its own session UUID, and the
  * executor keeps one artifact class loader per session UUID. Spark's
  * codegen cache is keyed by (class loader, code), so on the clone every
  * task of every run compiled the batch's classes again, a per-run fixed
  * cost the reference's long-lived writer (opened once per assigned
  * partition, BigqueryStorageWriteSinkTask.java:51-70) does not pay. The
  * rebound batch is the same logical plan (the engine's `LogicalRDD`, no
  * row copied), and a batch's code compiles once per session.
  */
object StreamPipeline {

  /** The SinkRecord envelope image (SURVEY.md §1.4, FIXTURES.md F3). */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true)))

  /** Kafka source assembly (A1). Offline environments test through
    * MemoryStream instead; this is the production wiring. */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
                  topic: String, maxOffsetsPerTrigger: Long): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()
      .select(col("topic"), col("partition"), col("offset"),
              col("key").cast("string"),
              col("value").cast("string"))

  /** Decode the value payload against a declared schema. Permissive with a
    * corrupt-record column: a malformed payload sets `payload._corrupt`
    * (from_json's all-null struct is indistinguishable from legitimately
    * null fields otherwise), which the validation split routes to the DLQ
    * — the A3 non-Struct type filter. */
  val CorruptField = "_corrupt"
  def decode(envelope: DataFrame, valueSchema: StructType): DataFrame = {
    val parseSchema = valueSchema.add(StructField(CorruptField, StringType, nullable = true))
    envelope.withColumn("payload",
      from_json(col("value"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptField)))
  }

  /** Schema-inference fallback (reference RecordConverter.java:17-23:
    * when `valueSchema()` is null the converter infers the type from the
    * runtime value and treats it as OPTIONAL). The Spark image infers from
    * a bounded sample of the payloads themselves — `spark.read.json`
    * merges field sets across the whole sample (a field present in any
    * record survives, typed by the widest observed type), and every
    * inferred field is nullable, i.e. optional: a record missing one
    * decodes with a null, it is not rejected.
    *
    * Inference needs data, so it runs on a batch envelope (the sample
    * subtree is bounded by `sampleSize` — constant work no matter the
    * table size). A streaming caller infers once from its first micro
    * batch inside foreachBatch and reuses the schema from there on.
    */
  def inferValueSchema(envelope: DataFrame, sampleSize: Int = 1000): StructType = {
    val spark = envelope.sparkSession
    // Deterministic sample: order by the envelope coordinates before the
    // limit — a bare limit() takes whichever partitions answer first, so
    // two runs (or two restarts racing to write the schema file) could
    // learn different field sets. orderBy+limit plans as per-partition
    // top-N + driver merge (TakeOrderedAndProject), not a global sort.
    // The ≤sampleSize strings are then collected and inferred from a
    // LOCAL dataset: the inference job degenerates to a single tiny task
    // instead of a full distributed JSON-datasource scan per call.
    val sample = envelope.select(col("value"), col("topic"), col("partition"), col("offset"))
      .filter(col("value").isNotNull)
      .orderBy(col("topic"), col("partition"), col("offset"))
      .limit(sampleSize)
      .select(col("value")).as(org.apache.spark.sql.Encoders.STRING)
      .collect().toIndexedSeq
    val inferred = spark.read
      .json(spark.createDataset(sample)(org.apache.spark.sql.Encoders.STRING)).schema
    // a corrupt record in the sample makes read.json emit its own corrupt
    // column; drop it — [[decode]] adds the pipeline's CorruptField itself
    val corruptCol = spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
    StructType(inferred.fields.filterNot(_.name == corruptCol)
      .map(_.copy(nullable = true)))
  }

  /** [[decode]] without a declared schema: infer, then decode. */
  def decodeInferred(envelope: DataFrame, sampleSize: Int = 1000): DataFrame =
    decode(envelope, inferValueSchema(envelope, sampleSize))

  /** Drift observability for the learn-once inference choice
    * ([[startInferred]]): the reference infers PER RECORD
    * (RecordConverter.java:17-19), so a field appearing mid-stream is
    * picked up there but silently dropped forever here. The monitor
    * closes the observability gap: each batch counts payload rows whose
    * top-level keys include a field absent from the learned schema, so an
    * operator sees drift the batch it starts (and can choose to restart
    * with a wider schema) instead of discovering dropped fields months
    * later. Counters only — decode behavior stays learn-once stable. */
  final class SchemaDriftMonitor extends Serializable {
    private val rows = new java.util.concurrent.atomic.AtomicLong()
    private val batches = new java.util.concurrent.atomic.AtomicLong()
    private[streaming] def record(n: Long): Unit = {
      rows.addAndGet(n)
      if (n > 0) batches.incrementAndGet()
    }
    /** Rows seen so far carrying at least one unknown top-level field. */
    def driftRows: Long = rows.get
    /** Batches so far in which any drift was observed. */
    def driftBatches: Long = batches.get
  }

  /** A9/A4: split decoded records into (good, dlq). A record is bad when
    * the payload failed to parse or the strict converter rejects it
    * against the destination schema; the error column carries the reason
    * (errant-record report image). */
  def validationSplit(decoded: DataFrame, target: StructType): (DataFrame, DataFrame) = {
    val withErr = decoded.withColumn("err", validationError(target))
    (withErr.filter(col("err").isNull).drop("err"),
     withErr.filter(col("err").isNotNull))
  }

  /** The validation error of a decoded row, null when it is good — the one
    * definition shared by [[validationSplit]] and the pipeline's batch. */
  private def validationError(target: StructType): Column = {
    val payloadStruct = struct(target.fields.map(f => col(s"payload.${f.name}")).toIndexedSeq: _*)
    when(col("payload").isNull || col(s"payload.$CorruptField").isNotNull,
         lit("unparseable payload"))
      .otherwise(StrictConvert.convert_error_as(payloadStruct, target))
  }

  /** True for a row whose payload carries a top-level field the learned
    * schema does not know (the [[SchemaDriftMonitor]] signal), in one key
    * scan per row ([[graft.functions.HasUnknownKey]]). Case-insensitive
    * like [[startInferred]]'s schema reconciliation; null payloads and
    * malformed ones read NULL and are not drift (the latter already route
    * to the DLQ as unparseable). */
  private def unknownField(schema: StructType): Column =
    JsonKeyScan.has_unknown_key(col("value"), schema.fieldNames.toSet + CorruptField)

  /** The error the quarantine ledger recorded for a row's coordinates, null
    * when it holds none — the image of put()'s `corruptedRowOffsets`
    * lookup. A membership test of the coordinates in the entries as
    * literals (Spark's `InSet` above 10 of them), and for the rows that
    * match, a literal coordinate→error map: no join, no job of its own.
    * A coordinate recorded in several ledger files keeps the error of the
    * earliest batch, as [[QuarantineLedger.append]] keeps the first. */
  private def recordedError(entries: Seq[QuarantineLedger#Entry]): Column =
    if (entries.isEmpty) lit(null).cast(StringType)
    else {
      val recorded = entries.groupMapReduce(e => (e.topic, e.partition, e.offset))(_.error)((first, _) => first)
      val coordinates = struct(col("topic"), col("partition"), col("offset"))
      val errors = typedLit(recorded)
      when(coordinates.isin(recorded.keys.toSeq.map(typedLit(_)): _*), errors(coordinates))
    }

  /** Assemble and start the full pipeline on any streaming envelope
    * source. Returns the query plus the two sinks (data + DLQ) so tests
    * and operators can observe both legs.
    *
    * `appendCheck` is the injection point for the remote append's
    * row-level response (reference: AppendRowsResponse row errors): given
    * the batch about to land, it returns the (topic, partition, offset,
    * error) coordinates of rows the remote rejects — empty when all rows
    * are acceptable. The quarantine FEEDBACK LOOP (reference
    * BigqueryStorageWriteSinkTask.java:224-242 → :103-106) then plays out
    * across a failure and its checkpoint replay:
    *
    *   1. appendCheck names corrupted rows → they are recorded in the
    *      durable [[QuarantineLedger]] under `quarantineDir` and the batch
    *      THROWS — offsets rewind, nothing landed (preCommit rewind).
    *   2. The restarted query replays the same batch; rows whose
    *      coordinates are in the ledger are split out by a literal set
    *      lookup BEFORE the append and land in the DLQ with the recorded
    *      error (put()'s corruptedRowOffsets skip → errorReport).
    *   3. The re-append of the surviving rows succeeds and commits.
    *
    * A THROWING appendCheck (transport failure, not row rejection) is
    * classified by [[ErrorClassifier]]: retriable errors propagate as-is
    * so the engine replays the batch unchanged (no quarantine — the rows
    * are fine, the transport wasn't); unretriable ones are wrapped fatal,
    * mirroring hasUnretryableError (BigqueryStreamWriter.java:153-183).
    */
  def start(source: DataFrame, valueSchema: StructType, target: StructType,
            config: SinkConfig, dlqDir: String, checkpointDir: String,
            quarantineDir: Option[String] = None,
            appendCheck: DataFrame => Seq[(String, Int, Long, String)] = _ => Seq.empty)
      : (StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink) =
    startWith(source, _ => valueSchema, target, config, dlqDir,
              checkpointDir, quarantineDir, appendCheck, drift = None)

  /** [[start]] without a declared value schema: the schema is inferred
    * from the first non-empty micro batch's payloads (bounded sample, see
    * [[inferValueSchema]]) and reused for the rest of the query — the
    * streaming leg of the reference's null-valueSchema fallback. The
    * TARGET schema stays declared: the destination contract is external,
    * only the source's shape is discovered. After a restart the schema is
    * re-inferred from the replayed batch — same data, same inference. */
  def startInferred(source: DataFrame, target: StructType,
                    config: SinkConfig, dlqDir: String, checkpointDir: String,
                    quarantineDir: Option[String] = None,
                    appendCheck: DataFrame => Seq[(String, Int, Long, String)] = _ => Seq.empty,
                    sampleSize: Int = 1000,
                    drift: Option[SchemaDriftMonitor] = None)
      : (StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink) = {
    // The learned schema is DURABLE next to the checkpoint: a restarted
    // query resumes mid-stream, so re-inferring from whichever batch the
    // checkpoint replays could type the stream differently than the
    // committed prefix — the schema must be learned once, ever.
    val schemaFile = java.nio.file.Paths.get(checkpointDir, "_inferred_value_schema.ddl")
    val memo = new java.util.concurrent.atomic.AtomicReference[StructType]()
    def persisted(): Option[StructType] =
      if (java.nio.file.Files.exists(schemaFile))
        Some(StructType.fromDDL(java.nio.file.Files.readString(schemaFile)))
      else None
    startWith(source, batch =>
      Option(memo.get).orElse(persisted()).map { s => memo.set(s); s }.getOrElse {
        // Reconcile inference toward the DESTINATION contract: every
        // target field is parsed at its TARGET type (nullable — the
        // strict converter applies its own required-field rules), because
        // a drifted inferred type (quoted number → STRING) would fail
        // StrictConvert's analysis-time type check and crash the query
        // instead of routing rows to the DLQ. Non-target fields keep
        // their inferred types (parsed, then ignored by the flatten);
        // matching is case-insensitive like Spark's resolver, and the
        // pipeline's reserved corrupt column is excluded so decode's own
        // corrupt field stays unique.
        val targetNames = target.fieldNames.map(_.toLowerCase).toSet
        val extra = inferValueSchema(batch, sampleSize).fields.filterNot(f =>
          targetNames.contains(f.name.toLowerCase) ||
            f.name.equalsIgnoreCase(CorruptField))
        val inferred = StructType(
          extra ++ target.fields.map(f => StructField(f.name, f.dataType, nullable = true)))
        if (!batch.isEmpty) { // an empty batch teaches nothing
          java.nio.file.Files.createDirectories(schemaFile.getParent)
          val tmp = schemaFile.resolveSibling(schemaFile.getFileName.toString + ".tmp")
          java.nio.file.Files.writeString(tmp, inferred.toDDL)
          java.nio.file.Files.move(tmp, schemaFile,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          memo.set(inferred)
        }
        inferred
      }, target, config, dlqDir, checkpointDir, quarantineDir, appendCheck, drift)
  }

  /** The pipeline behind [[start]] and [[startInferred]]. One micro-batch:
    *
    *   0. Rebind: the batch `foreachBatch` hands over lives on the query's
    *      session clone; the same plan is put on `source.sparkSession`
    *      ([[org.apache.spark.sql.graftshim.SessionBridge]]) and every
    *      step below — schema inference included — runs on that frame, so
    *      the second and later runs compile nothing (see the header). The
    *      clone's own settings are `spark.sql.cbo.enabled` and
    *      `spark.sql.requireAllClusterKeysForDistribution`, both set to
    *      Spark's default, and the state-store partition count, read by
    *      stateful operators only: this batch plans the same on either.
    *   1. Materialize: decode with the batch's schema, compute the single
    *      `err` column — the validation error if there is one, else the
    *      error the quarantine ledger recorded for the row's coordinates
    *      (a column expression over the ledger loaded as literals, see
    *      [[recordedError]]) — and persist (coordinates, `value`,
    *      `payload`, `err`). One `noop` write fills the cache — one job
    *      however many entries the ledger holds: no broadcast, no stage
    *      of its own; an [[org.apache.spark.sql.Observation]] on it
    *      returns the drift count (one key scan per row,
    *      [[unknownField]]), so drift is counted on every attempt, a
    *      rejected one included, with no job of its own.
    *   2. `appendCheck` on the good rows, read from the cache — skipped
    *      when the data sink has already committed this batch id: the
    *      data leg landed on an earlier attempt whose DLQ publish failed,
    *      and a row the check rejected now would reach both sinks.
    *   3. The data leg (good rows) on the batch thread and the DLQ leg
    *      (`err` not null: bad and quarantined rows, one filter) on a
    *      thread forked from it, which inherits Spark's job group — so
    *      `query.stop()` cancels both — and is joined before the batch
    *      returns or rethrows; a DLQ failure fails the batch. The DLQ
    *      sink stages its batch and publishes it (directory move, then
    *      marker) only once the data leg has landed: a batch whose data
    *      leg fails leaves no DLQ marker, so its replay writes whatever
    *      DLQ set it computes then — including rows a replayed
    *      `appendCheck` newly quarantines.
    *   4. Unpersist (blocking) in a `finally`, on every path.
    */
  private def startWith(source: DataFrame, schemaFor: DataFrame => StructType,
                        target: StructType, config: SinkConfig,
                        dlqDir: String, checkpointDir: String,
                        quarantineDir: Option[String],
                        appendCheck: DataFrame => Seq[(String, Int, Long, String)],
                        drift: Option[SchemaDriftMonitor])
      : (StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink) = {
    val sink = new TwoPhaseParquetSink(config)
    val dlqSink = new TwoPhaseParquetSink(SinkConfig(dlqDir, WriteMode.Pending))
    val ledger = quarantineDir.map(new QuarantineLedger(_))
    val coords = Seq(col("topic"), col("partition"), col("offset"))
    val session = source.sparkSession
    val query = source
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (handedOver: DataFrame, batchId: Long) =>
        // (0) the same plan on the source's session, whose codegen cache
        // outlives this run
        val rawBatch = SessionBridge.rebind(handedOver, session)
        // decode per batch (a from_json projection — identical plan to
        // decoding the stream, but the schema may come from the batch)
        val schema = schemaFor(rawBatch)
        // (2) feedback: previously-quarantined coordinates skip the append
        // and reach the DLQ with the recorded error
        val quarantined = ledger.map(_.load()).getOrElse(Seq.empty)
        val frame = decode(rawBatch, schema)
          .select(coords ++ Seq(col("value"), col("payload"),
            coalesce(validationError(target), recordedError(quarantined)).as("err")): _*)
          .persist()
        try {
          val observed = new Observation()
          frame.observe(observed,
              count_if(drift.fold(lit(false))(_ => unknownField(schema))).as("drift"))
            .write.format("noop").mode("overwrite").save()
          drift.foreach(_.record(observed.get("drift").asInstanceOf[Long]))
          // flatten the good rows onto the destination schema (A8)
          val appendable = frame.filter(col("err").isNull)
            .select(coords ++ target.fields.map(f => col(s"payload.${f.name}").as(f.name)): _*)
          // (1) remote row-level response: record + fail, or classify. A
          // batch the data sink already committed landed on an earlier
          // attempt (its DLQ publish failed): its rows are not re-checked.
          val corrupted =
            if (sink.isCommitted(batchId)) Seq.empty
            else
              try appendCheck(appendable)
              catch {
                case e: Throwable if ErrorClassifier.isRetriable(e) => throw e
                case e: Throwable =>
                  throw new IllegalStateException("unretriable append failure", e)
              }
          if (corrupted.nonEmpty) {
            ledger.foreach(_.append(batchId, corrupted))
            throw AppendRowsException(corrupted)
          }
          val dlqLeg = frame.filter(col("err").isNotNull)
            .select(coords ++ Seq(col("value"), col("err")): _*)
          alongside(dlqSink.writeBatch(dlqLeg, batchId))(sink.writeBatch(appendable, batchId))
          // publish the staged DLQ batch only now that the data leg landed
          dlqSink.commit()
        } finally frame.unpersist(blocking = true)
      }
      .start()
    (query, sink, dlqSink)
  }

  /** Run `body` on this thread and `forked` on a thread started from it,
    * then join. The fork inherits this thread's Spark local properties (job
    * group, SQL execution) at creation, so a query stop cancels its jobs
    * too. The join waits out interrupts (re-asserting the flag after), so
    * the fork never outlives the call; a failure of either side is thrown,
    * the fork's as suppressed when both fail. */
  private def alongside(forked: => Unit)(body: => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val fork = new Thread(() => try forked catch { case e: Throwable => failure.set(e) },
      s"${Thread.currentThread().getName}-fork")
    fork.setDaemon(true)
    fork.start()
    def join(): Unit = {
      var interrupted = false
      while (fork.isAlive) try fork.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
    try body
    catch { case e: Throwable => join(); Option(failure.get).foreach(e.addSuppressed); throw e }
    join()
    Option(failure.get).foreach(e => throw e)
  }
}
