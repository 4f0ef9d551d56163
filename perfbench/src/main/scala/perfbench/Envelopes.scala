package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** A Kafka record as the connector receives it (StreamPipeline.EnvelopeSchema). */
final case class Env(topic: String, partition: Int, offset: Long, key: String, value: String)

/** What the sink must do with one record. */
sealed abstract class Label(val name: String, val good: Boolean)
object Label {
  case object Good extends Label("good", true)
  /** Good, plus a top-level field the learned schema does not know. */
  case object UnknownField extends Label("unknown_field", true)
  case object Malformed extends Label("malformed", false)
  case object WrongType extends Label("wrong_type", false)
  case object RequiredNull extends Label("required_null", false)
  /** A good record the remote append rejects on its round's first attempt. */
  case object Quarantine extends Label("quarantine", false)
}

/** Share of each corruption class among the generated records. */
final case class Mix(malformed: Double, wrongType: Double, requiredNull: Double,
                     unknownField: Double)

/** One round's records with their labels (aligned by index). */
final case class Chunk(round: Int, rows: Array[Env], labels: Array[Label]) {
  def rejected: Seq[(String, Int, Long, String)] =
    rows.indices.filter(i => labels(i) == Label.Quarantine)
      .map(i => (rows(i).topic, rows(i).partition, rows(i).offset, Envelopes.RejectError))
}

/** Deterministic JSON envelope generator over the `events` table.
  *
  * Record `g` (a run-wide counter, so offsets are unique across rounds)
  * takes its payload from event `(g + shift) mod n` and its label from a
  * hash of `(seed, g)`; the seed also picks `shift`. The same seed gives
  * the same records, labels and rejected coordinates. */
final class Envelopes(events: Array[Envelopes.Event], seed: Long, mix: Mix) {
  import Envelopes._
  private val shift = java.lang.Math.floorMod(mix64(seed ^ 0x5eedL), events.length.toLong)

  private def unit(g: Long, salt: Long): Double =
    (mix64(seed * 0x9E3779B97F4A7C15L + g * 31 + salt) >>> 11) / (1L << 53).toDouble

  def chunk(round: Int, size: Int, rejectCount: Int): Chunk = {
    val rows = new Array[Env](size)
    val labels = new Array[Label](size)
    var i = 0
    while (i < size) {
      val g = round.toLong * size + i
      val e = events(java.lang.Math.floorMod(g + shift, events.length.toLong).toInt)
      val partition = (g % Partitions).toInt
      val u = unit(g, 1)
      var acc = mix.malformed
      val label =
        if (u < acc) Label.Malformed
        else if (u < { acc += mix.wrongType; acc }) Label.WrongType
        else if (u < { acc += mix.requiredNull; acc }) Label.RequiredNull
        // a record with an unknown field never sits in partition 0, so the
        // first round's inference sample (ordered by partition, offset) does
        // not learn the field and the drift monitor sees it
        else if (partition != 0 && u < { acc += mix.unknownField; acc }) Label.UnknownField
        else Label.Good
      labels(i) = label
      rows(i) = Env(Topic, partition, g, e.userId.toString, payload(e, label, g))
      i += 1
    }
    // the first `rejectCount` plain-good records, in hash order, are the
    // ones the remote append rejects
    if (rejectCount > 0) {
      rows.indices.filter(labels(_) == Label.Good)
        .sortBy(j => mix64(seed + rows(j).offset)).take(rejectCount)
        .foreach(j => labels(j) = Label.Quarantine)
    }
    Chunk(round, rows, labels)
  }

  private def payload(e: Event, label: Label, g: Long): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append("{\"event_id\":").append(e.eventId)
    sb.append(",\"ts\":\"").append(e.ts).append('"')
    sb.append(",\"user_id\":")
    if (label == Label.WrongType) sb.append("\"u").append(e.userId).append('"')
    else sb.append(e.userId)
    sb.append(",\"event_type\":")
    if (label == Label.RequiredNull) sb.append("null")
    else sb.append('"').append(e.eventType).append('"')
    sb.append(",\"value\":").append(e.value)
    sb.append(",\"props\":\"").append(e.props.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
    if (label == Label.UnknownField) sb.append(",\"extra_tag\":\"x").append(g % 7).append('"')
    sb.append('}')
    if (label == Label.Malformed) sb.substring(0, sb.length - 9) else sb.toString
  }
}

object Envelopes {
  val Topic = "events"
  val Partitions = 4
  val RejectError = "row rejected by remote append"

  final case class Event(eventId: Long, ts: String, userId: Long, eventType: String,
                         value: Double, props: String)

  /** Value schema the producer declares, and the destination table. */
  val ValueSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val Target: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** The events table of a scale-factor directory, in event_id order. */
  def fromTable(spark: SparkSession, sfDir: String): Array[Event] = {
    import org.apache.spark.sql.functions._
    graft.model.Tables.events(spark, sfDir)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect()
      .map(r => Event(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
                      r.getDouble(4), r.getString(5)))
  }

  /** Events exported by [[Prepare]]: one tab-separated line per event. */
  def load(tsv: String): Array[Event] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(tsv))
    val out = new Array[Event](lines.size)
    var i = 0
    while (i < out.length) {
      val f = lines.get(i).split("\t", 6)
      out(i) = Event(f(0).toLong, f(1), f(2).toLong, f(3), f(4).toDouble, f(5))
      i += 1
    }
    out
  }

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of a 64-bit input. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
