package graft.functions

import java.io.IOException
import java.util.Locale

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One pass over a JSON document's outermost keys, answering whether any
  * of them is missing from a known field set — the schema-drift signal
  * that `json_object_keys` + `transform(lower)` + `array_except` computed
  * with a key array, a lambda and a set difference per row.
  *
  * Same answers as that chain: null where `json_object_keys` is null (null
  * input, not an object, malformed anywhere up to the outermost object's
  * end — trailing text after it is not read); otherwise true when some key,
  * lowercased with `Locale.ROOT`, is not in `known` (lowercased the same
  * way; Spark's `lower` maps case with ICU, which agrees for every
  * character the JDK's Unicode tables know). The parser has
  * `json_object_keys`' features (single quotes, unescaped control
  * characters), and the whole object is still tokenized, so a document
  * malformed after its first unknown key stays null.
  *
  * Jackson reads the UTF-8 bytes directly instead of through a character
  * decoder. Two inputs take `json_object_keys`' character path instead:
  * a first byte that would switch Jackson's encoding detection away from
  * UTF-8 (a BOM, or a zero byte in the first two), and a document that
  * fails to parse while not being valid UTF-8 — the character decoder
  * replaces bad bytes where the byte parser rejects them.
  */
case class HasUnknownKey(child: Expression, known: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "has_unknown_key"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"has_unknown_key needs a string, got ${other.simpleString}")
  }

  @transient private lazy val knownSet: java.util.Set[String] =
    java.util.Set.of(known.map(_.toLowerCase(Locale.ROOT)).distinct: _*)

  override def nullSafeEval(json: Any): Any =
    JsonKeyScan.hasUnknownKey(json.asInstanceOf[UTF8String], knownSet)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object JsonKeyScan {
  /** `json_object_keys`' parser features (its Hive-compatible factory). */
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** `has_unknown_key(json, known)`: see [[HasUnknownKey]]. */
  def has_unknown_key(json: Column, known: Set[String]): Column =
    ColumnBridge.column(HasUnknownKey(ColumnBridge.expression(json), known.toSeq.sorted))

  private[functions] def hasUnknownKey(json: UTF8String, known: java.util.Set[String]): java.lang.Boolean = {
    val direct = utf8Detected(json)
    try scan(if (direct) overBytes(json) else overChars(json), known)
    catch {
      case _: IOException if direct && !json.isValid =>
        try scan(overChars(json), known) catch { case _: IOException => null }
      case _: IOException => null
    }
  }

  private def scan(parser: JsonParser, known: java.util.Set[String]): java.lang.Boolean =
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) return null
      var unknown = false
      // json_object_keys' loop: each outermost value, its children skipped
      while (parser.nextValue() != null && parser.currentName() != null) {
        if (!unknown) unknown = !known.contains(parser.currentName().toLowerCase(Locale.ROOT))
        parser.skipChildren()
      }
      unknown
    } finally parser.close()

  /** Jackson's byte source detection picks UTF-8 unless the document opens
    * with a BOM byte or has a zero byte among its first two. */
  private def utf8Detected(s: UTF8String): Boolean = {
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(s.getBaseObject, s.getBaseOffset + i) & 0xff
    n == 0 || (at(0) != 0 && at(0) < 0xef && (n == 1 || at(1) != 0))
  }

  private def overBytes(s: UTF8String): JsonParser = s.getBaseObject match {
    case a: Array[Byte] =>
      factory.createParser(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ =>
      val a = s.getBytes
      factory.createParser(a, 0, a.length)
  }

  private def overChars(s: UTF8String): JsonParser = factory.createParser(s.toString)
}
