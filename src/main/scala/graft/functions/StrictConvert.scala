package graft.functions

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Strict schema-driven record→JSON conversion, the Spark image of the
  * reference's RecordConverter (reference: RecordConverter.java:14-84) with
  * its exact error semantics:
  *
  *   - null in a non-nullable field is a conversion error
  *     (RecordConverter.java:25-31);
  *   - map keys must be strings — non-string key schemas are rejected at
  *     ANALYSIS time (the reference throws per record,
  *     RecordConverter.java:53-58; with a declared schema we can fail the
  *     plan instead), null keys are a runtime conversion error;
  *   - binary fields are rejected in strict mode
  *     (RecordConverter.java:79-80); lenient mode emits base64 (a strict
  *     improvement, kept behind the flag as SURVEY.md §1.2 directs).
  *
  * Field order in the JSON output is schema order, so output is
  * deterministic. `CodegenFallback` is deliberate: Spark's own
  * `StructsToJson` takes the same route — a recursive schema walker gains
  * nothing from codegen and would blow up generated-code size.
  */
case class ConversionException(msg: String) extends RuntimeException(msg)

abstract class ConvertBase extends UnaryExpression with CodegenFallback {
  def strict: Boolean

  /** Destination schema driving nullability validation — the image of the
    * reference binding validation to the target TABLE's schema rather than
    * the source's (BigqueryStreamWriter.java:204-209). When absent, the
    * child's own schema nullability applies. Types must match the child's
    * up to nullability.
    */
  def target: Option[StructType]

  protected def effectiveType: DataType = target.getOrElse(child.dataType)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = {
    target.foreach { t =>
      if (!DataType.equalsIgnoreNullability(t, child.dataType))
        return TypeCheckResult.TypeCheckFailure(
          s"target schema ${t.simpleString} does not match input ${child.dataType.simpleString}")
    }
    def walk(dt: DataType, path: String): Option[String] = dt match {
      case s: StructType =>
        s.fields.view.flatMap(f => walk(f.dataType, s"$path.${f.name}")).headOption
      case a: ArrayType => walk(a.elementType, s"$path[]")
      case m: MapType =>
        if (m.keyType != StringType)
          Some(s"map keys must be STRING, got ${m.keyType.simpleString} at $path")
        else walk(m.valueType, s"$path{}")
      case _: BinaryType if strict => Some(s"Bytes field is unsupported in strict mode at $path")
      case _: CalendarIntervalType => Some(s"Unknown data type at $path: interval")
      case _ => None
    }
    walk(effectiveType, "$") match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(msg)
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  private val dateFmt = DateTimeFormatter.ISO_LOCAL_DATE
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  /** The one schema walker: checks `value` against `dt` and, when `sb` is
    * not null, appends its JSON image. [[ConvertError]] walks with a null
    * `sb` — the same checks and messages, without formatting timestamps,
    * escaping strings or building the document. `path` is by-name, so a
    * field's path is rendered only for an error message. */
  protected def convert(value: Any, dt: DataType, nullable: Boolean,
                        path: => String, sb: java.lang.StringBuilder): Unit = {
    val emit = sb != null
    if (value == null) {
      // Reference: null in non-optional field → UnsupportedDataTypeException
      // (RecordConverter.java:25-31); optional null → JSON null.
      if (!nullable) throw ConversionException(s"null in required field $path")
      if (emit) sb.append("null")
      return
    }
    dt match {
      case s: StructType =>
        val row = value.asInstanceOf[InternalRow]
        if (emit) sb.append('{')
        var i = 0
        while (i < s.length) {
          val f = s.fields(i)
          if (emit) {
            if (i > 0) sb.append(',')
            appendString(f.name, sb); sb.append(':')
          }
          val v = if (row.isNullAt(i)) null else row.get(i, f.dataType)
          convert(v, f.dataType, f.nullable, s"$path.${f.name}", sb)
          i += 1
        }
        if (emit) sb.append('}')
      case a: ArrayType =>
        val arr = value.asInstanceOf[ArrayData]
        if (emit) sb.append('[')
        var i = 0
        while (i < arr.numElements()) {
          if (emit && i > 0) sb.append(',')
          val v = if (arr.isNullAt(i)) null else arr.get(i, a.elementType)
          val at = i
          convert(v, a.elementType, a.containsNull, s"$path[$at]", sb)
          i += 1
        }
        if (emit) sb.append(']')
      case m: MapType =>
        val map = value.asInstanceOf[MapData]
        val keys = map.keyArray(); val vals = map.valueArray()
        if (emit) sb.append('{')
        var i = 0
        while (i < map.numElements()) {
          if (emit && i > 0) sb.append(',')
          if (keys.isNullAt(i)) throw ConversionException(s"null map key at $path")
          if (emit) { appendString(keys.getUTF8String(i).toString, sb); sb.append(':') }
          val v = if (vals.isNullAt(i)) null else vals.get(i, m.valueType)
          val at = i
          convert(v, m.valueType, m.valueContainsNull, s"$path{$at}", sb)
          i += 1
        }
        if (emit) sb.append('}')
      case StringType => if (emit) appendString(value.asInstanceOf[UTF8String].toString, sb)
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => if (emit) sb.append(value.toString)
      case d: DecimalType =>
        if (emit) sb.append(value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toPlainString)
      case DateType =>
        if (emit) appendString(LocalDate.ofEpochDay(value.asInstanceOf[Int].toLong).format(dateFmt), sb)
      case TimestampType =>
        if (emit) {
          val micros = value.asInstanceOf[Long]
          appendString(tsFmt.format(Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)), sb)
        }
      case BinaryType =>
        if (strict) throw ConversionException(s"Bytes field is unsupported at $path")
        if (emit) appendString(java.util.Base64.getEncoder.encodeToString(
          value.asInstanceOf[Array[Byte]]), sb)
      case other => throw ConversionException(s"Unknown data type at $path: ${other.simpleString}")
    }
  }

  private def appendString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  protected def convertTop(value: Any): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    convert(value, effectiveType, nullable = true, "$", sb)
    UTF8String.fromString(sb.toString)
  }
}

/** `strict_to_json(struct)` — converts, THROWING on a conversion error
  * (the reference's exception path). Use ConvertError for the splitting
  * sink path.
  */
case class StrictToJson(child: Expression, strict: Boolean = true) extends ConvertBase {
  override def target: Option[StructType] = None
  override def nullSafeEval(value: Any): Any = convertTop(value)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "strict_to_json"
}

/** `convert_error(struct)` — returns the conversion error message, or null
  * if the record converts cleanly. Never throws: this is the row-level
  * partial-failure side channel (reference: AppendSerializtionError's
  * rowIndexToErrorMessage, BigqueryStreamWriter.java:244-259). The good/DLQ
  * split becomes `filter(convert_error(s).isNull)` — plain Catalyst
  * predicates, fully parallel.
  */
case class ConvertError(child: Expression, strict: Boolean = true,
                        target: Option[StructType] = None) extends ConvertBase {
  override def nullable: Boolean = true
  override def nullSafeEval(value: Any): Any =
    try { convert(value, effectiveType, nullable = true, "$", null); null }
    catch { case ConversionException(msg) => UTF8String.fromString(msg) }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "convert_error"
}

object StrictConvert {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  def strict_to_json(c: Column): Column = column(StrictToJson(expression(c)))
  def lenient_to_json(c: Column): Column = column(StrictToJson(expression(c), strict = false))
  def convert_error(c: Column): Column = column(ConvertError(expression(c)))
  /** Validate against a declared destination schema (nullability taken from
    * `target`, types from the data) — the A8 target-table-schema image. */
  def convert_error_as(c: Column, target: StructType): Column =
    column(ConvertError(expression(c), strict = true, Some(target)))
}
