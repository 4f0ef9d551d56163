package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ConversionException, ConvertError, StrictConvert, StrictToJson}

class StrictConvertSpec extends AnyFunSuite {
  /** Deterministic ScalaCheck sampling (scalatestplus bridge isn't on the
    * offline classpath, so drive Gen directly with fixed seeds). */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  lazy val spark = SparkTestSession.spark

  // FIXTURES.md F2 — the reference converter's golden-test schema
  // (reference: RecordConverterTest.java:19-47).
  private val inner = StructType(Seq(
    StructField("inner1", StringType, nullable = false),
    StructField("inner2", BooleanType, nullable = false)))
  private val rich = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("int_value", LongType, nullable = false),
    StructField("double_value", DoubleType, nullable = false),
    StructField("boolean_value", BooleanType, nullable = false),
    StructField("array_value", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("map_value", MapType(StringType, IntegerType, valueContainsNull = false), nullable = false),
    StructField("struct_value", inner, nullable = false),
    StructField("optional_array_value", ArrayType(StringType), nullable = true)))

  private def evalJson(value: Row, schema: StructType): String =
    StrictToJson(Literal.create(value, schema)).eval(null).toString

  private def evalError(value: Row, schema: StructType): Any = {
    val r = ConvertError(Literal.create(value, schema)).eval(null)
    if (r == null) null else r.toString
  }

  test("golden conversion of the rich nested record") {
    val row = Row("id", 12345L, 0.123, true, Seq("a", "b", "c"),
      // single-entry map: map iteration order is engine-internal, so the
      // multi-entry golden doc is asserted semantically below instead.
      Map("k1" -> 1), Row("inner_value", false), null)
    val json = evalJson(row, rich)
    assert(json ==
      """{"id":"id","int_value":12345,"double_value":0.123,"boolean_value":true,""" +
      """"array_value":["a","b","c"],"map_value":{"k1":1},""" +
      """"struct_value":{"inner1":"inner_value","inner2":false},"optional_array_value":null}""")
  }

  test("multi-entry map converts to the right key set (order-insensitive)") {
    val row = Row("id", 1L, 1.0, true, Seq(), Map("k1" -> 1, "k2" -> 2, "k3" -> 3),
      Row("x", true), null)
    val node = new ObjectMapper().readTree(evalJson(row, rich)).get("map_value")
    assert(node.properties().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap ==
      Map("k1" -> 1, "k2" -> 2, "k3" -> 3))
  }

  test("null in required field errors with the field path") {
    val row = Row(null, 1L, 1.0, true, Seq(), Map("k" -> 1), Row("x", true), null)
    val err = evalError(row, rich)
    assert(err != null && err.toString.contains("required field $.id"))
  }

  test("null in required NESTED field errors; optional null is fine") {
    val row = Row("id", 1L, 1.0, true, Seq(), Map("k" -> 1), Row(null, true), null)
    assert(evalError(row, rich).toString.contains("$.struct_value.inner1"))
    val ok = Row("id", 1L, 1.0, true, Seq(), Map("k" -> 1), Row("x", true), null)
    assert(evalError(ok, rich) == null)
  }

  test("non-string map keys are rejected at analysis time") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
      .select(struct(map(col("a"), col("b")).as("m")).as("s"))
    val e = intercept[AnalysisException] {
      df.select(StrictConvert.strict_to_json(col("s"))).collect()
    }
    assert(e.getMessage.contains("map keys must be STRING"))
  }

  test("binary is rejected in strict mode, base64 in lenient mode") {
    import spark.implicits._
    val df = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
      .select(struct(col("b")).as("s"))
    val e = intercept[AnalysisException] {
      df.select(StrictConvert.strict_to_json(col("s"))).collect()
    }
    assert(e.getMessage.contains("Bytes field is unsupported"))
    val out = df.select(StrictConvert.lenient_to_json(col("s"))).collect()(0).getString(0)
    assert(out == """{"b":"AQID"}""")
  }

  test("DataFrame-level split: convert_error_as partitions good and bad rows") {
    // Source data is all-nullable (as real permissive sources are); the
    // DESTINATION schema declares `name` required — the reference's
    // target-table-driven validation (A8).
    val schema = StructType(Seq(StructField("payload", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))))
    val targetPayload = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val rows = Seq(Row(Row(1L, "a")), Row(Row(2L, null)), Row(Row(3L, "c")))
    val df = spark.createDataFrame(rows.asJava, schema)
      .withColumn("err", StrictConvert.convert_error_as(col("payload"), targetPayload))
    assert(df.filter(col("err").isNull).count() == 2)
    val bad = df.filter(col("err").isNotNull).collect()
    assert(bad.length == 1 && bad(0).getAs[Row]("payload").getLong(0) == 2L)
  }

  test("property: string escaping round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    val schema = StructType(Seq(StructField("s", StringType, nullable = false)))
    val tricky = Seq("\"", "\\", "\n\r\t", "\u0000\u0001\u001f", "日本語", "a\"b\\c")
    (samples(Gen.asciiStr, 200) ++ tricky).foreach { s =>
      val json = evalJson(Row(s), schema)
      assert(mapper.readTree(json).get("s").asText() == s, s"escaping broke for ${s.toList}")
    }
  }

  test("property: optional null at any position yields JSON null, required null errors") {
    for (pos <- 0 to 2; nullable <- Seq(true, false)) {
      val fields = (0 to 2).map(i =>
        StructField(s"f$i", LongType, nullable = (i == pos) && nullable))
      val schema = StructType(fields)
      val row = Row((0 to 2).map(i => if (i == pos) null else java.lang.Long.valueOf(i)): _*)
      val err = evalError(row, schema)
      if (nullable) assert(err == null) else assert(err != null)
    }
  }

  test("SQL registration works end-to-end") {
    val out = spark.sql(
      "SELECT strict_to_json(named_struct('a', 1L, 'b', 'x')) AS j").collect()(0).getString(0)
    assert(out == """{"a":1,"b":"x"}""")
  }

  test("convert_error validates without building JSON: same verdicts and messages") {
    // every fixture above, plus timestamp, date, map and binary values:
    // convert_error must return exactly strict_to_json's error message, or
    // null where strict_to_json converts
    val ts = StructType(Seq(
      StructField("t", TimestampType, nullable = false), StructField("d", DateType)))
    val mapSchema = StructType(Seq(StructField("m",
      MapType(StringType, LongType, valueContainsNull = false), nullable = false)))
    val nestedArr = StructType(Seq(StructField("a",
      ArrayType(inner, containsNull = true), nullable = false)))
    val bin = StructType(Seq(StructField("b", BinaryType)))
    val ok = Row("id", 1L, 1.0, true, Seq(), Map("k" -> 1), Row("x", true), null)
    val cases: Seq[(Row, StructType, Boolean, Option[String])] = Seq(
      (Row("id", 12345L, 0.123, true, Seq("a", "b", "c"), Map("k1" -> 1),
        Row("inner_value", false), null), rich, true, None),
      (ok, rich, true, None),
      (Row(null, 1L, 1.0, true, Seq(), Map("k" -> 1), Row("x", true), null), rich, true,
        Some("null in required field $.id")),
      (Row("id", 1L, 1.0, true, Seq(), Map("k" -> 1), Row(null, true), null), rich, true,
        Some("null in required field $.struct_value.inner1")),
      (Row("id", 1L, 1.0, true, Seq("a", null), Map("k" -> 1), Row("x", true), null), rich, true,
        Some("null in required field $.array_value[1]")),
      (Row("id", 1L, 1.0, true, Seq(), Map("k" -> 1), Row("x", true), Seq(null, "b")), rich,
        true, None),
      (Row(Seq(Row("a", true), null, Row("c", null))), nestedArr, true,
        Some("null in required field $.a[2].inner2")),
      (Row(java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        java.sql.Date.valueOf("1969-12-31")), ts, true, None),
      (Row(null, java.sql.Date.valueOf("2024-01-01")), ts, true,
        Some("null in required field $.t")),
      (Row(java.sql.Timestamp.valueOf("1900-01-01 00:00:00"), null), ts, true, None),
      (Row(Map("a" -> 1L, "b" -> 2L)), mapSchema, true, None),
      (Row(Map("a" -> 1L, "b" -> null)), mapSchema, true,
        Some("null in required field $.m{1}")),
      (Row(Array[Byte](1, 2, 3)), bin, true, Some("Bytes field is unsupported at $.b")),
      (Row(Array[Byte](1, 2, 3)), bin, false, None),
      (Row(null), bin, true, None))
    cases.foreach { case (row, schema, strict, expected) =>
      val lit = Literal.create(row, schema)
      val thrown =
        try { StrictToJson(lit, strict).eval(null); None }
        catch { case ConversionException(msg) => Some(msg) }
      assert(thrown == expected, s"strict_to_json on $row")
      val err = ConvertError(lit, strict).eval(null)
      assert(Option(err).map(_.toString) == expected, s"convert_error on $row")
    }
  }
}
