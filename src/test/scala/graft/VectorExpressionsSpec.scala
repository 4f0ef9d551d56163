package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExpressions
import graft.ops.Similarity

class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("vec_dot and vec_cosine compute exact expected values") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      VectorExpressions.vec_dot(col("a"), col("b")).as("d"),
      VectorExpressions.vec_cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(r.getDouble(0) == 32.0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(r.getDouble(1) == expected)
  }

  test("vec_cosine is bit-identical to the aggregate/zip_with formulation") {
    val df = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .limit(50)
    val pairs = df.as("x").crossJoin(df.as("y"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    val cmp = pairs.select(
      VectorExpressions.vec_cosine(col("a"), col("b")).as("fast"),
      (Similarity.dot("a", "b") / (Similarity.norm("a") * Similarity.norm("b"))).as("ref"))
    val mismatches = cmp.filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0, "codegen kernel must reproduce the fold exactly")
  }

  test("zero vector yields cosine 0.0, not NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(df.select(VectorExpressions.vec_cosine(col("a"), col("b")))
      .collect()(0).getDouble(0) == 0.0)
  }

  test("non-double-array inputs are rejected at analysis time") {
    val df = Seq((Seq(1, 2), "x")).toDF("a", "b")
    val e = intercept[AnalysisException] {
      df.select(VectorExpressions.vec_cosine(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<double>"))
  }

  test("SQL registration") {
    val r = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  test("vec_l2sq_q matches a Scala fold and rejects non-bigint arrays") {
    val r = spark.sql(
      "SELECT vec_l2sq_q(array(3L, -2L, 7L), array(1L, 4L, 7L)) AS d")
      .collect()(0).getLong(0)
    assert(r == 4L + 36L + 0L)
    // zero-length and length-mismatch fold over min(len)
    val r2 = spark.sql("SELECT vec_l2sq_q(array(5L, 1L), array(2L)) AS d")
      .collect()(0).getLong(0)
    assert(r2 == 9L)
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_l2sq_q(array(1.0D), array(2.0D))").collect()
    }
  }

  test("codegen path is active (no fallback) for vec_l2sq_q") {
    val df = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(expr("transform(CAST(embedding AS ARRAY<DOUBLE>)," +
        " x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q"))
      .select(VectorExpressions.vec_l2sq_q(col("q"), col("q")).as("z"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("vec_l2sq_q") && l.contains("*(")),
      s"vec_l2sq_q project must be codegen'd:\n$plan")
    assert(df.collect().forall(_.getLong(0) == 0L), "self-distance is zero")
  }

  test("codegen path is active (no fallback) for vec_cosine") {
    // literal inputs get constant-folded, so drive it from a parquet scan
    val df = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(VectorExpressions.vec_cosine(col("v"), col("v")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefix marks operators inside a WholeStageCodegen span
    assert(plan.linesIterator.exists(l => l.contains("vec_cosine") && l.contains("*(")),
      s"vec_cosine project must be codegen'd:\n$plan")
    df.collect() // and the generated code must actually compile + run
  }
}
