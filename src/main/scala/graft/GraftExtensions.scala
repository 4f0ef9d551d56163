package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{ConvertError, CosineSimilarity, DotProduct, L2SquaredQ, StrictToJson,
  WinnowFingerprints}

/** Session extension wiring: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) registers the engine's
  * custom Catalyst expressions as SQL functions in every session the
  * extension builds — the injection path Spark intends for libraries, so
  * this is the one place a SQL function is registered. It injects no
  * optimizer rule and reads no session conf, so no query's plan depends
  * on what ran before it in the session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("strict_to_json"),
      info("strict_to_json", "strict schema-driven struct->json conversion"),
      (es: Seq[Expression]) => StrictToJson(es.head)))
    e.injectFunction((FunctionIdentifier("convert_error"),
      info("convert_error", "conversion error message or NULL when clean"),
      (es: Seq[Expression]) => ConvertError(es.head)))
    e.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "codegen'd dot product over array<double>"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "codegen'd cosine similarity over array<double>"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("vec_l2sq_q"),
      info("vec_l2sq_q", "codegen'd squared L2 distance over array<bigint>"),
      (es: Seq[Expression]) => L2SquaredQ(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnowing rolling-hash fingerprints: winnow_fingerprints(text, k, w)"),
      (es: Seq[Expression]) => {
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"winnow_fingerprints: $name must be an integer literal, got $other")
        }
        WinnowFingerprints(es(0), intLit(es(1), "k"), intLit(es(2), "w"))
      }))
  }
}
