package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-built session exposes the custom functions in SQL") {
    // Build a SIBLING session over the shared context with the extensions
    // wired in: clear the default so getOrCreate constructs a fresh session
    // (extensions only apply at construction), and restore it after —
    // never stop the context, other suites share it.
    val shared = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = spark.sql(
        """SELECT strict_to_json(named_struct('a', 1L)) AS j,
          |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |       convert_error(named_struct('a', 1L)) AS e,
          |       size(winnow_fingerprints('abcdefghijkl', 5, 4)) AS w,
          |       vec_l2sq_q(array(3L, -2L), array(1L, 4L)) AS q
          |""".stripMargin).collect()(0)
      assert(r.getString(0) == """{"a":1}""")
      assert(r.getDouble(1) == 11.0)
      assert(r.getDouble(2) == 1.0)
      assert(r.isNullAt(3))
      assert(r.getInt(4) > 0, "winnow_fingerprints must be callable from SQL")
      assert(r.getLong(5) == 4L + 36L)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
