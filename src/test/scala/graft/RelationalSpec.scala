package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  private var live: SparkSession = _

  /** The session the suites share; rebuilt if a suite stopped it (the
    * harness loop's spec restarts sessions). Suites run one after another
    * in the forked test JVM, so a suite never sees it stopped mid-run. */
  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) live = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    live
  }
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    // building a query must leave the session's SQL conf as it found it,
    // or a later query's plan depends on which queries ran before it. The
    // one allowed key is the parquet flag Tables.events sets to read its
    // own nanosecond timestamps.
    val allowed = Set("spark.sql.legacy.parquet.nanosAsLong")
    def conf() = spark.conf.getAll.filterNot { case (k, _) => allowed(k) }.toSet
    SparkEntry.queries.foreach { case (name, fn) =>
      val before = conf()
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
      val after = conf()
      val (set, dropped) = (after -- before, before -- after)
      assert(set.isEmpty && dropped.isEmpty, s"$name changed the session conf: " +
        s"set ${set.mkString(", ")}; unset or replaced ${dropped.mkString(", ")}")
    }
  }

  test("every declared query key has matching oracle coverage accounted") {
    // Oracle SQL may legitimately be absent (non-SQL-expressible ops), but
    // an oracle without a query is a wiring bug.
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("q03 topk is ordered by totalprice desc") {
    val rows = SparkEntry.queries("q03_topk_orders")(spark, sf)
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("q07 semi+anti counts partition the customer table") {
    val df = SparkEntry.queries("q07_semi_anti")(spark, sf)
    val total = df.selectExpr("sum(n_with + n_without)").collect()(0).getLong(0)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(total == nCust)
  }

  test("q01 aggregates are exact decimals surfaced as doubles") {
    val row = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .filter("l_returnflag = 'A' and l_linestatus = 'F'").collect()(0)
    val sumQty = row.getAs[Double]("sum_qty")
    assert(sumQty == math.rint(sumQty * 100) / 100)
  }
}
