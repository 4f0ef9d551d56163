package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Caches

/** The per-query loop every harness main runs through. Its sessions
  * replace the shared test session, which the next suite rebuilds. */
class HarnessSpec extends AnyFunSuite {

  test("a throwing query costs one failure row and the loop goes on; clear() follows every query") {
    val loop = new Harness.Loop()
    var frames = Vector.empty[DataFrame]
    var releasedBefore = Vector.empty[Boolean]
    val builders: Seq[(String, SparkSession => DataFrame)] = Seq(
      "ok1" -> (s => s.range(10).toDF("id")),
      "boom" -> (_ => throw new IllegalStateException("boom")),
      "ok2" -> (s => s.range(5).toDF("id")))
    try {
      val outcomes = builders.map { case (name, build) =>
        loop(name) { s =>
          releasedBefore ++= frames.map(_.storageLevel == StorageLevel.NONE)
          val df = Caches.shared(build(s))
          frames :+= df
          df.write.format("noop").mode("overwrite").save()
        }
      }
      assert(outcomes.map(_.error.isDefined) == Seq(false, true, false))
      assert(outcomes(1).error.exists(_.contains("boom")))
      assert(outcomes.forall(_.seconds >= 0))
      assert(frames.size == 2)
      // ok1's frame was released before boom and ok2 ran; ok2's after it
      assert(releasedBefore == Vector(true, true))
      assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    } finally loop.stop()
  }

  test("the window boundary releases families and yields a fresh session") {
    var rewarmed = Vector.empty[String]
    val loop = new Harness.Loop(rewarm = Some((_, name) => rewarmed :+= name))
    var sessions = Vector.empty[SparkSession]
    def query(s: SparkSession): Unit = {
      sessions :+= s
      Caches.family(s, "dirW", "harness.fam")(Caches.pinned(s.range(3).toDF("id"))).count()
    }
    val w = Harness.Window
    try {
      val outcomes = (0 to w).map(i => loop(s"q$i")(query))
      assert(outcomes.forall(_.error.isEmpty), outcomes.flatMap(_.error).take(3))
      val (first, last) = (sessions.head, sessions(w))
      assert(sessions.take(w).forall(_ eq first))
      assert(!(last eq first))
      assert(first.sparkContext.isStopped)
      assert(!last.sparkContext.isStopped)
      assert(loop.spark eq last)
      assert(rewarmed == Vector(s"q$w"))
      // the old session holds no family entry and no pinned frame
      val resident = Caches.residentSessions
      assert(resident.nonEmpty && resident.forall(_ eq last))
    } finally loop.stop()
    assert(Caches.residentSessions.isEmpty)
  }

  test("query-name lists are trimmed, drop empty entries and reject unknown names") {
    assert(Harness.queryNames("q01_pricing_summary, q150_acf_lags") ==
      Seq("q01_pricing_summary", "q150_acf_lags"))
    assert(Harness.queryNames(" q01_pricing_summary,,q150_acf_lags ,") ==
      Seq("q01_pricing_summary", "q150_acf_lags"))
    val e = intercept[IllegalArgumentException](
      Harness.queryNames("q01_pricing_summary,q01_pricing_sumary"))
    assert(e.getMessage.contains("q01_pricing_sumary"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
    intercept[IllegalArgumentException](Harness.queryNames(" , "))
  }

  test("session() has the fixed harness settings and loads GraftExtensions") {
    // stop the shared test session so getOrCreate builds a fresh one
    SparkSession.getDefaultSession.foreach(_.stop())
    val s = Harness.session()
    try {
      assert(s.sparkContext.master == s"local[${Harness.cpus}]")
      assert(s.conf.get("spark.sql.shuffle.partitions") == Harness.cpus.toString)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sql("SELECT strict_to_json(named_struct('a', 1L))").head().getString(0) ==
        """{"a":1}""")
    } finally s.stop()
  }
}
