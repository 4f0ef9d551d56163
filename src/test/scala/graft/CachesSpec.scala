package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Caches, Dedup}

/** The two cache lifetimes: query-scoped `shared` frames and
  * window-scoped families. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def frame(n: Long): DataFrame = spark.range(n).toDF("id")

  test("shared frames are cached until clear() releases them") {
    val df = Caches.shared(frame(10))
    assert(df.storageLevel != StorageLevel.NONE)
    Caches.clear()
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a family is built once and survives clear()") {
    Caches.clearPinned()
    var builds = 0
    def fam(): DataFrame = Caches.family(spark, "dirA", "caches.once") {
      builds += 1
      Caches.pinned(frame(5))
    }
    val first = fam()
    Caches.clear()
    val second = fam()
    assert(builds == 1)
    assert(first eq second)
    assert(second.storageLevel != StorageLevel.NONE)
    Caches.clearPinned()
  }

  test("two live sessions and two data dirs get separate entries") {
    val other = spark.newSession()
    val keys = for (s <- Seq(spark, other); d <- Seq("dirA", "dirB")) yield (s, d)
    val values = keys.map { case (s, d) => Caches.family(s, d, "caches.sep")(new Object) }
    assert(values.combinations(2).forall { case Seq(a, b) => !(a eq b) })
    keys.zip(values).foreach { case ((s, d), v) =>
      assert(Caches.family(s, d, "caches.sep")(new Object) eq v)
    }
    Caches.clearPinned()
  }

  test("nested family builds (labels -> edges -> collapse chain) do not throw") {
    Caches.clearPinned()
    // the real chain, entered from its outermost family on an empty window
    val labels = Dedup.dupClusterLabels(spark, sf)
    assert(labels.count() > 0)
    // the signature is part of the chain's family: no call order can miss it
    Caches.clearPinned()
    val sig = Dedup.repSignatureWide(spark, sf)
    val (_, classes, _) = Dedup.collapsedVerifiedPairs(spark, sf)
    assert(sig.count() == classes.count())
    assert(Dedup.repSignatureWide(spark, sf) eq sig)
    // the same shape on synthetic frames
    def chain() = Caches.family(spark, "dirN", "caches.chain")(Caches.pinned(frame(8)))
    def edges() = Caches.family(spark, "dirN", "caches.edges")(Caches.pinned(chain().filter("id > 1")))
    def labs() = Caches.family(spark, "dirN", "caches.labels")(Caches.pinned(edges().filter("id > 2")))
    assert(labs().count() == 5)
    assert(chain().count() == 8)
    Caches.clearPinned()
  }

  test("clearPinned() releases every family and pinned frame") {
    Caches.clear()
    var builds = 0
    def fam(): DataFrame = Caches.family(spark, "dirA", "caches.release") {
      builds += 1
      Caches.pinned(frame(7))
    }
    val first = fam()
    assert(Caches.residentSessions.nonEmpty)
    Caches.clearPinned()
    assert(first.storageLevel == StorageLevel.NONE)
    assert(Caches.residentSessions.isEmpty)
    assert(!(fam() eq first))
    assert(builds == 2)
    Caches.clearPinned()
  }
}
