package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.convert.SchemaReconcile
import graft.flow.Flow

class FlowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("microBatchIds cuts per-partition count-based chunks") {
    val df = (0L until 250L).map(i => (i % 2, i)).toDF("p", "off")
    val out = Flow.microBatchIds(df, col("p"), col("off"), 50)
      .groupBy("p", "mb_chunk").count().collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // 125 rows per partition → chunks of 50,50,25
    assert(out((0L, 0L)) == 50 && out((0L, 1L)) == 50 && out((0L, 2L)) == 25)
    assert(out((1L, 2L)) == 25)
  }

  test("boundaryCutIds cuts exactly AFTER each boundary offset") {
    val df = (0L until 10L).map(i => (1L, i)).toDF("p", "off")
    val out = Flow.boundaryCutIds(df, col("p"), col("off"), col("off") === 3 || col("off") === 7)
      .select("off", "cut_batch").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3) == 0, "boundary row stays in its batch")
    assert(out(4) == 1, "next row starts the new batch")
    assert(out(7) == 1 && out(8) == 2)
  }

  test("quarantineSplit partitions rows exactly") {
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val bad = Seq(3L, 5L, 97L).toDF("k")
    val (good, dlq) = Flow.quarantineSplit(df, bad, Seq("k"))
    assert(good.count() == 97 && dlq.count() == 3)
    assert(good.join(dlq, Seq("k"), "inner").count() == 0)
  }

  test("asOf join attaches latest preceding right row; ties right-first; null before any") {
    import graft.flow.AsOfJoin
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"), (2L, 50L, "e3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 8L, 100.0), (1L, 20L, 200.0), (3L, 1L, 999.0))
      .toDF("k", "t", "price")
    val out = AsOfJoin.asOf(left, right, "k", "t", Seq("price"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[java.lang.Double]("asof_price")).map(_.toDouble)).toMap
    assert(out("e0").isEmpty, "no right row at or before t=5")
    assert(out("e1").contains(100.0), "t=10 sees the t=8 row")
    assert(out("e2").contains(200.0), "exact-tie t=20 matches right-first")
    assert(out("e3").isEmpty, "key 2 has no right rows at all")
  }

  test("saltedJoin matches plain join on skewed data, inner and left") {
    import graft.flow.SkewJoin
    // 10k rows, 90% on one hot key
    val left = (0 until 10000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i))
      .toDF("k", "v")
    val right = Seq((42L, "hot"), (0L, "a"), (3L, "b"), (99L, "unmatched"))
      .toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .orderBy("k", "v").collect().map(_.toSeq).toSeq
      val salted = SkewJoin.saltedJoin(left, right, "k", saltFactor = 8, joinType = jt)
        .orderBy("k", "v").collect().map(_.toSeq).toSeq
      assert(salted == plain, s"salted $jt join must preserve semantics")
    }
  }

  test("saltedJoin spreads even IDENTICAL duplicate rows of a hot key") {
    import graft.flow.SkewJoin
    // the worst skew shape in dedup corpora: the hot key's rows are
    // byte-identical, so any content-derived salt collapses to one bucket
    val left = (0 until 1000).map(_ => (42L, 7)).toDF("k", "v")
    val salts = left.withColumn("_salt", SkewJoin.saltColumn(8))
      .select("_salt").distinct().count()
    assert(salts == 8, s"identical rows must still fan out over all 8 buckets, got $salts")
    assert(SkewJoin.saltedJoin(left, Seq((42L, "x")).toDF("k", "n"), "k", 8).count() == 1000)
  }

  test("binned range join matches the naive theta join exactly") {
    import graft.flow.RangeJoin
    // intervals of varying length (≤ binWidth) at awkward bin boundaries
    val iv = Seq((1L, 10L, 19L), (2L, 15L, 30L), (3L, 31L, 31L), (4L, 64L, 79L))
      .toDF("iv_id", "s", "e")
    val pts = (0L to 100L).map(Tuple1(_)).toDF("pt")
    val binned = RangeJoin.pointInInterval(pts, iv, "pt", "s", "e", binWidth = 16L)
      .select("iv_id", "pt").orderBy("iv_id", "pt").collect().map(_.toSeq).toSeq
    val naive = pts.join(iv, col("s") <= col("pt") && col("pt") <= col("e"))
      .select("iv_id", "pt").orderBy("iv_id", "pt").collect().map(_.toSeq).toSeq
    assert(binned == naive)
    assert(binned.nonEmpty && binned.size == (10 + 16 + 1 + 16))
    // seeded random intervals (negative coordinates, inverted, wider than
    // a bin) give exactly the theta join's rows at every bin width
    val rnd = new scala.util.Random(42)
    val rIv = (1 to 60).map { i =>
      val a = rnd.between(-100L, 200L); val b = rnd.between(-100L, 260L)
      (i.toLong, a, b)
    }.toDF("iv_id", "s", "e")
    val rPts = (-120L to 300L by 3L).map(Tuple1(_)).toDF("pt")
    val rNaive = rPts.join(rIv, col("s") <= col("pt") && col("pt") <= col("e"))
      .select("iv_id", "pt").orderBy("iv_id", "pt").collect().map(_.toSeq).toSeq
    assert(rNaive.nonEmpty)
    for (bw <- Seq(1L, 7L, 64L)) {
      val rBinned = RangeJoin.pointInInterval(rPts, rIv, "pt", "s", "e",
          binWidth = bw, maxBinsPerInterval = 1000L)
        .select("iv_id", "pt").orderBy("iv_id", "pt").collect().map(_.toSeq).toSeq
      assert(rBinned == rNaive, s"binned join diverges at binWidth=$bw")
    }
  }

  test("range join rejects ambiguous columns and oversize intervals fail fast") {
    import graft.flow.RangeJoin
    val pts = Seq(Tuple1(5L)).toDF("pt")
    val iv = Seq((1L, 0L, 10000L)).toDF("iv_id", "s", "e")
    // shared non-range column name → ambiguous output, rejected up front
    val err = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, iv.withColumn("pt", lit(0L)), "pt", "s", "e", 16L)
    }
    assert(err.getMessage.contains("share column name"))
    // an interval covering 10001 bins blows the replication budget: the
    // guard fires per interval row BEFORE the explode materializes rows
    val ex = intercept[Throwable] {
      RangeJoin.pointInInterval(pts, iv, "pt", "s", "e",
        binWidth = 1L, maxBinsPerInterval = 100L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages(ex).exists(m => m != null && m.contains("maxBinsPerInterval")),
      s"expected the replication-budget error, got: ${messages(ex)}")
    // within budget the guard is invisible
    assert(RangeJoin.pointInInterval(pts, iv, "pt", "s", "e",
      binWidth = 1L, maxBinsPerInterval = 20000L).count() == 1L)
    // a reserved-name collision is rejected even when the sides are disjoint
    val err2 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts.withColumnRenamed("pt", "_bin"), iv,
        "_bin", "s", "e", 16L)
    }
    assert(err2.getMessage.contains("reserved"))
    // NULL-bounded intervals drop silently (pre-guard behavior), they
    // must not trip the budget assert with a null message
    val ivN = Seq((1L, Option(0L), Option(10L)), (2L, Option.empty[Long], Option(5L)))
      .toDF("iv_id", "s", "e")
    assert(RangeJoin.pointInInterval(pts, ivN, "pt", "s", "e", 16L).count() == 1L)
    // an inverted sentinel interval (start >> end, negative span) neither
    // generates a descending bin sequence nor trips the budget: zero rows,
    // as in the theta join
    val inv = Seq((10L, Long.MaxValue / 4, 0L)).toDF("iv_id", "s", "e")
    assert(RangeJoin.pointInInterval(pts, inv, "pt", "s", "e", 16L).count() == 0L)
  }

  test("dedupSurvivor keeps the deterministic first-ranked row") {
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ord", "v")
    val out = Flow.dedupSurvivor(df, Seq(col("k")), Seq(col("ord").desc))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b", 2L -> "c"))
  }

  test("SchemaReconcile drops unknown fields and casts survivors") {
    val df = Seq((1, "x", 2.5, "extra")).toDF("a", "b", "c", "junk")
    val target = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("c", StringType, nullable = true)))
    val out = SchemaReconcile.reconcile(df, target)
    assert(out.schema.fieldNames.toSeq == Seq("a", "c"))
    assert(out.schema("a").dataType == LongType)
    val r = out.collect()(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "2.5")
  }

  test("SchemaReconcile fails fast on missing required field") {
    val df = Seq((1, "x")).toDF("a", "b")
    val target = StructType(Seq(StructField("zz", LongType, nullable = false)))
    val e = intercept[IllegalArgumentException] {
      SchemaReconcile.reconcile(df, target)
    }
    assert(e.getMessage.contains("zz"))
  }

  test("Checkpoints.truncate is conf-gated: local by default, reliable when checkpointDir is set") {
    import graft.flow.Checkpoints
    import org.apache.spark.sql.execution.LogicalRDD
    def planRdd(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.asInstanceOf[LogicalRDD].rdd
    assert(spark.conf.getOption(Checkpoints.DirConf).isEmpty)
    val local = Checkpoints.truncate((1L to 100L).toDF("x"), eager = true)
    assert(local.count() == 100)
    // getCheckpointFile is defined only for the RELIABLE mechanism
    // (isLocallyCheckpointed is private[spark]) — local checkpoints are
    // materialized (isCheckpointed) but have no checkpoint file
    assert(planRdd(local).isCheckpointed)
    assert(planRdd(local).getCheckpointFile.isEmpty,
      "default mechanism must be localCheckpoint (no checkpoint file)")

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try {
      val rel = Checkpoints.truncate((1L to 100L).toDF("y"), eager = true)
      assert(rel.count() == 100)
      val rdd = planRdd(rel)
      assert(rdd.isCheckpointed)
      assert(rdd.getCheckpointFile.exists(_.contains(dir.getFileName.toString)),
        "with the conf set the mechanism must be the reliable checkpoint, " +
          "with its files under the configured dir")
      // superseded frames reclaim their checkpoint files
      def filesUnder = {
        val s = java.nio.file.Files.walk(dir)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(filesUnder > 0)
      Checkpoints.dropCheckpoint(rel)
      assert(filesUnder == 0, "dropCheckpoint must delete the backing files")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("connectedComponents under reliable checkpointing keeps only the final round's files") {
    import graft.flow.Checkpoints
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc")
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // every superseded round's labels and the edge list were dropped —
      // a 20-round run must not leak 20 label-table copies
      val s = java.nio.file.Files.walk(dir)
      val rddDirs =
        try s.filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")).count()
        finally s.close()
      assert(rddDirs == 1,
        s"only the final labels checkpoint may remain, found $rddDirs rdd dirs")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }
}
