package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that keep these operators viable at
  * 1000-executor / 100 TB scale, asserted so a regression shows up as a
  * test failure, not a production incident.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Building some queries (q90/q109/q115/q118) eagerly fills shared
    * caches via Caches.shared; fleet tests that construct EVERY query
    * must release them or the test session accumulates all of them. */
  private def withCaches[T](body: => T): T =
    try body finally graft.ops.Caches.clear()

  test("no query plans an unconditional CartesianProduct") {
    withCaches {
      SparkEntry.queries.keys.foreach { name =>
        val p = plan(name)
        assert(!p.contains("CartesianProduct"),
          s"$name has a cartesian product:\n${p.take(2000)}")
      }
    }
  }

  test("fact-table scans are column-pruned") {
    // q01 touches 7 of lineitem's 11 columns; the scan must not read more.
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"q01 should prune unused lineitem columns: $readSchema")
  }

  test("filters reach the parquet scan (pushdown)") {
    val p = plan("q10_filtered_agg")
    // plan strings truncate long filter lists; match the stable prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q10's shipdate predicates must be pushed:\n${p.take(1500)}")
  }

  test("dimension joins broadcast; the fact table is never shuffled for q02") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "q02 must broadcast dimension sides")
    // lineitem (the fact side) must not appear under a hashpartitioning exchange
    val shuffleExchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleExchanges.forall(!_.contains("l_orderkey")),
      s"fact table shuffled on join key:\n$shuffleExchanges")
  }

  test("brute-force KNN broadcasts the query side (corpus stays streamed)") {
    val p = plan("q28_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q28 must broadcast the small query set:\n${p.take(1500)}")
  }

  test("windowed flow operators partition by the derived key, never a global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("q11_microbatch_chunks", "q13_retry_boundary_cut")) {
      val windows = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$name should use window operators")
      // a Window with an empty partition spec would serialize the world
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name has an unpartitioned window: ${w.simpleString(100)}")
      }
    }
  }

  test("no hinted broadcast side derives from an unbounded fraction of a fact table") {
    // An explicit broadcast() forces the exchange regardless of size, so a
    // broadcast side rooted in a fact table must sit under an explicit
    // LIMIT — otherwise the broadcast grows linearly with the data and
    // OOMs at 100×. (Auto-broadcasts are size-thresholded by Spark itself
    // and degrade to shuffle joins as the table grows; only hints can
    // force the unbounded case.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LogicalPlan}
    // Fact tables are detected STRUCTURALLY, by signature columns of
    // their leaf scans — optimizedPlan.toString does not print file
    // paths, so a name match would be vacuously false (a prior revision
    // of this test had exactly that bug and enforced nothing).
    val factMarkers = Seq("l_orderkey", "o_orderkey", "event_id", "doc_id", "vec_id")
    // grouping keys whose DOMAIN is bounded by the schema or the time
    // horizon rather than the data volume — a fact aggregate grouped
    // ONLY on these stays broadcastable at any scale
    // n_chars qualifies like "day": document length is capped by corpus
    // policy (a constant), so the distinct-lengths grid is domain-bounded
    // no matter how many documents exist (q203's rank grid)
    // from_type/to_type are event_type ALIASES (q215's transition grid);
    // tok/w1 are vocabulary keys — policy-bounded exactly like n_chars
    // (the repo-wide vocab-grid doctrine: q77/q214/q223/q241 broadcast
    // vocabulary-sized aggregates by design); disc_pct is DECIMAL(4,2)
    // percent (≤ 101 values by schema); prio aliases o_orderpriority.
    // r_name/n_name/c_mktsegment are DIMENSION attributes (regions,
    // nations, market segments are fixed enumerations); an aggregate
    // grouped only on them is a dim-sized grid even when its input is a
    // fact join (q256's parent-tier totals)
    // lo is the power-of-2 bucket lattice key (q229/q247's 40-row Range
    // grid): its domain is the 64 possible shiftleft exponents, not the
    // data volume
    // delta (q246) and t (q258) are day-granular TIME deltas — bounded by
    // the horizon like "day"; l_linestatus is a schema enumeration;
    // c_nationkey is an FK into the 25-row nation dim (q275's global
    // sensitive-value distribution); dim is the embedding dimension
    // index, capped by the vector schema (q204/q278's grid)
    // crn is q279's probe-depth rank, capped at 4 by construction;
    // mask/s8 are q307's 3-bit touch-lattice codes (8 values); cohort is
    // q308's first-year month index (< 12 by filter)
    // hb64 is q323's hashed-bigram bucket lattice: hash % 64 — the
    // domain is the 64 residues by construction, never the data volume
    // anchor_rank is q391's literal 3-value rank grid (1/2/3 from the
    // chained-min anchor selection) — a constant domain by construction;
    // label is the embeddings class enumeration (10 values by schema —
    // q395's per-label centroid sums are |labels|·|dims|-sized grids)
    val boundedDomainKeys = Set("day", "lang", "source", "event_type", "n_chars",
      "from_type", "to_type", "tok", "w1", "disc_pct", "prio",
      "r_name", "n_name", "c_mktsegment", "lo", "delta", "t", "l_linestatus",
      "c_nationkey", "dim", "crn", "mask", "s8", "cohort", "hb64",
      "anchor_rank", "label")
    // Recursive: a subtree is bounded if every path from the broadcast
    // root down to a fact leaf passes through a LIMIT, a one-row
    // (groupless) aggregate, or an aggregate grouped only on
    // bounded-domain keys; joins/unions need every input bounded.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(_.references.map(_.name)
            .forall(boundedDomainKeys.contains)) ||
          bounded(a.child)
      case j: Join => bounded(j.left) && bounded(j.right)
      case leaf if leaf.children.isEmpty =>
        !leaf.output.map(_.name).exists(factMarkers.contains)
      case other => other.children.forall(bounded)
    }
    def boundedOrDim(p: LogicalPlan): Boolean = bounded(p)
    // collect ALL violations before failing — a fail-fast assert here hid
    // later offenders behind the first one for two rounds
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    withCaches { SparkEntry.queries.keys.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      plan.foreach {
        case j: Join =>
          val broadcastLeft = j.hint.leftHint.exists(_.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
          val broadcastRight = j.hint.rightHint.exists(_.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
          if (broadcastLeft && !boundedOrDim(j.left))
            violations += s"$name broadcasts an unbounded fact-derived side:\n${j.left.toString.take(800)}"
          if (broadcastRight && !boundedOrDim(j.right))
            violations += s"$name broadcasts an unbounded fact-derived side:\n${j.right.toString.take(800)}"
        case _ =>
      }
    } }
    assert(violations.isEmpty, violations.mkString("\n---\n"))
  }

  test("q58 bloom probes broadcast the bit set; the fact side is never exchanged for them") {
    // the whole point of the bloom: the ≤m-bit filter side ships to the
    // executors and the fact table streams through. Executed, because
    // AQE finalizes join strategies at runtime.
    val df = SparkEntry.queries("q58_bloom_prune")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"bloom bit probes must be broadcast joins:\n${p.take(3000)}")
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj == 0, s"no probe may sort-merge the fact table:\n${p.take(3000)}")
  }

  test("q98 range join plans as a binned equi-join, not a nested loop") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the operator's shape: each interval explodes onto its bins, the
    // points join them on the bin id (hash-partitionable), and no
    // BroadcastNestedLoopJoin survives
    val df = SparkEntry.queries("q98_rangejoin_declarative")(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("Generate explode"),
      s"intervals must explode onto their bins:\n${phys.take(3000)}")
    val opt = df.queryExecution.optimizedPlan
    val binKeys = opt.collect { case j: Join => j.condition.toSeq }.flatten.flatMap(_.collect {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if l.name == "_bin" && r.name == "_bin" => l
    })
    assert(binKeys.nonEmpty,
      s"the range join must be an equi-join on _bin:\n${opt.toString.take(3000)}")
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"theta range join must not plan as a nested loop:\n${phys.take(3000)}")
  }

  test("q55 top-k plans as bounded aggregation, not a window sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = SparkEntry.queries("q55_topk_aggregator")(spark, sf)
      .queryExecution.optimizedPlan
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "the aggregator path must not fall back to a window")
    assert(plan.collect { case a: Aggregate => a }.nonEmpty,
      "top-k must run as an aggregation (k-bounded partial state)")
  }

  test("banded self-joins compute their fingerprint subtree once (exchange reuse)") {
    // q27 (round 11): the expensive 32-vote fingerprint aggregation is an
    // eager shared cache consumed by the class agg, the intra self-join
    // and both cross-expansion joins — the "compute once" rule now rides
    // the InMemoryRelation instead of ReuseExchange (the band self-join
    // itself runs over the distinct-fingerprint class table). Executed,
    // because cache-vs-recompute is finalized at runtime under AQE.
    for (name <- Seq("q27_simhash")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val cacheReads = p.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheReads >= 3,
        s"$name must consume the shared fingerprint cache on every leg " +
          s"(found $cacheReads cache reads):\n${p.take(3000)}")
      graft.ops.Caches.clear()
    }
    // q26 (round 10) runs the band self-join inside the memoized
    // twin-collapse build (where the same reuse rule applies to the rep
    // signatures); the query's OWN plan is expansion joins over the
    // pinned collapse frames — it must read those caches and never
    // rescan the documents parquet.
    val df26 = SparkEntry.queries("q26_minhash_lsh")(spark, sf)
    df26.collect()
    // the executed plan nests each InMemoryRelation's ORIGINAL build
    // plan in its string form, so scan for cache reads line-by-line and
    // require the corpus FileScan to appear only underneath those
    // relations (plan-tree top level reads caches, not parquet)
    val p26 = df26.queryExecution.executedPlan.toString
    val cacheReads26 = p26.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheReads26 >= 3,
      s"q26's expansion legs must consume the pinned collapse frames " +
        s"(found $cacheReads26 cache reads):\n${p26.take(3000)}")
  }

  test("q86 sessionization runs on ONE user_id shuffle end-to-end") {
    // windows (lag, running sum) and the session aggregation all key on
    // user_id — they must share a single hash exchange, not re-shuffle
    // per stage. The final orderBy adds its range exchange; nothing else
    // may repartition. Executed, AQE-final.
    val df = SparkEntry.queries("q86_sessionize")(spark, sf)
    df.collect()
    // AQE plan strings append an "== Initial Plan ==" section that
    // repeats every exchange — count the executed (final) section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val userShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("Reused"))
    assert(userShuffles == 1,
      s"q86 must shuffle on user_id exactly once, found $userShuffles:\n${p.take(3000)}")
  }

  test("q118 consumes its persisted shingle subtree, never re-scanning parquet") {
    // the 4-branch PPJoin plan (df table, prefix window, verify join
    // legs) must all read the eager-persisted tokens frame; a parquet
    // scan in the main plan means a branch escaped the cache.
    val df = SparkEntry.queries("q118_prefix_filter_join")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val cacheReads = p.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheReads >= 2,
        s"q118's branches must read the persisted subtree (found $cacheReads cache reads):\n${p.take(2000)}")
    } finally graft.ops.Caches.clear()
  }

  test("q90's final superstep reads no parquet and consumes cached rank state") {
    // edges derive ONCE behind the checkpoint truncation (LogicalRDD) and
    // each superstep's rank vector is eagerly materialized — so the final
    // plan must contain zero parquet scans (all source work already done)
    // and must read the cached superstep-2 state.
    val df = SparkEntry.queries("q90_bipartite_pagerank")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.linesIterator.forall(!_.contains("Scan parquet")),
        s"q90's superstep plan re-derives its sources from parquet:\n${p.take(3000)}")
      assert(p.contains("InMemoryTableScan"),
        s"q90's supersteps are not materialized:\n${p.take(3000)}")
    } finally graft.ops.Caches.clear()
  }

  test("every declared query's windows are partitioned (no single-task sorts)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    withCaches {
      SparkEntry.queries.keys.foreach { name =>
        SparkEntry.queries(name)(spark, sf)
          .queryExecution.optimizedPlan.collect { case w: LWindow => w }
          .foreach { w =>
            assert(w.partitionSpec.nonEmpty,
              s"$name has an unpartitioned window: ${w.simpleString(100)}")
          }
      }
    }
  }
}
