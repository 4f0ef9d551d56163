package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flow.Checkpoints
import graft.model.Tables

/** Iterative graph analytics over relationship graphs mined from the
  * relational tables (SURVEY.md §2D). Complements q65's connected
  * components (label propagation to a fixpoint) with a FIXED-ITERATION
  * damped random walk — the shape of PageRank/label-spreading jobs a
  * training-data pipeline runs to score sources or propagate trust.
  *
  * q90: bipartite customer↔supplier PageRank, 3 unrolled iterations.
  * All arithmetic is fixed-point ppb (parts-per-billion) integer with
  * floor division — deterministic, partitioning-independent, and
  * engine-exact (a float PageRank would diverge across engines in the
  * last ulp; see SURVEY §7.0 parity rules). Mass lost to floors is
  * accepted — the op contract is the deterministic integer recurrence,
  * not stochastic-matrix mass conservation.
  *
  * Scale notes (100 TB): each iteration is one shuffle-join of the
  * rank vector against the edge list on the source key plus one
  * map-side-combined aggregation on the destination key — the classic
  * Pregel/GraphX superstep expressed relationally, with AQE free to
  * pick broadcast sides when the rank vector is small. The edge list
  * is derived once and reused across iterations (self-joins dedupe via
  * exchange reuse). Iteration count is fixed and small, so lineage
  * stays bounded without checkpointing; an open-ended fixpoint loop
  * would localCheckpoint per round like q65's connected components.
  */
object Graph {

  /** ppb fixed-point scale for rank mass. */
  private val R = 1000000000L

  /** The q263 co-purchase edge set (a < b, basket cap 32, support ≥ 2)
    * shared by the q286–q300 structure queries — ONE definition so the
    * graph views can never disagree about what an edge is. Pairs expand
    * IN-ROW from each order's sorted distinct-part basket (collect_set
    * + a nested-sequence transform) instead of an okey self-join: the
    * sorted array makes a < b free, the ≤32 cap bounds the fan-out at
    * C(32,2), and the plan runs TWO shuffles (basket groupBy + pair
    * groupBy) where the join form needed four. The pair SET is
    * identical — the oracle and the brute-force spec replays are
    * unchanged. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    // MEMOIZED per (session, dir) and PINNED (round 11, the round-10
    // collapse-chain amortization applied here): ~11 structure queries
    // (q263/q286/q287/q288/q298/q299/q300/q335-family/q419/q421/q428)
    // re-derive this identical support-pruned edge list, and per-query
    // Caches.clear() made each rebuild it — one lineitem basket groupBy
    // + C(32,2) in-row pair explode + pair groupBy paid ~11× per suite
    // run. The edge list is support≥2-pruned and bounded (≤ C(32,2) per
    // order), so pinning it for the run is cheap.
    Caches.family(s, d, "copurchaseEdges") {
      Caches.pinned(copurchaseEdgesUncached(s, d))
    }

  private def copurchaseEdgesUncached(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .groupBy("okey")
      .agg(expr("sort_array(collect_set(part))").as("ps"))
      .filter(size(col("ps")).between(2, 32))
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ps) - 1)," +
          " i -> transform(sequence(i + 1, size(ps))," +
          " j -> struct(element_at(ps, i) AS a, element_at(ps, j) AS b))))"))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select("a", "b")
  }

  /** Undirected adjacency (both directions) over [[copurchaseEdges]]. */
  private def adjacency(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    e.select(col("a").as("v"), col("b").as("n"))
      .unionByName(e.select(col("b").as("v"), col("a").as("n")))
  }

  /** DuckDB mirror of [[copurchaseEdges]] + adjacency — the q263 CTEs. */
  private val EdgesSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
      |  FROM lineitem),
      |ok AS (SELECT okey FROM items GROUP BY okey HAVING COUNT(*) <= 32),
      |it AS (SELECT i.okey, i.part FROM items i JOIN ok USING (okey)),
      |edges AS (
      |  SELECT a.part AS a, b.part AS b
      |  FROM it a JOIN it b ON a.okey = b.okey AND a.part < b.part
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |adj AS (
      |  SELECT a AS v, b AS n FROM edges
      |  UNION ALL SELECT b AS v, a AS n FROM edges)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One synchronous LABEL-PROPAGATION step over the co-purchase graph,
    // seeded with part BRANDS — the community-detection primitive one
    // superstep at a time (q65/q136's min-label propagation converges to
    // CONNECTivity; LPA converges to DENSITY communities, and its very
    // first step already reads as a label-flow matrix: brand X's nodes
    // adopting brand Y means X's parts are bought with Y's more than
    // with their own). Majority neighbor label by the mirrored two-step
    // rule (max count, then smallest label). Output = the observed
    // (old_label, new_label) flow matrix.
    "q286_label_propagation" -> { (s, d) =>
      val und = adjacency(s, d)
      val brands = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))
      val nodeBrand = und.select("v").distinct()
        .join(brands, col("v") === col("p_partkey"))
        .select(col("v"), col("p_brand").as("old_label"))
      val nb = und
        .join(brands.select(col("p_partkey"), col("p_brand").as("nl")),
          col("n") === col("p_partkey"))
        .groupBy("v", "nl").agg(count(lit(1)).as("c"))
      val mx = nb.groupBy("v").agg(max(col("c")).as("mc"))
      val newl = nb.join(mx, "v").filter(col("c") === col("mc"))
        .groupBy("v").agg(min(col("nl")).as("new_label"))
      nodeBrand.join(newl, "v")
        .groupBy("old_label", "new_label")
        .agg(count(lit(1)).cast("long").as("n_nodes"))
        .orderBy("old_label", "new_label")
    },

    // 1-round WEISFEILER-LEHMAN structural signatures — the
    // graph-isomorphism refinement at radius 1: a node's class =
    // md5(own brand | sorted neighbor-brand multiset). How many
    // distinct classes exist (and how the top classes populate) is the
    // structural-diversity read an embedding-free graph model starts
    // from — two nodes in the same WL-1 class are indistinguishable to
    // any 1-hop message-passing layer. Top-10 classes by the total
    // (count desc, sig) order; n_classes/n_vertices ride on every row.
    "q287_wl_signatures" -> { (s, d) =>
      val und = adjacency(s, d)
      val brands = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))
      val sigs = und
        .join(brands.select(col("p_partkey"), col("p_brand").as("nl")),
          col("n") === col("p_partkey"))
        .groupBy("v")
        .agg(expr("concat_ws(',', sort_array(collect_list(nl)))").as("ns"))
        .join(brands, col("v") === col("p_partkey"))
        .select(col("v"), md5(concat(col("p_brand"), lit("|"), col("ns"))).as("sig"))
      val classes = sigs.groupBy("sig").agg(count(lit(1)).as("n_nodes"))
      val tot = classes.agg(count(lit(1)).as("n_classes"),
        sum(col("n_nodes")).as("n_vertices"))
      classes.orderBy(col("n_nodes").desc, col("sig")).limit(10)
        .crossJoin(broadcast(tot))
        .select(col("sig"), col("n_nodes").cast("long").as("n_nodes"),
          col("n_classes").cast("long").as("n_classes"),
          col("n_vertices").cast("long").as("n_vertices"))
        .orderBy(col("n_nodes").desc, col("sig"))
    },

    // MODULARITY of the brand partition on the co-purchase graph — the
    // community-QUALITY score (q286 flows labels, q287 counts classes;
    // Q answers "is brand a good community structure at all": Q > 0 ⟹
    // within-brand edges beat the degree-preserving random baseline).
    // Q = Σ_c [e_c/m − (d_c/2m)²] assembled over the common denominator
    // 4m²: q_num = Σ_c (4m·e_c − d_c²) exact integer, the final ratio
    // ONE mirrored IEEE division (Q is signed — the q207 rule).
    "q298_brand_modularity" -> { (s, d) =>
      val e = copurchaseEdges(s, d)
      val brands = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      val eb = e
        .join(brands.select(col("p_partkey").as("a"), col("p_brand").as("ba")), "a")
        .join(brands.select(col("p_partkey").as("b"), col("p_brand").as("bb")), "b")
      val m = eb.agg(count(lit(1)).as("m"))
      val within = eb.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("c")).agg(count(lit(1)).as("ec"))
      val degC = adjacency(s, d)
        .join(brands.select(col("p_partkey").as("v"), col("p_brand").as("c")), "v")
        .groupBy("c").agg(count(lit(1)).as("dc"))
      val terms = degC.join(within, Seq("c"), "left")
        .withColumn("ec", coalesce(col("ec"), lit(0L)))
        .crossJoin(broadcast(m))
        .select(col("c"), col("ec"), col("dc"),
          // 4m·e_c crosses int64 near 10⁹ edges — widened per the
          // magnitude rule
          expr("4 * CAST(m AS DECIMAL(38,0)) * ec - CAST(dc AS DECIMAL(38,0)) * dc")
            .as("tnum"))
      terms.agg(count(lit(1)).as("n_communities"),
          sum(col("ec")).as("within_edges"), sum(col("tnum")).as("q_num"))
        .crossJoin(broadcast(m))
        .select(col("m").cast("long").as("n_edges"),
          col("n_communities").cast("long").as("n_communities"),
          col("within_edges").cast("long").as("within_edges"),
          col("q_num").cast("long").as("q_num"),
          expr("CAST(q_num AS DOUBLE) / (4 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))")
            .as("modularity"))
    },

    // RICH-CLUB coefficient sweep, k ∈ {2,4,8,16} — do the best-
    // connected parts trade among THEMSELVES (φ(k) = realized edge
    // density among nodes of degree > k): a rising φ(k) curve is the
    // elite-core signature assortativity (q288) summarizes to one
    // number. Density in exact floor-ppm, 2e_k·10⁶ DIV n_k(n_k−1);
    // clubs smaller than 2 emit the defined-zero row (the q158 rule).
    "q299_rich_club" -> { (s, d) =>
      val e = copurchaseEdges(s, d)
      val deg = adjacency(s, d).groupBy("v").agg(count(lit(1)).as("dg"))
      val ks = e.sparkSession.range(1, 5)
        .select(expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("k"))
      val club = deg.crossJoin(broadcast(ks)).filter(col("dg") > col("k"))
        .select(col("k"), col("v"))
      val nk = club.groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = e.join(club.select(col("k"), col("v").as("a")), Seq("a"))
        .join(club.select(col("k").as("k2"), col("v").as("b")), Seq("b"))
        .filter(col("k") === col("k2"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_k"), lit(0L)).cast("long").as("n_k"),
          coalesce(col("e_k"), lit(0L)).cast("long").as("e_k"))
        .withColumn("phi_ppm", expr("CASE WHEN n_k >= 2 THEN" +
          " CAST(2 * e_k * 1000000 DIV (n_k * (n_k - 1)) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END"))
        .orderBy("k")
    },

    // Edge TRIANGLE-SUPPORT histogram (the k-truss statistic: an edge's
    // support = triangles through it; the (s+2)-truss keeps edges with
    // support ≥ s, the densest-core peeling between q152's k-core —
    // node-degree based — and raw triangles, q263). Support per edge
    // from the SAME a<b<c closure joins as q263, counted per
    // participating edge; histogram over the bounded support grid with
    // the zero row explicit.
    "q300_truss_support" -> { (s, d) =>
      val e = copurchaseEdges(s, d)
      val tri = e.join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(e.select(col("a"), col("b").as("c"), lit(1).as("m3")), Seq("a", "c"))
        .select(col("a"), col("b"), col("c"))
      // each triangle supports its three edges
      val sup = tri.select(col("a"), col("b"))
        .unionByName(tri.select(col("a"), col("c").as("b")))
        .unionByName(tri.select(col("b").as("a"), col("c").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      val all = e.join(sup, Seq("a", "b"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
      all.groupBy("support").agg(count(lit(1)).as("n_edges"))
        .select(col("support").cast("long").as("support"),
          col("n_edges").cast("long").as("n_edges"))
        .orderBy("support")
    },

    // DEGREE ASSORTATIVITY of the co-purchase graph — do hubs link to
    // hubs (r > 0, social-network shape) or to leaves (r < 0,
    // hub-and-spoke catalog shape)? Pearson r of (deg(u), deg(v)) over
    // directed edge ends (both directions, the standard symmetrization).
    // Base sums exact BIGINTs on the edge list; r is the ONE mirrored
    // IEEE assembly (the q207/q272 rule), zero-variance guarded to 0.
    // Degree-OCTAVE census + decay ratio — the scale-free read of the
    // co-purchase graph without a floating log: nodes bucket by the
    // power-of-two octave of their degree (the q222 posting-bucket
    // pattern), and the consecutive-octave count ratio in ppm is the
    // tail-decay diagnostic (a roughly constant ratio ≈ 2^(1−γ)·10⁶ is
    // the power-law signature; a cliff marks a degree cap or a
    // truncated crawl). Hub planning reads straight off the top
    // octaves — which is what decides q315/q454-style salting and the
    // q58 bloom sizing for graph joins. Scale: one degree agg over the
    // shared edge set, a 32-row broadcast range join, and octave-grid
    // algebra; never corpus².
    "q484_degree_octaves" -> { (s, d) =>
      val deg = adjacency(s, d).groupBy("v").agg(count(lit(1)).as("dg"))
      val pw = s.range(0, 32).select(col("id").cast("long").as("o"),
        expr("shiftleft(1L, CAST(id AS INT))").as("lo"))
      val b = deg.join(broadcast(pw),
          col("dg") >= col("lo") && col("dg") < col("lo") * 2)
        .groupBy("o", "lo")
        .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("sum_degree"))
      b.join(broadcast(b.select((col("o") - 1).as("o"),
          col("n_nodes").as("n_next"))), Seq("o"), "left")
        .select(col("o").cast("long").as("octave"),
          col("lo").cast("long").as("degree_lo"),
          col("n_nodes").cast("long").as("n_nodes"),
          col("sum_degree").cast("long").as("sum_degree"),
          expr("CAST(COALESCE(n_next, 0) * 1000000 DIV n_nodes AS BIGINT)")
            .as("decay_ppm"))
        .orderBy("octave")
    },

    "q288_degree_assortativity" -> { (s, d) =>
      val und = adjacency(s, d)
      val deg = und.groupBy("v").agg(count(lit(1)).as("dg"))
      val pairs = und
        .join(deg, "v")
        .join(deg.select(col("v").as("n"), col("dg").as("dn")), "n")
        .select(col("dg").as("x"), col("dn").as("y"))
      pairs.agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"))
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_vertices"))))
        .select(col("n_vertices").cast("long").as("n_vertices"),
          expr("CAST(np DIV 2 AS BIGINT)").as("n_edges"),
          col("np").cast("long").as("n_pairs"),
          col("sxy").cast("long").as("sxy"),
          expr("CASE WHEN np * sxx - sx * sx <= 0 OR np * syy - sy * sy <= 0" +
            " THEN CAST(0 AS DOUBLE) ELSE" +
            " (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) -" +
            " CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /" +
            " SQRT((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) -" +
            " CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *" +
            " (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) -" +
            " CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END").as("r_assort"))
    },
    // Damped (0.85) random walk on the undirected bipartite graph
    // customer(2k) ↔ supplier(2k+1), edges = distinct trading pairs
    // from lineitem⨝orders. pr' = 0.15·R/N + 0.85·Σ_in pr(u)/deg(u),
    // every division a floor. Output: top-20 nodes by final rank.
    "q90_bipartite_pagerank" -> { (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // truncate the edge lineage ONCE (q65's pattern) so the DAG does
      // not re-derive the lineitem⨝orders distinct for the degree pass
      // and every superstep's join; the truncation itself is LAZY, but
      // note that the superstep materialization below (Caches.shared)
      // DOES run Spark jobs at DataFrame-construction time — builders
      // of this query pay supersteps 1–2 up front (bounded, node-sized
      // work) and must release the registered caches via Caches.clear
      // (graft.Harness.Loop and PlanSpec's fleet tests both do).
      // Mechanism conf-gated via spark.graft.checkpointDir (reliable
      // on clusters, local here).
      // ONE explicit hash exchange on the join key, shared by all three
      // supersteps: each superstep joins `edges` on `a`, and identical
      // exchange subtrees are deduplicated (ReuseExchange), so the edge
      // list is shuffled once per run instead of once per superstep.
      // The rank vector side then rides the partitioning its own
      // groupBy/join outputs already carry (node ≡ a's hash space).
      val edges = Checkpoints.truncate(
        pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b"))),
        eager = false)
        .repartition(col("a"))
      val deg = edges.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
      val nRow = deg.agg(count(lit(1)).as("n_nodes"))
      var pr = deg.crossJoin(broadcast(nRow))
        .select(col("node"), col("deg"), col("n_nodes"),
          expr(s"CAST($R DIV n_nodes AS BIGINT)").as("pr"))
      for (i <- 1 to 3) {
        val contrib = pr
          .withColumn("share", expr("CAST(pr DIV deg AS BIGINT)"))
          .join(edges, col("node") === col("a"))
          .groupBy(col("b").as("dst"))
          .agg(sum(col("share")).as("inflow"))
        val next = pr.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"), col("deg"), col("n_nodes"),
            expr("CAST(CAST(150000000 DIV n_nodes AS BIGINT) + " +
              "CAST(85 * coalesce(inflow, 0) DIV 100 AS BIGINT) AS BIGINT)")
              .as("pr"))
        // each superstep consumes pr TWICE (contrib join + rank join),
        // so an unrolled lazy loop doubles the pr lineage per level —
        // 2³ plan copies by superstep 3, deduped only where AQE's
        // ReuseExchange happens to catch identical subtrees. Eagerly
        // materializing each intermediate rank vector (node-count-sized,
        // the PageRank state every engine carries) makes the work
        // per-superstep linear by construction; the harness unpersists
        // via Caches after the query lands. The final superstep is
        // consumed once, so it stays lazy.
        pr = if (i < 3) Caches.shared(next) else next
      }
      pr.orderBy(col("pr").desc, col("node"))
        .limit(20)
        .select(col("node").cast("long").as("node"),
          (col("node") % 2 === 1).as("is_supplier"),
          col("deg").cast("long").as("deg"),
          col("pr").cast("long").as("pr_ppb"))
    },

    // HITS hubs-and-authorities, two UNROLLED supersteps on the
    // customer → part purchase bipartite graph (Kleinberg 1999): the
    // OTHER eigenvector centrality next to q90's PageRank — no
    // damping, no division, mutual reinforcement only, so every score
    // is an EXACT integer path count: a₁(p) = buyer count, h₁(c) =
    // Σ a₁ over c's parts, a₂(p) = Σ h₁ over p's buyers = #(c→p'→c'→p)
    // 3-paths ending at p. Top-10 authorities by (a₂, part). Magnitude:
    // a₂ ≤ deg·max(h₁) ≈ 10¹⁴ at sf1 — int64 holds through sf10; the
    // declared headroom rule. Scale: each superstep is one edge-join +
    // map-combined agg on the key it groups by — the Pregel shape; the
    // edge list derives once (distinct (cust, part)) and is cached.
    "q335_hits" -> { (s, d) =>
      val e = Caches.shared(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct())
      val a1 = e.groupBy("p").agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, "p").groupBy("c").agg(sum(col("a1")).as("h1"))
      val a2 = e.join(h1, "c").groupBy("p").agg(sum(col("h1")).as("a2"))
      a1.join(a2, "p")
        .orderBy(col("a2").desc, col("p"))
        .limit(10)
        .select(col("p").cast("long").as("part"),
          col("a1").cast("long").as("auth1"),
          col("a2").cast("long").as("auth2"))
    },

    // LINK PREDICTION over the co-purchase graph — common-neighbors +
    // resource-allocation index (Zhou/Lü/Zhang 2009), the two classical
    // local scores: for every NON-adjacent pair (x, y) sharing ≥1
    // neighbor, cn = |Γx ∩ Γy| and ra_ppm = Σ_z 10⁶ DIV deg(z) over the
    // common neighbors z (RA discounts hub brokers — a shared rare part
    // predicts a future co-purchase far better than a shared bestseller;
    // floor-ppm keeps it engine-exact where 1/deg floats would not be).
    // Top-20 by (ra_ppm desc, cn desc, x, y) — the "recommend next
    // bundle" table. Scale: candidates come from the wedge join
    // (Σ deg(z)² — q115's triangle-census cost, bounded by the basket
    // cap + support pruning in copurchaseEdges), the existing-edge
    // anti-join is on the same (a, b) key, and the top-20 is a
    // TakeOrdered, never a global sort.
    "q419_link_prediction" -> { (s, d) =>
      // adjacency is a narrow union VIEW over the pinned edge list (round
      // 11) — a second eager shared persist here double-materialized
      // the same rows (measured on q428 at sf1); per-use recompute is a
      // cache scan + projection, cheaper than the extra persist pass
      val adj = adjacency(s, d)
      val deg = adj.groupBy("v").agg(count(lit(1)).as("deg"))
      val wedges = adj.as("l").join(adj.as("r"),
          col("l.v") === col("r.v") && col("l.n") < col("r.n"))
        .select(col("l.n").as("x"), col("r.n").as("y"), col("l.v").as("z"))
      val scored = wedges.join(deg.select(col("v").as("z"),
          col("deg").as("dz")), "z")
        .groupBy("x", "y")
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 DIV dz")).as("ra_ppm"))
      val edges = adj.filter(col("v") < col("n"))
        .select(col("v").as("x"), col("n").as("y"))
      scored.join(edges, Seq("x", "y"), "left_anti")
        .orderBy(col("ra_ppm").desc, col("cn").desc, col("x"), col("y"))
        .limit(20)
        .select(col("x").cast("long").as("x"), col("y").cast("long").as("y"),
          col("cn").cast("long").as("cn"),
          col("ra_ppm").cast("long").as("ra_ppm"))
    },

    // PERSONALIZED PageRank from a brand seed set — "what does Brand#1's
    // neighborhood buy?" (q90 is the GLOBAL bipartite walk; PPR
    // restarts at the seeds, so mass measures proximity TO THE BRAND,
    // the related-products/taste-propagation primitive): teleport
    // vector = R DIV |seeds| on Brand#1's in-graph parts, two unrolled
    // supersteps of r' = (R−D)·t + D·Σ_{u→v} (r(u) DIV deg(u)), all
    // ppb fixed-point floor arithmetic (D = 0.85R) — deterministic,
    // partitioning-independent, engine-exact like q90. Top-15 by
    // (ppr desc, node) with seed flag and degree. Magnitude:
    // D·Σcontrib ≤ 0.85·10⁹·10⁹ < 2⁶³. Scale: per superstep one
    // rank⋈edge join + map-combined agg on the destination (the Pregel
    // shape); teleport/seed-count are one-row broadcasts.
    "q421_personalized_pagerank" -> { (s, d) =>
      // adjacency is a narrow union VIEW over the pinned edge list (round
      // 11) — a second eager shared persist here double-materialized
      // the same rows (measured on q428 at sf1); per-use recompute is a
      // cache scan + projection, cheaper than the extra persist pass
      val adj = adjacency(s, d)
      val deg = adj.groupBy("v").agg(count(lit(1)).as("deg"))
      val seeds = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("v"), lit(1L).as("is_seed"))
      val nodes = Caches.shared(deg.join(seeds, Seq("v"), "left")
        .select(col("v"), col("deg"),
          coalesce(col("is_seed"), lit(0L)).as("is_seed")))
      val ns = nodes.agg(sum(col("is_seed")).as("n_seeds"))
      val t = nodes.crossJoin(broadcast(ns))
        .select(col("v"), col("deg"), col("is_seed"),
          when(col("is_seed") === 1L, expr("1000000000L DIV n_seeds"))
            .otherwise(0L).as("tele"))
      def step(r: DataFrame): DataFrame = {
        val contrib = adj.join(r.select(col("v"), col("r"), col("deg")), "v")
          .groupBy(col("n").as("v"))
          .agg(sum(expr("r DIV deg")).as("inflow"))
        Caches.shared(t.join(contrib, Seq("v"), "left")
          .select(col("v"), col("deg"), col("is_seed"), col("tele"),
            (expr("150000000L * tele DIV 1000000000L") +
              expr("850000000L * coalesce(inflow, 0L) DIV 1000000000L"))
              .as("r")))
      }
      val r0 = t.withColumn("r", col("tele"))
      val r2 = step(step(r0))
      r2.orderBy(col("r").desc, col("v"))
        .limit(15)
        .select(col("v").cast("long").as("node"),
          (col("is_seed") === 1L).as("is_seed"),
          col("deg").cast("long").as("deg"),
          col("r").cast("long").as("ppr_ppb"))
    },

    // Multi-source BFS REACHABILITY census — hop distance from the
    // Brand#1 seed set, 3 unrolled frontier expansions (the q421
    // teleport walk weights proximity; this measures it in HOPS — the
    // "how many recommendation steps reach the catalog" coverage
    // number, and the hop histogram is the standard small-world
    // diagnostic). Frontier algebra is pure relational Pregel: next =
    // distinct neighbors of the frontier ANTI-JOINed against everything
    // already labeled — each round one adjacency join + one distinct +
    // one anti-join, all on the vertex key; no per-node state beyond
    // the (node, hop) label frame. Per hop (plus the 'unreached'
    // remainder): node count, summed degree, and the floor-ppm share
    // of graph nodes — monotone frontier laws spec-proven. Scale: 3
    // bounded supersteps; the label frame carries (node, hop) only.
    "q428_seed_bfs" -> { (s, d) =>
      // unlike q419/q421 (which read the adjacency view 1–2 times and
      // measured faster recomputing it from the pinned edge cache), the
      // BFS reads adj in all three supersteps plus the degree pass —
      // four consumers tip the balance back to one eager materialization
      // (same-host A/B: ~12.9 s lean vs ~11.6 s shared at sf0.1)
      val adj = Caches.shared(adjacency(s, d))
      val nodes = Caches.shared(adj.groupBy("v")
        .agg(count(lit(1)).as("deg")))
      // Round-12 frontier algebra (guide §2.4/§3.1): persist per-hop
      // FRONTIERS instead of the cumulative union — the old expand
      // re-persisted the whole labeled frame per hop and its
      // filter(hop = h−1) + anti-join both re-shuffled node-sized
      // frames. Frontiers are ≤ reachable-node-sized (the same bound
      // the old labeled frame carried); the frontier probe and the
      // seen-set anti-join sides broadcast, so each hop is ONE
      // neighbor-distinct exchange over the cached adjacency. The
      // labeled frame the census reads is a lazy union of the cached
      // frontiers — row-identical to the old accumulation (frontier
      // monotone laws spec-proven, GraphStructureSpec).
      val f0 = Caches.shared(nodes.join(
        Tables.part(s, d).filter(col("p_brand") === "Brand#1")
          .select(col("p_partkey").as("v")), "v")
        .select(col("v"), lit(0L).as("hop")))
      var frontiers = List(f0)
      for (hop <- 1 to 3) {
        val prev = frontiers.head
        val seen = frontiers.map(_.select("v")).reduce(_ unionByName _)
        val next = Caches.shared(
          adj.join(broadcast(prev.select("v")), "v")
            .select(col("n").as("v")).distinct()
            .join(broadcast(seen), Seq("v"), "left_anti")
            .select(col("v"), lit(hop.toLong).as("hop")))
        frontiers = next :: frontiers
      }
      val labeled = frontiers.reverse.reduce(_ unionByName _)
      val full = nodes.join(labeled, Seq("v"), "left")
        .withColumn("hop", coalesce(col("hop"), lit(-1L)))
      val nAll = nodes.agg(count(lit(1)).as("n_nodes_total"))
      full.groupBy("hop")
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(col("deg")).cast("long").as("sum_deg"))
        .crossJoin(broadcast(nAll))
        .select(col("hop").cast("long").as("hop"), col("n_nodes"),
          col("sum_deg"),
          expr("CAST(n_nodes * 1000000 DIV n_nodes_total AS BIGINT)")
            .as("share_ppm"))
        .orderBy("hop")
    }
  )

  def oracle: Map[String, String] = Map(
    "q298_brand_modularity" -> (EdgesSql +
      """,
        |eb AS (
        |  SELECT e.a, e.b, pa.p_brand AS ba, pb.p_brand AS bb
        |  FROM edges e JOIN part pa ON pa.p_partkey = e.a
        |  JOIN part pb ON pb.p_partkey = e.b),
        |m AS (SELECT COUNT(*) AS m FROM eb),
        |win AS (SELECT ba AS c, COUNT(*) AS ec FROM eb
        |        WHERE ba = bb GROUP BY 1),
        |degc AS (
        |  SELECT p.p_brand AS c, COUNT(*) AS dc
        |  FROM adj JOIN part p ON p.p_partkey = adj.v GROUP BY 1),
        |terms AS (
        |  SELECT degc.c, COALESCE(win.ec, 0) AS ec, degc.dc,
        |    4 * CAST(m.m AS HUGEINT) * COALESCE(win.ec, 0)
        |      - CAST(degc.dc AS HUGEINT) * degc.dc AS tnum
        |  FROM degc LEFT JOIN win ON win.c = degc.c CROSS JOIN m)
        |SELECT CAST(m.m AS BIGINT) AS n_edges,
        |  CAST(COUNT(*) AS BIGINT) AS n_communities,
        |  CAST(SUM(ec) AS BIGINT) AS within_edges,
        |  CAST(SUM(tnum) AS BIGINT) AS q_num,
        |  CAST(SUM(tnum) AS DOUBLE) /
        |    (4 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)) AS modularity
        |FROM terms CROSS JOIN m GROUP BY m.m""".stripMargin),

    "q299_rich_club" -> (EdgesSql +
      """,
        |deg AS (SELECT v, COUNT(*) AS dg FROM adj GROUP BY 1),
        |ks AS (SELECT CAST(1 << CAST(i.i AS INT) AS BIGINT) AS k
        |       FROM UNNEST(generate_series(1, 4)) i(i)),
        |club AS (SELECT ks.k, deg.v FROM deg CROSS JOIN ks WHERE deg.dg > ks.k),
        |nk AS (SELECT k, COUNT(*) AS n_k FROM club GROUP BY 1),
        |ek AS (
        |  SELECT ca.k, COUNT(*) AS e_k
        |  FROM edges e JOIN club ca ON ca.v = e.a
        |  JOIN club cb ON cb.v = e.b AND cb.k = ca.k
        |  GROUP BY 1)
        |SELECT ks.k, CAST(COALESCE(nk.n_k, 0) AS BIGINT) AS n_k,
        |  CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
        |  CASE WHEN COALESCE(nk.n_k, 0) >= 2 THEN
        |    CAST(2 * COALESCE(ek.e_k, 0) * 1000000
        |      // (nk.n_k * (nk.n_k - 1)) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS phi_ppm
        |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
        |ORDER BY ks.k""".stripMargin),

    "q300_truss_support" -> (EdgesSql +
      """,
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |sup AS (
        |  SELECT a, b, COUNT(*) AS support FROM (
        |    SELECT a, b FROM tri
        |    UNION ALL SELECT a, c AS b FROM tri
        |    UNION ALL SELECT b AS a, c AS b FROM tri)
        |  GROUP BY 1, 2)
        |SELECT CAST(COALESCE(sup.support, 0) AS BIGINT) AS support,
        |  CAST(COUNT(*) AS BIGINT) AS n_edges
        |FROM edges e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q286_label_propagation" -> (EdgesSql +
      """,
        |nb AS (
        |  SELECT adj.v, p.p_brand AS nl, COUNT(*) AS c
        |  FROM adj JOIN part p ON p.p_partkey = adj.n GROUP BY 1, 2),
        |mx AS (SELECT v, MAX(c) AS mc FROM nb GROUP BY 1),
        |newl AS (
        |  SELECT nb.v, MIN(nb.nl) AS new_label
        |  FROM nb JOIN mx ON mx.v = nb.v AND nb.c = mx.mc GROUP BY 1),
        |ob AS (
        |  SELECT DISTINCT adj.v, p.p_brand AS old_label
        |  FROM adj JOIN part p ON p.p_partkey = adj.v)
        |SELECT ob.old_label, newl.new_label,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM ob JOIN newl USING (v)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q287_wl_signatures" -> (EdgesSql +
      """,
        |ns AS (
        |  SELECT adj.v, string_agg(p.p_brand, ',' ORDER BY p.p_brand) AS ns
        |  FROM adj JOIN part p ON p.p_partkey = adj.n GROUP BY 1),
        |sigs AS (
        |  SELECT ns.v, md5(p.p_brand || '|' || ns.ns) AS sig
        |  FROM ns JOIN part p ON p.p_partkey = ns.v),
        |classes AS (SELECT sig, COUNT(*) AS n_nodes FROM sigs GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_classes, SUM(n_nodes) AS n_vertices
        |        FROM classes)
        |SELECT sig, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(tot.n_classes AS BIGINT) AS n_classes,
        |  CAST(tot.n_vertices AS BIGINT) AS n_vertices
        |FROM classes CROSS JOIN tot
        |ORDER BY n_nodes DESC, sig LIMIT 10""".stripMargin),

    "q484_degree_octaves" -> (EdgesSql +
      """,
        |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
        |pw AS (SELECT CAST(g.i AS BIGINT) AS o,
        |    CAST(1::BIGINT << g.i AS BIGINT) AS lo
        |  FROM UNNEST(generate_series(0, 31)) g(i)),
        |b AS (
        |  SELECT pw.o, pw.lo, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(deg.dg) AS BIGINT) AS sum_degree
        |  FROM deg JOIN pw ON deg.dg >= pw.lo AND deg.dg < pw.lo * 2
        |  GROUP BY 1, 2)
        |SELECT b.o AS octave, b.lo AS degree_lo, b.n_nodes, b.sum_degree,
        |  CAST(COALESCE(nx.n_nodes, 0) * 1000000 // b.n_nodes AS BIGINT)
        |    AS decay_ppm
        |FROM b LEFT JOIN b nx ON nx.o = b.o + 1
        |ORDER BY octave""".stripMargin),

    "q288_degree_assortativity" -> (EdgesSql +
      """,
        |deg AS (SELECT v, COUNT(*) AS dg FROM adj GROUP BY 1),
        |pairs AS (
        |  SELECT d1.dg AS x, d2.dg AS y
        |  FROM adj JOIN deg d1 ON d1.v = adj.v JOIN deg d2 ON d2.v = adj.n),
        |a AS (SELECT COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM pairs),
        |nv AS (SELECT COUNT(*) AS n_vertices FROM deg)
        |SELECT CAST(nv.n_vertices AS BIGINT) AS n_vertices,
        |  CAST(a.np // 2 AS BIGINT) AS n_edges,
        |  CAST(a.np AS BIGINT) AS n_pairs,
        |  CAST(a.sxy AS BIGINT) AS sxy,
        |  CASE WHEN a.np * a.sxx - a.sx * a.sx <= 0
        |      OR a.np * a.syy - a.sy * a.sy <= 0
        |    THEN CAST(0 AS DOUBLE) ELSE
        |    (CAST(a.np AS DOUBLE) * CAST(a.sxy AS DOUBLE) -
        |     CAST(a.sx AS DOUBLE) * CAST(a.sy AS DOUBLE)) /
        |    SQRT((CAST(a.np AS DOUBLE) * CAST(a.sxx AS DOUBLE) -
        |     CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)) *
        |    (CAST(a.np AS DOUBLE) * CAST(a.syy AS DOUBLE) -
        |     CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE))) END AS r_assort
        |FROM a CROSS JOIN nv""".stripMargin),

    "q90_bipartite_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |pr0 AS (
        |  SELECT node, deg, n_nodes,
        |    CAST(1000000000 // n_nodes AS BIGINT) AS pr
        |  FROM deg CROSS JOIN n),
        |it1 AS (
        |  SELECT p.node, p.deg, p.n_nodes,
        |    CAST(CAST(150000000 // p.n_nodes AS BIGINT) +
        |         CAST(85 * COALESCE(c.inflow, 0) // 100 AS BIGINT)
        |         AS BIGINT) AS pr
        |  FROM pr0 p LEFT JOIN (
        |    SELECT e.b AS dst, SUM(CAST(q.pr // q.deg AS BIGINT)) AS inflow
        |    FROM pr0 q JOIN edges e ON q.node = e.a GROUP BY e.b
        |  ) c ON p.node = c.dst),
        |it2 AS (
        |  SELECT p.node, p.deg, p.n_nodes,
        |    CAST(CAST(150000000 // p.n_nodes AS BIGINT) +
        |         CAST(85 * COALESCE(c.inflow, 0) // 100 AS BIGINT)
        |         AS BIGINT) AS pr
        |  FROM it1 p LEFT JOIN (
        |    SELECT e.b AS dst, SUM(CAST(q.pr // q.deg AS BIGINT)) AS inflow
        |    FROM it1 q JOIN edges e ON q.node = e.a GROUP BY e.b
        |  ) c ON p.node = c.dst),
        |it3 AS (
        |  SELECT p.node, p.deg, p.n_nodes,
        |    CAST(CAST(150000000 // p.n_nodes AS BIGINT) +
        |         CAST(85 * COALESCE(c.inflow, 0) // 100 AS BIGINT)
        |         AS BIGINT) AS pr
        |  FROM it2 p LEFT JOIN (
        |    SELECT e.b AS dst, SUM(CAST(q.pr // q.deg AS BIGINT)) AS inflow
        |    FROM it2 q JOIN edges e ON q.node = e.a GROUP BY e.b
        |  ) c ON p.node = c.dst)
        |SELECT CAST(node AS BIGINT) AS node, node % 2 = 1 AS is_supplier,
        |  CAST(deg AS BIGINT) AS deg, CAST(pr AS BIGINT) AS pr_ppb
        |FROM it3 ORDER BY pr DESC, node LIMIT 20""".stripMargin,

    "q335_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM e GROUP BY 1),
        |h1 AS (SELECT e.c, SUM(a1.a1) AS h1
        |       FROM e JOIN a1 USING (p) GROUP BY 1),
        |a2 AS (SELECT e.p, SUM(h1.h1) AS a2
        |       FROM e JOIN h1 USING (c) GROUP BY 1)
        |SELECT CAST(a1.p AS BIGINT) AS part, a1.a1 AS auth1,
        |  CAST(a2.a2 AS BIGINT) AS auth2
        |FROM a1 JOIN a2 USING (p)
        |ORDER BY a2.a2 DESC, a1.p LIMIT 10""".stripMargin,

    "q419_link_prediction" -> (EdgesSql +
      """,
        |deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY 1),
        |wedges AS (
        |  SELECT l.n AS x, r.n AS y, l.v AS z
        |  FROM adj l JOIN adj r ON l.v = r.v AND l.n < r.n),
        |scored AS (
        |  SELECT w.x, w.y, CAST(COUNT(*) AS BIGINT) AS cn,
        |    CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_ppm
        |  FROM wedges w JOIN deg d ON d.v = w.z GROUP BY 1, 2),
        |pred AS (
        |  SELECT s.x, s.y, s.cn, s.ra_ppm FROM scored s
        |  LEFT JOIN edges e ON e.a = s.x AND e.b = s.y
        |  WHERE e.a IS NULL)
        |SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, cn, ra_ppm
        |FROM pred ORDER BY ra_ppm DESC, cn DESC, x, y LIMIT 20""".stripMargin),

    "q421_personalized_pagerank" -> (EdgesSql +
      """,
        |deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY 1),
        |nodes AS (
        |  SELECT d.v, d.deg,
        |    CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        |  FROM deg d LEFT JOIN part p
        |    ON p.p_partkey = d.v AND p.p_brand = 'Brand#1'),
        |ns AS (SELECT SUM(is_seed) AS n_seeds FROM nodes),
        |t AS (SELECT v, deg, is_seed,
        |    CASE WHEN is_seed = 1 THEN 1000000000 // ns.n_seeds ELSE 0 END
        |      AS tele
        |  FROM nodes CROSS JOIN ns),
        |r0 AS (SELECT v, deg, is_seed, tele, tele AS r FROM t),
        |c1 AS (SELECT a.n AS v, SUM(r0.r // r0.deg) AS inflow
        |  FROM adj a JOIN r0 ON r0.v = a.v GROUP BY 1),
        |r1 AS (SELECT t.v, t.deg, t.is_seed, t.tele,
        |    150000000 * t.tele // 1000000000
        |      + 850000000 * COALESCE(c1.inflow, 0) // 1000000000 AS r
        |  FROM t LEFT JOIN c1 ON c1.v = t.v),
        |c2 AS (SELECT a.n AS v, SUM(r1.r // r1.deg) AS inflow
        |  FROM adj a JOIN r1 ON r1.v = a.v GROUP BY 1),
        |r2 AS (SELECT t.v, t.deg, t.is_seed, t.tele,
        |    150000000 * t.tele // 1000000000
        |      + 850000000 * COALESCE(c2.inflow, 0) // 1000000000 AS r
        |  FROM t LEFT JOIN c2 ON c2.v = t.v)
        |SELECT CAST(v AS BIGINT) AS node, is_seed = 1 AS is_seed,
        |  CAST(deg AS BIGINT) AS deg, CAST(r AS BIGINT) AS ppr_ppb
        |FROM r2 ORDER BY r DESC, v LIMIT 15""".stripMargin),

    "q428_seed_bfs" -> (EdgesSql +
      """,
        |nodes AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY 1),
        |h0 AS (SELECT n.v FROM nodes n JOIN part p ON p.p_partkey = n.v
        |       WHERE p.p_brand = 'Brand#1'),
        |h1 AS (
        |  SELECT DISTINCT a.n AS v FROM adj a JOIN h0 ON a.v = h0.v
        |  WHERE a.n NOT IN (SELECT v FROM h0)),
        |h2 AS (
        |  SELECT DISTINCT a.n AS v FROM adj a JOIN h1 ON a.v = h1.v
        |  WHERE a.n NOT IN (SELECT v FROM h0 UNION ALL SELECT v FROM h1)),
        |h3 AS (
        |  SELECT DISTINCT a.n AS v FROM adj a JOIN h2 ON a.v = h2.v
        |  WHERE a.n NOT IN (SELECT v FROM h0 UNION ALL SELECT v FROM h1
        |                    UNION ALL SELECT v FROM h2)),
        |lab AS (
        |  SELECT v, 0 AS hop FROM h0
        |  UNION ALL SELECT v, 1 FROM h1
        |  UNION ALL SELECT v, 2 FROM h2
        |  UNION ALL SELECT v, 3 FROM h3),
        |fl AS (
        |  SELECT n.v, n.deg, COALESCE(l.hop, -1) AS hop
        |  FROM nodes n LEFT JOIN lab l USING (v)),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM nodes)
        |SELECT CAST(hop AS BIGINT) AS hop,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(deg) AS BIGINT) AS sum_deg,
        |  CAST(COUNT(*) * 1000000 // na.nt AS BIGINT) AS share_ppm
        |FROM fl CROSS JOIN na GROUP BY hop, na.nt ORDER BY hop""".stripMargin)
  )
}
