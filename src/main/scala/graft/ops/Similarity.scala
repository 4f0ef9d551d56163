package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.vec_cosine
import graft.model.Tables
import graft.ops.Caches

/** Similarity search over the `embeddings` table (64-dim float vectors,
  * unit-normalized upstream but norms are still computed defensively).
  *
  *   - q28: brute-force cosine top-k — the exactness baseline. The query
  *     set is explicitly BOUNDED (deterministic order + LIMIT) before the
  *     broadcast, so the broadcast side stays O(MaxQueries) no matter how
  *     large the corpus grows — broadcasting an unbounded *fraction* of a
  *     fact table is a linear-in-data driver/executor OOM at 100 TB. The
  *     corpus side streams: one scan + per-row loop, no corpus shuffle.
  *   - q29: random-hyperplane LSH ANN — the scale path. Plane weights are
  *     a pure-integer formula and the per-plane dots accumulate in exact
  *     INTEGER arithmetic over quantized components (floor(x·10⁶)), so the
  *     sign buckets are bit-reproducible in any engine — the whole
  *     pipeline is oracle-checked end-to-end, like q42.
  *   - q42: IVF ANN — deterministic coarse quantizer, bounded centroid
  *     set; the query→candidate join is a plain equi-join on the cell id
  *     (no broadcast of a corpus-derived side), so both sides shuffle on
  *     `cell` and AQE sizes the join at runtime.
  *
  * Determinism: cosines are rounded to 6 decimals and every ordering uses
  * (rounded value, id) keys, so the ≤1-ulp difference between Spark's
  * left-fold `aggregate` and DuckDB's list_dot_product vanishes.
  */
object Similarity {

  /** Hard bound on broadcastable query-set size: the PlanSpec audit
    * asserts every broadcast in these plans sits under an explicit limit.
    * 64/256 keep all current scale factors' query/centroid sets intact
    * (sf0.1 has 20 query vectors, 40 centroids) while capping the
    * broadcast at a constant independent of corpus size. */
  val MaxQueries = 64
  val MaxCentroids = 256
  /** Bound on the exact pairwise sweep (q41): MaxSweep² kernel calls.
    * 4096 covers every current SF's full corpus (sf0.1 has 2000 vectors)
    * while keeping the declared query bounded at any data size. */
  val MaxSweep = 4096
  /** q317 SemDeDup cosine threshold: a pair at or above this within a
    * cell is a semantic duplicate and the larger vec_id is pruned. */
  val SemTau = 0.4
  /** q319 MMR candidate-pool bound: the TakeOrdered relevance prefilter
    * that keeps the pairwise sim matrix at MmrCandidates² regardless of
    * corpus size (the standard MMR deployment reranks a retriever's
    * top-N, never the corpus). */
  val MmrCandidates = 32

  /** Cast a float array to double and compute the sequential dot product. */
  def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")

  def norm(a: String): Column =
    sqrt(expr(s"aggregate($a, 0D, (acc, v) -> acc + v * v)"))

  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", norm("v"))

  /** Nearest-centroid cell assignment shared by q42 (IVF probe), q83
    * (Lloyd update) and q117 (purity audit): deterministically sampled,
    * LIMIT-bounded centroid set (the only broadcast), every vector
    * assigned to its max-cosine cell with cent_id tie-break. `label`
    * rides along (q42/q83 ignore it) so q117 needs no second embeddings
    * scan + vec_id join — and so the frame matches CellAssignSql's
    * `cells` CTE column-for-column. Returns (assignments, centroids). */
  private def assignedCells(s: SparkSession, d: String): (DataFrame, DataFrame) =
    // MEMOIZED per (session, dir) and PINNED (re-landed round 12 behind
    // the full gate — round-11 VERDICT #1): the q42/q83/q117/q180/q279
    // family re-derives this identical |vecs|×|cents| assignment, and
    // per-query Caches.clear() made each consumer rebuild it. `assigned`
    // is linear in vectors, `cents` LIMIT-bounded; residency is bounded
    // by the harness loop's 100-query window (graft.Harness.Loop).
    Caches.family(s, d, "assignedCells") {
      val e = vecs(s, d)
      val cents = Caches.pinned(e.filter(col("vec_id") % 50 === 0)
        .orderBy("vec_id").limit(MaxCentroids)
        .select(col("vec_id").as("cent_id"), col("v").as("cv")))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cent_id"))
      val assigned = Caches.pinned(e.crossJoin(broadcast(cents))
        .withColumn("ccos", round(vec_cosine(col("v"), col("cv")), 6))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("v"), col("cent_id").as("cell")))
      (assigned, cents)
    }

  /** One max-cosine assignment pass of every vector in `e` to `cents`
    * ((cent_id, cv) frame, expected bounded/broadcastable) — the
    * assignedCells kernel factored out so the Lloyd iterations and the
    * refined-quantizer probes reuse ONE definition of the tie-break and
    * rounding conventions. */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", round(vec_cosine(col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("cent_id").as("cell"))
  }

  /** Driver-paced 3-iteration Lloyd refinement of the q42/q83 coarse
    * quantizer (round-7 VERDICT "Next round #6": one seed-sampled Lloyd
    * step is a weak quantizer; three exact iterations materially tighten
    * the cells, and q417/q418 MEASURE what that buys in recall).
    *
    * Each iteration: assign every vector to its max-cosine current
    * centroid (the assignedCells kernel), then recompute each cell's
    * centroid as the fixed-point mean (floor(x·10⁶+0.5) longs summed
    * exactly, divided as DOUBLE — the q83 kernel), so every iteration's
    * centroid ARRAYS are bit-identical cross-engine and the whole ladder
    * is DuckDB-oracle-checkable (the SQL mirror unrolls the same three
    * iterations; lloydIterSql is the one-definition twin). Cells that
    * lose all members simply drop out of the next round (both engines
    * replay the same convention).
    *
    * Centroids live on the DRIVER between iterations — the MLlib KMeans
    * design, and the ONE place a collect() is the right call: the
    * collected frame is O(k·d) ≤ 256×64 values per iteration (the
    * exact per-(cell,dim) fixed-point sums — bounded by construction,
    * NEVER data-volume); each next iteration's centroid set re-enters
    * the plan as a literal LocalRelation, so the assignment broadcast is
    * trivial and the per-query plan stays shallow (the first cut kept
    * centroids as cached DataFrames and paid ~10 s of driver re-planning
    * across 66 jobs for the same arithmetic). The fleet-scale work —
    * |vecs|×|cents| assignment kernel + the (cell × dim)
    * map-side-combined sum — stays distributed, one job per iteration.
    *
    * Division convention: sq.toDouble / 1000000.0 / n — the same IEEE
    * sequence as the SQL mirror's CAST(x AS DOUBLE) / 1000000 /
    * n_members (exact integers in, one division chain out), so the
    * driver-assembled arrays are bit-identical to an all-engine
    * computation. The convergence STATS (norm, shift cosine) are NOT
    * computed on the driver: they evaluate as Spark expressions over
    * the literal arrays, so the round()/kernel conventions stay
    * one-definition with q83.
    *
    * Returns (cached vector frame, refined centroids as a (cent_id, cv)
    * LocalRelation, per-iteration convergence stats). */
  private def lloyd3(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    // MEMOIZED per (session, dir) and PINNED (re-landed round 12 behind
    // the full gate — round-11 VERDICT #1): q416/q417/q418 each re-ran
    // the full 3-iteration ladder (three |vecs|×|cents| assignment
    // passes + three (cell × dim) collects). The vector frame is linear
    // in vectors, centroids/stats are k·d-bounded literals; harness
    // windows bound residency (see assignedCells).
    Caches.family(s, d, "lloyd3") {
      lloyd3Build(s, d)
    }

  private def lloyd3Build(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val e = Caches.pinned(vecs(s, d))
    var cent: Seq[(Long, Seq[Double])] =
      e.filter(col("vec_id") % 50 === 0)
        .orderBy("vec_id").limit(MaxCentroids)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    var stats = List.empty[DataFrame]
    for (it <- 1 to 3) {
      val cents = cent.toDF("cent_id", "cv")
      val m = assignTo(e, cents)
      // ONE distributed pass: per-(cell,dim) exact fixed-point sums;
      // the member count rides along (each member contributes exactly
      // one row per dim, so count at any dim IS n_members)
      val sums = m.select(col("cell"),
          posexplode(expr("transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
        .groupBy("cell", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      val prev = cent.toMap
      cent = byCell.toSeq.sortBy(_._1).map { case (cell, rows) =>
        val n = rows.head.getLong(3)
        val ncv = rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2).toDouble / 1000000.0 / n.toDouble).toSeq
        (cell, ncv)
      }
      val iterStats = byCell.toSeq.sortBy(_._1).map { case (cell, rows) =>
        (it.toLong, cell, rows.head.getLong(3),
          cent.find(_._1 == cell).get._2, prev(cell))
      }.toDF("iter", "cell", "n_members", "ncv", "pcv")
      stats = stats :+ iterStats.select(col("iter"), col("cell"),
        col("n_members"), round(norm("ncv"), 6).as("new_norm"),
        round(vec_cosine(col("ncv"), col("pcv")), 6).as("shift_cos"))
    }
    (e, cent.toDF("cent_id", "cv"), stats.reduce(_.unionByName(_)))
  }

  /** Deterministic hyperplane weight — pure integer arithmetic so any
    * engine reproduces it: w(i,j) = ((i*7919 + j*104729) mod 2001) - 1000. */
  def planeWeight(plane: Int, dim: Int): Long =
    ((plane * 7919 + dim * 104729) % 2001) - 1000L

  /** Sign-bucket of `numPlanes` hyperplane dots per vector, computed via
    * posexplode + broadcast plane join + groupBy — fully distributed,
    * map-side combinable, any dimension/plane count.
    *
    * The dot products are EXACT 64-bit integers: each component is
    * quantized to floor(x·10⁶) (float→double is exact, ·10⁶ and floor are
    * the same IEEE ops in every engine) and multiplied by the integer
    * plane weight, so the partial-aggregation order cannot perturb the
    * sign — which is what makes the bucket assignment, and therefore the
    * whole ANN output, oracle-checkable in DuckDB. Magnitudes stay small:
    * |xi·w| ≤ 10⁶·10³·64 ≈ 2⁴⁶ per vector. */
  def lshBuckets(vecs: DataFrame, numPlanes: Int, dim: Int,
                 spark: SparkSession): DataFrame = {
    import spark.implicits._
    val planes = broadcast(
      (for (i <- 0 until numPlanes; j <- 0 until dim)
        yield (i, j, planeWeight(i, j))).toDF("plane", "j", "w"))
    vecs.select(col("vec_id"), posexplode(col("v")).as(Seq("j", "x")))
      .withColumn("xi", floor(col("x") * lit(1000000.0)).cast("long"))
      .join(planes, "j")
      .groupBy("vec_id", "plane")
      .agg(sum(col("xi") * col("w")).as("dotp"))
      .groupBy("vec_id")
      .agg(sum(when(col("dotp") > 0,
        expr("shiftleft(1L, plane)")).otherwise(0L)).as("bucket"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-dimension feature-moments audit — the embedding-health gate
    // (dead dimensions, scale drift, range saturation) run before any
    // ANN/clustering pass trusts the geometry. Components are quantized
    // by floor (toward −∞, identical both engines — integer DIV would
    // truncate negatives differently): 10⁻⁶ fixed point for sum/min/max,
    // a coarser 10⁻³ grid for the squared sums so Σq² stays in Int64 to
    // ~3·10¹³ vectors. The variance numerator n·Σq²−(Σq)² is a
    // non-negative integer; the final mean/variance are single-sequence
    // IEEE divisions of exact integers — bit-identical cross-engine.
    // One posexplode + one map-side-combined aggregation on a
    // 64-value key; output is O(dims).
    "q112_embedding_moments" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT)").as("q6"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5D) AS BIGINT)").as("q3"))
        .groupBy("dim")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(col("q6")).cast("long").as("sum_q6"),
          min(col("q6")).cast("long").as("min_q6"),
          max(col("q6")).cast("long").as("max_q6"),
          sum(col("q3") * col("q3")).cast("long").as("ssq3"),
          sum(col("q3")).cast("long").as("s3"))
        .select(col("dim"), col("n_vecs"), col("sum_q6"),
          col("min_q6"), col("max_q6"),
          (col("sum_q6").cast("double") / col("n_vecs") / lit(1000000.0)).as("mean"),
          ((col("n_vecs") * col("ssq3") - col("s3") * col("s3")).cast("double")
            / col("n_vecs") / col("n_vecs")).as("var_m2"))
        .orderBy("dim")
    },

    // Cluster-purity audit: Gini impurity of the label distribution
    // inside each IVF cell (the q42/q83 coarse quantizer) — the
    // unsupervised-vs-label agreement check run before trusting cells as
    // retrieval shards or pseudo-label pools. Gini = 1 − Σp² computed on
    // floor-ppm SHARES, so every intermediate is ≤ 10¹² regardless of
    // corpus size (squaring raw counts would overflow Int64 at ~3·10⁹
    // members). Shares the assignment subtree with q42/q83; one extra
    // (cell,label)-key aggregation + a window over the bounded matrix.
    "q117_cell_label_gini" -> { (s, d) =>
      val (assigned, _) = assignedCells(s, d)
      val wc = Window.partitionBy("cell")
      assigned.select("cell", "label")
        .groupBy("cell", "label").agg(count(lit(1)).as("n_l"))
        .withColumn("n", sum(col("n_l")).over(wc))
        .withColumn("p_ppm", expr("n_l * 1000000 DIV n"))
        .groupBy("cell")
        .agg(max(col("n")).cast("long").as("n_members"),
          countDistinct(col("label")).cast("long").as("n_labels"),
          sum(expr("p_ppm * p_ppm")).as("sum_p2"))
        .select(col("cell"), col("n_members"), col("n_labels"),
          expr("CAST(1000000 - sum_p2 DIV 1000000 AS BIGINT)").as("gini_ppm"))
        .orderBy("cell")
    },

    // ANN baseline: exact brute-force cosine top-5 per query vector.
    "q28_knn_cosine" -> { (s, d) =>
      val e = vecs(s, d)
      val q = e.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      e.select(col("vec_id").as("c_id"), col("v").as("cv"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        // codegen'd kernel; inline norms reproduce qn*cn bit-for-bit
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "rank", "c_id", "cos")
        .orderBy("q_id", "rank")
    },

    // Contrastive-training data prep: HARD-NEGATIVE / HARD-POSITIVE
    // mining — for each (bounded) query vector, the most similar
    // DIFFERENT-label vector (the hard negative a contrastive loss
    // needs) and the least similar SAME-label vector (the hard
    // positive), plus their margin; margin ≤ 0 flags a query whose
    // nearest impostor beats its farthest friend (label noise or a
    // genuinely hard region). Same bounded-broadcast shape as q28: the
    // query set is LIMIT-bounded, the corpus side streams linearly, the
    // two rankings are per-query windows.
    "q85_hard_negatives" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"))
      val scored = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("v").as("cv"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
      val wNeg = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val neg = scored.filter(col("c_label") =!= col("q_label"))
        .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
        .select(col("q_id"), col("q_label").cast("long").as("q_label"),
          col("c_id").as("hard_neg_id"), col("cos").as("neg_cos"))
      val wPos = Window.partitionBy(col("q_id")).orderBy(col("cos").asc, col("c_id"))
      val pos = scored.filter(col("c_label") === col("q_label"))
        .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
        .select(col("q_id"), col("c_id").as("hard_pos_id"), col("cos").as("pos_cos"))
      neg.join(pos, "q_id")
        .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
        .orderBy("q_id")
    },

    // Embedding-cosine near-dup pairs: exact pairwise sweep with a
    // similarity threshold over a BOUNDED audit sample — the exactness
    // verifier for the LSH/IVF paths (which prune the same computation by
    // bucket/cell). Pairwise is O(n²) by nature, so the declared query
    // pins n: MaxSweep vectors in deterministic id order. At today's SFs
    // that is the whole corpus (output unchanged); at 100 TB it is how an
    // exact sweep is actually run — over a bounded audit sample — instead
    // of becoming an unbounded cartesian product.
    "q41_embedding_neardup" -> { (s, d) =>
      // Round-12 (guide §2.5): GlobalLimit collapses to ONE partition, so
      // the MaxSweep² cosine sweep ran as a single task at any core
      // count. Spread ONLY the streamed side by its join key with an
      // explicit partition count (AQE would coalesce a 4096-row exchange
      // back to one partition by size); the other side broadcasts, so
      // the nested-loop sweep parallelizes across the session's cores.
      val e = vecs(s, d).orderBy("vec_id").limit(MaxSweep)
      val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("id_a"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cos", round(vec_cosine(col("va"), col("vb")), 6))
        .filter(col("cos") >= 0.35)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    },

    // ANN scale path #2: IVF (inverted-file) — deterministic coarse
    // quantizer (every 50th vector is a centroid, bounded at
    // MaxCentroids), vectors assigned to their nearest centroid's cell,
    // queries probe only their own cell. The centroid set is the ONLY
    // broadcast (bounded); the query→candidate join is a plain equi-join
    // on `cell`, so both sides shuffle on the cell id and the `assigned`
    // subtree behind them is computed once (exchange reuse) instead of
    // once per join side.
    "q42_ivf_ann" -> { (s, d) =>
      val (assigned, _) = assignedCells(s, d)
      val q = assigned.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      val c = assigned.select(col("vec_id").as("c_id"), col("v").as("cv2"), col("cell"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      c.hint("shuffle_hash").join(q.hint("shuffle_hash"), Seq("cell"))
        .filter(col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv2")), 6))
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "c_id", "cos")
        .orderBy("q_id", "rank")
    },

    // IVF completion: one exact Lloyd (k-means) iteration — the update
    // step that BUILDS the q42 coarse quantizer. Vectors are assigned to
    // their nearest current centroid (the shared assignedCells subtree),
    // then each cell's new centroid is recomputed from fixed-point
    // per-dimension sums (floor(x·10⁶+0.5) longs summed exactly — the
    // q70 kernel), so the reduction is partitioning-independent and both
    // engines derive bit-identical centroid arrays. Emitted diagnostics:
    // member count, the new centroid's norm, and cos(old, new) — the
    // convergence signal a training loop watches. Scale: the centroid
    // set is the only broadcast; the update is one posexplode +
    // (cell × dim) aggregation, map-side combined.
    "q83_kmeans_step" -> { (s, d) =>
      val (assigned, cents) = assignedCells(s, d)
      val dims = assigned.select(col("cell"),
        posexplode(expr("transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"))
          .as(Seq("dim", "q")))
      val sums = dims.groupBy("cell", "dim").agg(sum(col("q")).as("sq"))
      val n = assigned.groupBy("cell").agg(count(lit(1)).as("n_members"))
      sums.groupBy("cell")
        .agg(expr("transform(sort_array(collect_list(struct(dim, sq))), p -> p.sq)")
          .as("sq_arr"))
        .join(n, "cell")
        // CAST first: a bare `/ 1000000.0` would run in decimal, not IEEE
        .withColumn("nc",
          expr("transform(sq_arr, s -> CAST(s AS DOUBLE) / 1000000 / n_members)"))
        .join(broadcast(cents.withColumnRenamed("cent_id", "cell")), "cell")
        .select(col("cell"), col("n_members").cast("long").as("n_members"),
          round(norm("nc"), 6).as("new_norm"),
          round(vec_cosine(col("nc"), col("cv")), 6).as("shift_cos"))
        .orderBy("cell")
    },

    // ANN scale path: LSH bucket join + exact re-rank of candidates.
    // Bounded query set broadcast against the bucketed corpus; buckets
    // are exact integers (see lshBuckets), so this is oracle-checked
    // end-to-end.
    "q29_lsh_ann" -> { (s, d) =>
      val e = vecs(s, d)
      val buckets = lshBuckets(e, numPlanes = 12, dim = 64, spark = s)
      val eb = e.join(buckets, "vec_id")
      val q = eb.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      val c = eb.select(col("vec_id").as("c_id"), col("v").as("cv"), col("bucket"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      c.join(broadcast(q), Seq("bucket")).filter(col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "rank", "c_id", "cos")
        .orderBy("q_id", "rank")
    },

    // kNN label vote — pseudo-labeling: each (bounded) query vector is
    // assigned the majority label of its 5 nearest neighbors (ties →
    // smaller label id), with the agreement flag against the stored
    // label. The semi-supervised labeling / label-QA pass: low vote
    // counts or disagreement mark vectors for human review. Same
    // bounded-broadcast scan as q28 (corpus streams linearly, queries
    // broadcast), then a per-query vote aggregation — both windows and
    // the vote groupBy hash on q_id.
    "q91_knn_label_vote" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val wVote = Window.partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("c_label"))
      e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("v").as("cv"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("q_id"), col("q_label"), col("c_label"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("q_id"),
          col("q_label").cast("long").as("true_label"),
          col("c_label").cast("long").as("voted_label"),
          col("n_votes").cast("long").as("n_votes"),
          (col("c_label") === col("q_label")).as("agree"))
        .orderBy("q_id")
    },

    // ANN quality gate: recall@3 of the IVF probe (q42's single-cell
    // candidate set) against the exact brute-force top-3 — the
    // measurement that tells you whether the coarse quantizer is good
    // enough to REPLACE the exact sweep at scale (the sketch-vs-exact
    // calibration q156 performs for MinHash, here for IVF). Both legs
    // share ONE assignedCells subtree and the SAME bounded query set,
    // ranking rule (cos desc, c_id) and round(6) kernel, so a recall
    // miss can only come from the cell boundary — the thing being
    // measured, not engine noise. Scale: the exact leg is the
    // query-bounded broadcast sweep (|corpus|·|queries| kernel calls,
    // the price of ground truth — run on a sample, never the fleet);
    // the IVF leg shuffles by cell. LEFT join + coalesce-0 keeps
    // queries whose IVF list misses ALL exact neighbors (recall 0 is
    // the most important row in the audit, not a dropped one).
    "q180_ann_recall" -> { (s, d) =>
      val (assigned, _) = assignedCells(s, d)
      val q = assigned.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      val corpus = assigned
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("cell").as("c_cell"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val exact = corpus
        .join(broadcast(q.drop("cell")), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("c_id"))
      val ivf = corpus
        .join(broadcast(q), col("c_cell") === col("cell") &&
          col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id").as("iq"), col("c_id").as("ic"))
      val hits = exact.join(ivf,
          col("q_id") === col("iq") && col("c_id") === col("ic"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      q.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
          expr("CAST(coalesce(n_hit, 0) * 1000000 DIV 3 AS BIGINT)")
            .as("recall_ppm"))
        .orderBy("q_id")
    },

    // IVF MULTIPROBE sweep — the recall-vs-cost TUNING CURVE above
    // q180's single-probe audit: probing the query's P nearest cells
    // (P ∈ {1,2,4}) buys recall with candidate volume, and the pair of
    // columns (recall_ppm, n_candidates) at each depth IS the nprobe
    // decision every IVF deployment makes (the q205-PR-sweep shape
    // applied to ANN). Cell ranking per query reuses the assignment
    // kernel verbatim (cos desc, cent_id tie-break), so P=1 reproduces
    // q42/q180's probe exactly — recall is monotone in P and the
    // candidate set at P=1 is a prefix of P=4's, both spec-asserted.
    // Scale: probes (≤ 4·|queries| rows) broadcast; the corpus streams
    // through ONE cell equi-join; the exact leg is the bounded
    // ground-truth sweep (q180's documented price).
    "q279_ivf_multiprobe" -> { (s, d) =>
      val (assigned, cents) = assignedCells(s, d)
      val q = assigned.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val wCell = Window.partitionBy(col("q_id"))
        .orderBy(col("ccos").desc, col("cent_id"))
      val probes = q.crossJoin(broadcast(cents))
        .withColumn("ccos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("crn", row_number().over(wCell))
        .filter(col("crn") <= 4)
        .select(col("q_id"), col("qv"), col("cent_id").as("cell"), col("crn"))
      val corpus = assigned
        .select(col("vec_id").as("c_id"), col("v").as("cv2"), col("cell"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val exact = corpus
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv2")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("c_id"))
      val cand = corpus
        .join(broadcast(probes.drop("qv")), Seq("cell"))
        .filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), col("crn"))
      val hit = exact.join(cand, Seq("q_id", "c_id"))
      val pg = q.sparkSession.range(0, 3)
        .select(expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("nprobe"))
      val nq = q.agg(count(lit(1)).as("n_queries"))
      // collapse both legs onto the 4-row probe-depth grid BEFORE the
      // ≤-join with the depth ladder — the prefix sums then run on grids
      val candByDepth = cand.groupBy("crn").agg(count(lit(1)).as("nc"))
      val hitByDepth = hit.groupBy("crn").agg(count(lit(1)).as("nh"))
      val cnt = pg.join(broadcast(candByDepth), col("crn") <= col("nprobe"), "left")
        .groupBy("nprobe").agg(coalesce(sum(col("nc")), lit(0L)).as("n_candidates"))
      val hits = pg.join(broadcast(hitByDepth), col("crn") <= col("nprobe"), "left")
        .groupBy("nprobe").agg(coalesce(sum(col("nh")), lit(0L)).as("n_hits"))
      cnt.join(hits, "nprobe").crossJoin(broadcast(nq))
        .select(col("nprobe"), col("n_queries").cast("long").as("n_queries"),
          col("n_candidates").cast("long").as("n_candidates"),
          col("n_hits").cast("long").as("n_hits"),
          expr("CAST(n_hits * 1000000 DIV (3 * n_queries) AS BIGINT)")
            .as("recall_ppm"))
        .orderBy("nprobe")
    },

    // LSH BUCKET-LOAD histogram + verify-cost accounting — the capacity
    // plan for the q29 hyperplane index read BEFORE build time: bucket
    // sizes in power-of-2 classes (explicit ladder, the q229
    // convention), per-class candidate pairs Σ s(s−1)/2, and the prune
    // ratio vs the n(n−1)/2 brute-force sweep. One over-full bucket
    // dominates verify cost quadratically — this table is where that
    // shows up first (q156 calibrates LSH ACCURACY; this prices its
    // WORK).
    "q314_lsh_bucket_load" -> { (s, d) =>
      val e = vecs(s, d)
      val sizes = lshBuckets(e, numPlanes = 12, dim = 64, spark = s)
        .groupBy("bucket").agg(count(lit(1)).as("sz"))
      val lad = sizes.sparkSession.range(0, 20)
        .select(expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("lo"))
      val classes = sizes.join(broadcast(lad),
          col("sz") >= col("lo") && col("sz") < col("lo") * 2)
        .groupBy("lo").agg(count(lit(1)).as("n_buckets"),
          sum(col("sz")).as("n_vectors"),
          sum(expr("sz * (sz - 1) DIV 2")).as("cand_pairs"))
      val tot = classes.agg(sum(col("cand_pairs")).as("total_cand"),
        sum(col("n_vectors")).as("nv"))
      classes.crossJoin(broadcast(tot))
        .select(col("lo").as("size_class_lo"),
          col("n_buckets").cast("long").as("n_buckets"),
          col("n_vectors").cast("long").as("n_vectors"),
          col("cand_pairs").cast("long").as("cand_pairs"),
          col("total_cand").cast("long").as("total_cand"),
          expr("CAST(nv * (nv - 1) DIV 2 AS BIGINT)").as("brute_pairs"),
          expr("CAST(total_cand * 1000000 DIV (nv * (nv - 1) DIV 2) AS BIGINT)")
            .as("work_ppm"))
        .orderBy("size_class_lo")
    },

    // HUBNESS audit — the k-occurrence distribution N₃(x): how many
    // OTHER vectors list x in their exact top-3 (the high-dimensional
    // pathology every ANN deployment should measure before trusting
    // neighbor lists: hubs absorb neighbor slots, antihubs vanish from
    // all of them, and recall targets calibrated on uniform data
    // silently miss both). Conservation Σ N₃ = 3·n is structural
    // (every vector emits exactly 3 votes) and spec-asserted; the
    // histogram grid carries N₃ = 0 antihubs explicitly via a left
    // join from the full vector set (the q158 rule — the antihub COUNT
    // is the finding). Bounded exact sweep (the q41 MaxSweep
    // convention); same (cos desc, id) kernel as q180.
    "q312_hubness" -> { (s, d) =>
      // Round-12 (guide §2.5, round-11 VERDICT #4): spread the STREAMED
      // side of the bounded sweep by qid — the nested-loop sweep
      // parallelizes, AND the hash(qid) partitioning satisfies the
      // top-3 window's required distribution, so the MaxSweep²-row
      // window exchange disappears with it (§2.4 "keyed the same way").
      val e = vecs(s, d).orderBy("vec_id").limit(MaxSweep)
      val a = e.select(col("vec_id").as("qid"), col("v").as("qv"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("qid"))
      val b = e.select(col("vec_id").as("cid"), col("v").as("cv3"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      val top3 = a.join(broadcast(b), col("qid") =!= col("cid"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv3")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("cid"))
      val n3 = e.select(col("vec_id").as("cid"))
        .join(top3.groupBy("cid").agg(count(lit(1)).as("k3")), Seq("cid"), "left")
        .select(coalesce(col("k3"), lit(0L)).as("n3"))
      n3.groupBy("n3").agg(count(lit(1)).as("n_vectors"))
        .select(col("n3").cast("long").as("n3"),
          col("n_vectors").cast("long").as("n_vectors"))
        .orderBy("n3")
    },

    // TwoNN RATIO statistics — the intrinsic-dimension SUFFICIENT
    // statistic (Facco et al.'s estimator is d ≈ ln N / Σln μ with
    // μ = r₂/r₁ the two-nearest-neighbor distance ratio; ln() is
    // transcendental, so per the repo-wide log-free rule both engines
    // stop at the EXACT μ decile table — the estimator is one ln-sum
    // away for whoever consumes it, and the deciles already answer the
    // operational question "is the manifold much lower-dimensional
    // than the 64 ambient dims" since μ → 1 means high intrinsic
    // dimension). Distances 1 − cos on the round(6) kernel; μ in ppb
    // by ONE mirrored IEEE division + half-up floor; exact-duplicate
    // neighbors (r₁ = 0) leave the statistic and ride along as
    // n_degenerate. Deciles by cross-multiplied predecessor counts on
    // the μ value grid (the q179 rule).
    "q313_twonn_ratios" -> { (s, d) =>
      // Round-12 (guide §2.5, round-11 VERDICT #4): the streamed side is
      // hash-spread on qid so the cached MaxSweep² sweep materializes in
      // parallel instead of as one task, and the two min(struct) aggs
      // below reuse the hash(qid) partitioning (no new exchange).
      val e = vecs(s, d).orderBy("vec_id").limit(MaxSweep)
      val a = e.select(col("vec_id").as("qid"), col("v").as("qv"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("qid"))
      val b = e.select(col("vec_id").as("cid"), col("v").as("cv3"))
      // the two smallest come from two MAP-COMBINED min aggs over the
      // CACHED pair sweep — a row_number window here sorted all
      // MaxSweep² pairs per query and ran 3× slower. Round 12: the
      // (dist, cid) struct is PACKED into one BIGINT — dist is already
      // on the round-6 grid (dist6 = floor(dist·10⁶ + 0.5) ∈ [0, 2·10⁶]
      // recovers the exact double via dist6/10⁶, both correctly-rounded
      // nearest doubles), and the sweep's cids are the MaxSweep SMALLEST
      // vec_ids (orderBy + limit), so cid < 2³² structurally at any
      // corpus size. min(long) runs as codegen HashAggregate where
      // min(struct) fell back to SortAggregate — two full sorts of the
      // MaxSweep² frame gone — and lexicographic (dist, cid) order is
      // bit-preserved, so tied nearest neighbors still yield μ = 1.
      val pairs = Caches.shared(a.join(broadcast(b), col("qid") =!= col("cid"))
        .select(col("qid"),
          (floor(round(lit(1) - vec_cosine(col("qv"), col("cv3")), 6)
              * lit(1000000) + lit(0.5)).cast("long")
            * lit(4294967296L) + col("cid")).as("e")))
      val m1 = pairs.groupBy("qid").agg(min(col("e")).as("e1"))
      val m2 = pairs.join(m1, "qid")
        .filter(col("e") > col("e1"))
        .groupBy("qid").agg(min(col("e")).as("e2"))
      val mu = m1.join(m2, "qid")
        .select(col("qid"),
          expr("CAST(shiftright(e1, 32) AS DOUBLE) / 1000000").as("r1"),
          expr("CAST(shiftright(e2, 32) AS DOUBLE) / 1000000").as("r2"))
      val good = mu.filter(col("r1") > 0)
        .select(expr("CAST(FLOOR(r2 / r1 * 1000000000 + 0.5) AS BIGINT)").as("mu_ppb"))
      val ndeg = mu.filter(col("r1") <= 0).agg(count(lit(1)).as("n_degenerate"))
      val g = good.groupBy("mu_ppb").agg(count(lit(1)).as("f"))
      val bb = g.select(col("mu_ppb").as("v2"), col("f").as("f2"))
      val cum = g.join(bb, col("v2") < col("mu_ppb"), "left")
        .groupBy("mu_ppb", "f").agg(coalesce(sum(col("f2")), lit(0L)).as("below"))
      val n = g.agg(sum(col("f")).as("n"))
      val dec = g.sparkSession.range(1, 10).select(col("id").cast("long").as("decile"))
      cum.crossJoin(broadcast(n)).crossJoin(broadcast(dec))
        .filter(lit(10) * col("below") < col("decile") * col("n") &&
          col("decile") * col("n") <= lit(10) * (col("below") + col("f")))
        .crossJoin(broadcast(ndeg))
        .select(col("decile"), col("mu_ppb").cast("long").as("mu_ppb"),
          col("n").cast("long").as("n_vecs"),
          col("n_degenerate").cast("long").as("n_degenerate"))
        .orderBy("decile")
    },

    // Label-centroid CONFUSABILITY matrix: pairwise cosine between
    // per-label centroid vectors — the inter-class geometry audit next
    // to q70's intra-class cohesion (two labels whose centroids cosine
    // ≈ 1 are indistinguishable to a linear probe; a labeling or
    // embedding regression shows up here before any classifier is
    // trained). Centroid SUMS are exact integers (q70's µ-quantized
    // per-dim sums — the n divisor cancels in cosine, so the sums ARE
    // the centroids for this purpose); the cosine is the one mirrored
    // IEEE step, rounded to ppb. Scale: the heavy work is one
    // map-combined (label, dim) aggregation over the corpus; the pair
    // matrix is |labels|² rows of array arithmetic — broadcast-sized
    // at any corpus size.
    "q193_label_confusability" -> { (s, d) =>
      val dims = Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
      val sums = dims.groupBy("label", "dim").agg(sum(col("q")).as("sq"))
        .groupBy("label")
        .agg(expr("transform(sort_array(collect_list(struct(dim, sq))), p -> p.sq)")
          .as("sq_arr"))
      val n = Tables.embeddings(s, d).groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"))
      val lab = sums.join(n, "label")
      val a = lab.select(col("label").cast("long").as("label_a"),
        col("sq_arr").as("va"), col("n_vecs").as("n_a"))
      val b = lab.select(col("label").cast("long").as("label_b"),
        col("sq_arr").as("vb"), col("n_vecs").as("n_b"))
      a.join(b, col("label_a") < col("label_b"))
        .withColumn("dot", expr(
          "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"))
        .withColumn("na", expr(
          "sqrt(aggregate(va, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
        .withColumn("nb", expr(
          "sqrt(aggregate(vb, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          expr("""CAST(floor((CASE WHEN na = 0 OR nb = 0 THEN 0D
                 ELSE dot / na / nb END) * 1000000000 + 0.5) AS BIGINT)""")
            .as("cos_ppb"))
        .orderBy("label_a", "label_b")
    },

    // SemDeDup-style embedding-space dedup prune (Abbas et al. 2023,
    // arXiv:2303.09540): cluster with the shared coarse quantizer
    // (assignedCells — the q42/q83/q117 cell assignment), then prune,
    // WITHIN each cell only, every vector that has a higher-priority
    // (smaller vec_id — the q14 keep-min survivor convention) neighbor
    // at cosine ≥ SemTau. This is the embedding-side sibling of the
    // MinHash text tiers: paraphrases and re-encodings that share no
    // shingles land in the same cell and cosine-match. Per-cell output
    // (kept/pruned/prune-ppm) so a skewed cell — the quadratic-cost
    // risk — is visible directly. Scale: the pairwise leg is
    // cell-local by construction; cells number MaxCentroids and the
    // clustering (not this audit) is responsible for balancing them —
    // q314 prices exactly that bucket-load risk for the LSH index.
    "q317_semdedup" -> { (s, d) =>
      val assigned = assignedCells(s, d)._1
      val aa = assigned.select(col("cell"), col("vec_id").as("id_a"),
        col("v").as("va"))
      val bb = assigned.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"))
      val pruned = aa.join(bb, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", round(vec_cosine(col("va"), col("vb")), 6))
        .filter(col("cos") >= SemTau)
        .groupBy("cell")
        .agg(countDistinct(col("id_b")).as("n_pruned"))
      assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(pruned, Seq("cell"), "left")
        .select(col("cell").cast("long").as("cell"),
          col("n_vecs").cast("long").as("n_vecs"),
          coalesce(col("n_pruned"), lit(0L)).cast("long").as("n_pruned"))
        .withColumn("n_kept", (col("n_vecs") - col("n_pruned")).cast("long"))
        .withColumn("prune_ppm",
          expr("CAST(n_pruned * 1000000 DIV n_vecs AS BIGINT)"))
        .orderBy("cell")
    },

    // Maximal-marginal-relevance top-5 selection (Carbonell & Goldstein
    // 1998), fully UNROLLED — the diverse-exemplar picker behind "show
    // me 5 representative-but-different documents": greedy argmax of
    // rel(v) − max_{s∈S} sim(v, s) (λ = ½ scales both terms equally, so
    // it cancels from the argmax). The iteration is 5 statically
    // unrolled steps over a TakeOrdered top-MmrCandidates pool — no
    // driver loop, no recursion: step k is one max-aggregation over the
    // ≤MmrCandidates×k cached pair-sim frame. Relevance anchor = the
    // smallest-vec_id vector (deterministic); all scores are µ-unit
    // integers (floor(round(cos,6)·10⁶ + ½) — exact, the 6-decimal
    // rounding grid is below the integer grid), ties broken by vec_id.
    // Scale: the corpus-sized work is ONE broadcast-anchor cosine scan +
    // TakeOrdered; everything after runs on a constant-bounded pool.
    "q319_mmr_select" -> { (s, d) =>
      val e = vecs(s, d)
      // The anchor is excluded from the pool: with it in, step 1 picks
      // the anchor itself (rel = 1) and step 2's diversity term
      // degenerates to rel (maxsim-to-{anchor} ≡ rel ⟹ every score 0).
      val anchor = e.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cand = Caches.shared(
        e.crossJoin(broadcast(anchor))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("relr", round(vec_cosine(col("v"), col("qv")), 6))
          .withColumn("rel_u",
            expr("CAST(floor(relr * 1000000 + 0.5) AS BIGINT)"))
          .orderBy(col("rel_u").desc, col("vec_id"))
          .limit(MmrCandidates)
          .select(col("vec_id"), col("v"), col("rel_u")))
      val simPairs =
        cand.select(col("vec_id").as("ida"), col("v").as("va"))
          .join(cand.select(col("vec_id").as("idb"), col("v").as("vb")),
            col("ida") =!= col("idb"))
          .withColumn("simr", round(vec_cosine(col("va"), col("vb")), 6))
          .select(col("ida"), col("idb"),
            expr("CAST(floor(simr * 1000000 + 0.5) AS BIGINT)").as("sim_u"))
      // The greedy tail runs as ONE projection over the collected
      // candidate/sim arrays (≤32 + ≤32·31 rows — driver-safe by the
      // MmrCandidates bound): a DataFrame-join fold here costs ~15 tiny
      // shuffle jobs whose fixed overhead dominates 1000:1 at local
      // scale and adds 5 pointless barriers at cluster scale. argmax =
      // array_max over struct(score, -id, …) — struct ordering gives
      // the (max score, min id) tiebreak; extra fields ride along.
      val pool = cand.agg(collect_list(
        struct(col("vec_id").as("id"), col("rel_u").as("rel"))).as("cs"))
      val sims = simPairs.agg(collect_list(
        struct(col("ida").as("a"), col("idb").as("b"),
          col("sim_u").as("sim"))).as("ss"))
      def stepExpr(sel: String): String =
        s"""array_max(transform(
           |  filter(cs, x -> NOT array_contains($sel, x.id)),
           |  x -> struct(
           |    x.rel - array_max(transform(
           |      filter(ss, p -> p.a = x.id AND array_contains($sel, p.b)),
           |      p -> p.sim)) AS sc,
           |    -x.id AS ni, x.rel AS r,
           |    array_max(transform(
           |      filter(ss, p -> p.a = x.id AND array_contains($sel, p.b)),
           |      p -> p.sim)) AS ms)))""".stripMargin
      pool.crossJoin(sims)
        .withColumn("p1", expr("array_max(transform(cs, x -> struct(" +
          "x.rel AS sc, -x.id AS ni, x.rel AS r, CAST(0 AS BIGINT) AS ms)))"))
        .withColumn("sel1", expr("array(-p1.ni)"))
        .withColumn("p2", expr(stepExpr("sel1")))
        .withColumn("sel2", expr("array(-p1.ni, -p2.ni)"))
        .withColumn("p3", expr(stepExpr("sel2")))
        .withColumn("sel3", expr("array(-p1.ni, -p2.ni, -p3.ni)"))
        .withColumn("p4", expr(stepExpr("sel3")))
        .withColumn("sel4", expr("array(-p1.ni, -p2.ni, -p3.ni, -p4.ni)"))
        .withColumn("p5", expr(stepExpr("sel4")))
        .select(explode(expr(
          """array(
            |  struct(CAST(1 AS BIGINT) AS step, -p1.ni AS vec_id,
            |         p1.r AS rel_u, p1.ms AS maxsim_u, p1.sc AS score_u),
            |  struct(CAST(2 AS BIGINT) AS step, -p2.ni AS vec_id,
            |         p2.r AS rel_u, p2.ms AS maxsim_u, p2.sc AS score_u),
            |  struct(CAST(3 AS BIGINT) AS step, -p3.ni AS vec_id,
            |         p3.r AS rel_u, p3.ms AS maxsim_u, p3.sc AS score_u),
            |  struct(CAST(4 AS BIGINT) AS step, -p4.ni AS vec_id,
            |         p4.r AS rel_u, p4.ms AS maxsim_u, p4.sc AS score_u),
            |  struct(CAST(5 AS BIGINT) AS step, -p5.ni AS vec_id,
            |         p5.r AS rel_u, p5.ms AS maxsim_u, p5.sc AS score_u))""".stripMargin))
          .as("pk"))
        // pool exhaustion (|cand| < 5): an exhausted step's argmax is a
        // NULL struct, and the NULL id it injects into sel makes every
        // LATER step's filter NULL out too (exhaustion is absorbing) —
        // dropping NULL-id rows therefore emits exactly min(5, |pool|)
        // steps, the same rows the SQL mirror's LIMIT-1 CTEs produce on
        // a degenerate corpus.
        .filter(col("pk.vec_id").isNotNull)
        .select(col("pk.step").as("step"), col("pk.vec_id").as("vec_id"),
          col("pk.rel_u").as("rel_u"), col("pk.maxsim_u").as("maxsim_u"),
          col("pk.score_u").as("score_u"))
        .orderBy("step")
    },

    // MATRYOSHKA truncation audit (Kusupati et al. 2022, MRL): how much
    // cosine geometry survives keeping only the first k ∈ {8, 16, 32}
    // of 64 dimensions — the accuracy/cost table read before serving a
    // truncated index. Per k, over the (bounded query set × corpus)
    // pairs: mean |cos_k − cos_64| distortion in µ-units (sum DIV
    // count — non-negative, so integer division is engine-exact) and
    // top-1-neighbor PRESERVATION (does the exact NN under cos_k match
    // cos_64's — the metric that decides if the truncation is
    // deployable; argmax via max(struct(cos, −cid))). Scale: ONE
    // broadcast-query cosine scan cached, the k grid rides a 3-row
    // broadcast; per-(k, query) argmaxes map-combine.
    "q334_matryoshka" -> { (s, d) =>
      val e = vecs(s, d)
      val q = e.filter(col("vec_id") % 50 === 0).orderBy("vec_id")
        .limit(MaxQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val pairs = Caches.shared(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
          .withColumn("c64r", round(vec_cosine(col("v"), col("qv")), 6))
          .select(col("qid"), col("vec_id").as("cid"), col("v"), col("qv"),
            expr("CAST(floor(c64r * 1000000 + 0.5) AS BIGINT)").as("c64")))
      val ks = e.sparkSession.range(3, 6)
        .select(expr("CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT)").as("k"))
      val trunc = pairs.crossJoin(broadcast(ks))
        .withColumn("ckr", round(vec_cosine(
          expr("slice(v, 1, CAST(k AS INT))"),
          expr("slice(qv, 1, CAST(k AS INT))")), 6))
        .select(col("k"), col("qid"), col("cid"), col("c64"),
          expr("CAST(floor(ckr * 1000000 + 0.5) AS BIGINT)").as("ck"))
      val top64 = pairs.groupBy("qid")
        .agg(max(struct(col("c64"), (-col("cid")).as("ni"))).as("m"))
        .select(col("qid"), (-col("m.ni")).as("nn64"))
      val topk = trunc.groupBy("k", "qid")
        .agg(max(struct(col("ck"), (-col("cid")).as("ni"))).as("m"))
        .select(col("k"), col("qid"), (-col("m.ni")).as("nnk"))
      val pres = topk.join(broadcast(top64), "qid")
        .groupBy("k")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("nnk") === col("nn64"), 1L).otherwise(0L))
            .as("nn_preserved"))
      trunc.groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("ck") - col("c64"))).as("dist_sum_u"),
          max(abs(col("ck") - col("c64"))).as("max_dist_u"))
        .join(pres, "k")
        .select(col("k"), col("n_pairs").cast("long").as("n_pairs"),
          expr("CAST(dist_sum_u DIV n_pairs AS BIGINT)").as("mean_dist_u"),
          col("max_dist_u").cast("long").as("max_dist_u"),
          col("n_queries").cast("long").as("n_queries"),
          col("nn_preserved").cast("long").as("nn_preserved"),
          expr("CAST(nn_preserved * 1000000 DIV n_queries AS BIGINT)")
            .as("recall1_ppm"))
        .orderBy("k")
    },

    // LSH MULTI-PROBE recall/cost table (Lv et al. 2007): q29 probes
    // the query's ONE hyperplane bucket; multi-probe additionally
    // probes the 12 single-bit-flip neighbors — the standard trick
    // that buys recall without rebuilding the index (a flipped sign
    // bit is exactly "the query was near that hyperplane"). Output,
    // side by side per mode: candidates examined (the COST — the
    // verify-join fan-in q314 prices per bucket) and recall@5 against
    // the exact top-5 (the q28 baseline leg, query-bounded). Scale:
    // the bucketed corpus is cached once; probes broadcast (≤13 rows
    // per query); candidates never duplicate across probes because a
    // vector lives in exactly one bucket.
    "q336_lsh_multiprobe" -> { (s, d) =>
      val e = vecs(s, d)
      val eb = Caches.shared(
        e.join(lshBuckets(e, numPlanes = 12, dim = 64, spark = s), "vec_id")
          .select(col("vec_id"), col("v"), col("bucket")))
      val q = eb.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("bucket").as("qb"))
      val exact = Caches.shared(
        e.select(col("vec_id").as("c_id"), col("v").as("cv"))
          .join(broadcast(q.select(col("q_id"), col("qv"))),
            col("c_id") =!= col("q_id"))
          .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("c_id"))))
          .filter(col("rn") <= 5).select("q_id", "c_id"))
      def leg(mode: String, probes: DataFrame): DataFrame = {
        val cand = eb.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("qv"), col("vec_id").as("c_id"),
            col("v").as("cv"))
        val top = cand
          .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("c_id"))))
          .filter(col("rn") <= 5).select("q_id", "c_id")
        val hits = top.join(exact, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("hits"))
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(hits)
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .select(lit(mode).as("mode"),
            col("n_candidates").cast("long").as("n_candidates"),
            col("hits").cast("long").as("hits"),
            col("n_exact").cast("long").as("n_exact"),
            expr("CAST(hits * 1000000 DIV n_exact AS BIGINT)")
              .as("recall_ppm"))
      }
      val single = q.select(col("q_id"), col("qv"), col("qb").as("bucket"))
      val multi = q.select(col("q_id"), col("qv"), explode(expr(
        "concat(array(qb), transform(sequence(0, 11)," +
          " i -> CAST(qb ^ shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) AS BIGINT)))"))
        .as("bucket"))
      leg("multi", multi).unionByName(leg("single", single))
        .orderBy("mode")
    },

    // INT8 symmetric-quantization utilization audit (the per-dimension
    // table read before an embedding index is served quantized — the
    // PRECISION sibling of q334's dimension truncation): per dim, the
    // absmax scale, the mean magnitude utilization of the 127-step
    // budget (a dim whose mass sits at 5% of its own absmax wastes the
    // int8 range on one outlier — the signal that picks per-dim over
    // per-tensor scaling), and the saturation count. q = ⌊x·127/amax +
    // 0.5⌋ — one multiply + one divide, each a single IEEE step both
    // engines execute bit-identically (the mirrored-float rule);
    // everything after q is exact integers. Magnitude: Σ|q| ≤ 127·n ≈
    // 1.3·10¹¹ per dim at 10⁹ vectors; ×10⁶ cross-multiplied against
    // 127·n stays < 10¹⁸. Scale: posexplode is map-side; both passes
    // shuffle on the 64-value dim key with map-side combine; the scale
    // table broadcasts by construction.
    "q343_int8_quant" -> { (s, d) =>
      val dims = vecs(s, d).select(posexplode(col("v")).as(Seq("dim", "x")))
      val scales = dims.groupBy("dim").agg(max(abs(col("x"))).as("amax"))
      dims.join(broadcast(scales), "dim")
        .withColumn("q", expr("CAST(CASE WHEN amax = 0 THEN 0" +
          " ELSE floor(x * 127 / amax + 0.5) END AS BIGINT)"))
        .groupBy("dim")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          expr("CAST(floor(max(amax) * 1000000 + 0.5) AS BIGINT)").as("absmax_u"),
          sum(abs(col("q"))).cast("long").as("sum_abs_q"),
          sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).cast("long")
            .as("n_saturated"))
        .select(col("dim").cast("long").as("dim"), col("n_vecs"),
          col("absmax_u"), col("sum_abs_q"), col("n_saturated"),
          expr("CAST(sum_abs_q * 1000000 DIV (127 * n_vecs) AS BIGINT)")
            .as("util_ppm"))
        .orderBy("dim")
    },

    // FISHER-style label-centroid SEPARABILITY table — "which label
    // PAIRS does this embedding space actually separate?": squared
    // centroid distance over pooled within-class spread, all in exact
    // cross-multiplied integers on the 10³ grid (means never
    // materialize — dist²(μa,μb)·(n_a·n_b)² = Σ_j (Sa_j·n_b − Sb_j·n_a)²
    // and within-SS·n = n·Σ‖x‖² − ‖S‖², both DECIMAL(38,0)/HUGEINT).
    // fisher_ppm = d2num·10⁶ DIV (n_b²·w_a + n_a²·w_b) — the two-class
    // Fisher criterion's exact-integer image; low ppm pairs are the
    // confusable ones q91's kNN vote then mislabels. One corpus scan →
    // per-(label, dim) sums; the pair sweep is |labels|²·|dims| algebra
    // on broadcastable aggregates, never corpus².
    "q395_fisher_separability" -> { (s, d) =>
      val e = Caches.shared(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q")))
      val perLD = e.select(col("label"), posexplode(col("q"))
          .as(Seq("dim", "qx")))
        .groupBy("label", "dim").agg(sum(col("qx")).as("sj"))
      val perL = e.select(col("label"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
            .as("ss"))
        .groupBy("label").agg(count(lit(1)).as("n"), sum(col("ss")).as("ssq"))
      val w = perLD.groupBy("label")
        .agg(sum(col("sj").cast("decimal(38,0)") * col("sj")).as("s2"))
        .join(perL, "label")
        .select(col("label"), col("n"),
          (col("n").cast("decimal(38,0)") * col("ssq") - col("s2")).as("w"))
      val withN = perLD.join(broadcast(perL.select(col("label"), col("n"))),
        "label")
      val d2 = withN.select(col("label").as("la"), col("n").as("na"),
          col("dim"), col("sj").as("sa"))
        .join(broadcast(withN.select(col("label").as("lb"),
          col("n").as("nb"), col("dim").as("dim2"), col("sj").as("sb"))),
          col("dim") === col("dim2") && col("la") < col("lb"))
        .select(col("la"), col("lb"), col("na"), col("nb"),
          ((col("sa") * col("nb") - col("sb") * col("na"))
            .cast("decimal(38,0)") *
            (col("sa") * col("nb") - col("sb") * col("na"))).as("term"))
        .groupBy("la", "lb", "na", "nb")
        .agg(sum(col("term")).as("d2num"))
      d2.join(broadcast(w.select(col("label").as("wla"), col("w").as("wa"))),
          col("la") === col("wla"))
        .join(broadcast(w.select(col("label").as("wlb"), col("w").as("wb"))),
          col("lb") === col("wlb"))
        .select(col("la").as("label_a"), col("lb").as("label_b"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          expr("CAST(d2num * 1000 DIV (CAST(na AS DECIMAL(38,0))" +
            " * na * nb * nb) AS BIGINT)").as("d2_milli"),
          expr("CAST(wa * 1000 DIV (CAST(na AS DECIMAL(38,0)) * na)" +
            " AS BIGINT)").as("w2_a_milli"),
          expr("CAST(wb * 1000 DIV (CAST(nb AS DECIMAL(38,0)) * nb)" +
            " AS BIGINT)").as("w2_b_milli"),
          expr("CAST(d2num * 1000000 DIV greatest(CAST(nb AS DECIMAL(38,0))" +
            " * nb * wa + CAST(na AS DECIMAL(38,0)) * na * wb, 1)" +
            " AS BIGINT)").as("fisher_ppm"))
        .orderBy("label_a", "label_b")
    },

    // Simplified SILHOUETTE census over a bounded query sample — the
    // per-POINT cluster-quality read beside q395's per-PAIR geometry:
    // for each sampled vector, a = mean squared distance to its own
    // label, b = the minimum over other labels of their mean squared
    // distance (the "neighboring cluster"), s = (b − a)/max(a, b) in
    // sign-split ppm via cross-multiplication (sb·ma vs sa·mb — the
    // means never materialize). The b-label argmin orders by the
    // FLOOR-scaled mean (sd DIV m, label tie-break) — one deterministic
    // convention both engines replay. s ≈ 10⁶ ⇒ the point sits deep in
    // its label; s < 0 ⇒ it is closer to another label's mass (a
    // mislabel or boundary point — exactly what q85 mines as hard
    // negatives). Distances are exact integer folds on the 10³ grid;
    // the sweep is sample×corpus, LIMIT-bounded at any SF.
    "q396_silhouette" -> { (s, d) =>
      val e = Caches.shared(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q")))
      val qs = e.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("q").as("qv"))
      val agg = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("q").as("cv"))
        .join(broadcast(qs), col("c_id") =!= col("q_id"))
        // codegen'd integer kernel — the |sample|×|corpus| hot loop stays
        // inside WholeStageCodegen instead of an aggregate() eval island
        .select(col("q_id"), col("q_label"), col("c_label"),
          graft.functions.VectorExpressions.vec_l2sq_q(col("qv"), col("cv"))
            .as("dd"))
        .groupBy("q_id", "q_label", "c_label")
        .agg(sum(col("dd")).as("sd"), count(lit(1)).as("m"))
      val aLeg = agg.filter(col("c_label") === col("q_label"))
        .select(col("q_id").as("qa"), col("sd").as("sa"), col("m").as("ma"))
      val bLeg = agg.filter(col("c_label") =!= col("q_label"))
        .withColumn("mean_e0", expr("sd DIV m"))
        .groupBy("q_id", "q_label")
        .agg(min(struct(col("mean_e0"), col("c_label"), col("sd"),
          col("m"))).as("b"))
        .select(col("q_id"), col("q_label"), col("b.c_label").as("b_label"),
          col("b.sd").as("sb"), col("b.m").as("mb"),
          col("b.mean_e0").as("b_mean_e0"))
      bLeg.join(aLeg, col("q_id") === col("qa"))
        .select(col("q_id").cast("long").as("q_id"),
          col("q_label").cast("long").as("label"),
          col("b_label").cast("long").as("b_label"),
          col("ma").cast("long").as("n_same"),
          col("mb").cast("long").as("n_b_label"),
          expr("CAST(sa DIV ma AS BIGINT)").as("a_mean_e0"),
          col("b_mean_e0").cast("long").as("b_mean_e0"),
          expr("CAST(CASE WHEN CAST(sb AS DECIMAL(38,0)) * ma" +
            " - CAST(sa AS DECIMAL(38,0)) * mb >= 0" +
            " THEN (CAST(sb AS DECIMAL(38,0)) * ma" +
            " - CAST(sa AS DECIMAL(38,0)) * mb) * 1000000" +
            " DIV greatest(greatest(CAST(sb AS DECIMAL(38,0)) * ma," +
            " CAST(sa AS DECIMAL(38,0)) * mb), 1)" +
            " ELSE -((CAST(sa AS DECIMAL(38,0)) * mb" +
            " - CAST(sb AS DECIMAL(38,0)) * ma) * 1000000" +
            " DIV greatest(greatest(CAST(sb AS DECIMAL(38,0)) * ma," +
            " CAST(sa AS DECIMAL(38,0)) * mb), 1)) END AS BIGINT)")
            .as("s_ppm"))
        .orderBy("q_id")
    },

    // Per-DIMENSION eta-squared discriminativeness — "which of the 64
    // dimensions carry the label signal?" (q112 reads raw per-dim
    // moments, q362 hunts outlier dims; THIS is the feature-selection
    // read: between-label SS over total SS per dim). eta2_ppm =
    // ssb_e6·10⁶ DIV sst_e6 with ssb_e6 = Σ_g (S_g²·10⁶ DIV n_g) −
    // S²·10⁶ DIV N and sst_e6 = Σx²·10⁶ − S²·10⁶ DIV N — the per-group
    // divisions are FLOOR-scaled (micro grid-units², one convention
    // both engines replay; the ≤|labels| ulp of floor slack is clamped
    // at 0 where SSB ≈ 0). A dim with eta² ≈ 0 is dead weight the
    // Matryoshka prefix (q334) should not be spending on. One
    // exploded-grid scan; output is |dims| rows at any SF.
    "q397_dim_eta2" -> { (s, d) =>
      val e = Caches.shared(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q")))
      val qd = e.select(col("label"), posexplode(col("q")).as(Seq("dim", "qx")))
      val g = qd.groupBy("dim", "label")
        .agg(count(lit(1)).as("ng"), sum(col("qx")).as("sg"))
        .select(col("dim"),
          expr("CAST(CAST(sg AS DECIMAL(38,0)) * sg * 1000000 DIV ng" +
            " AS DECIMAL(38,0))").as("t"))
        .groupBy("dim").agg(sum(col("t")).as("sg2e6"))
      val dA = qd.groupBy("dim")
        .agg(count(lit(1)).as("nn"), sum(col("qx")).as("ss"),
          sum(col("qx") * col("qx")).as("ssq"))
      dA.join(g, "dim")
        .select(col("dim").cast("long").as("dim"),
          col("nn").cast("long").as("n_vecs"),
          col("ss").cast("long").as("sum_q3"),
          expr("CAST(greatest(sg2e6 - CAST(ss AS DECIMAL(38,0)) * ss" +
            " * 1000000 DIV nn, 0) AS BIGINT)").as("ssb_e6"),
          expr("CAST(CAST(ssq AS DECIMAL(38,0)) * 1000000" +
            " - CAST(ss AS DECIMAL(38,0)) * ss * 1000000 DIV nn AS BIGINT)")
            .as("sst_e6"))
        .withColumn("eta2_ppm",
          // DECIMAL numerator: ssb_e6 itself approaches 10¹⁶ at sf1
          // (sum-of-squares × 10⁶ scaling), so ssb_e6 · 10⁶ overflows
          // int64 — the q165 magnitude rule, caught by the sf1 gate
          expr("CAST(CAST(ssb_e6 AS DECIMAL(38,0)) * 1000000" +
            " DIV greatest(sst_e6, 1) AS BIGINT)"))
        .orderBy("dim")
    },

    // Lloyd-3 quantizer CONVERGENCE table — the training log of the
    // [[lloyd3]] refinement: per iteration × cell, the member count,
    // the refined centroid's norm, and cos(new, previous) — shift_cos
    // climbing toward 1 across iterations IS k-means converging, and a
    // cell whose membership oscillates flags a boundary the probe
    // depth (q418) must cover. q83 is one step of this ladder; the
    // oracle unrolls all three (lloydIterSql — one definition on each
    // engine, so the quantizer cannot drift between q416/q417/q418).
    "q416_lloyd3_convergence" -> { (s, d) =>
      val (_, _, stats) = lloyd3(s, d)
      stats.orderBy("iter", "cell")
    },

    // ANN recall@3 with the REFINED quantizer — q180 re-measured after
    // three Lloyd iterations (round-7 VERDICT #6): same bounded query
    // set, ranking rule and round(6) kernel as q180, only the cell
    // boundaries moved. Read q417 recall against q180's: the delta is
    // what three exact iterations buy at one probe. Scale: identical
    // to q180 (+3 bounded quantizer passes).
    "q417_ivf_recall_lloyd3" -> { (s, d) =>
      val (e, cents3, _) = lloyd3(s, d)
      val assigned = assignTo(e, cents3)
      val q = assigned.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      val corpus = assigned
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("cell").as("c_cell"))
      // ONE q×corpus kernel sweep, candidate-tagged, serves BOTH legs
      // (q180 ran the broadcast join twice — here the exact rank and the
      // same-cell flag ride the same cached 40k-row frame, halving the
      // kernel calls and the exchanges)
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val all = Caches.shared(corpus
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv")), 6))
        .select(col("q_id"), col("c_id"), col("cos"),
          (col("c_cell") === col("cell")).as("is_cand")))
      val exact = all.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select(col("q_id"), col("c_id"))
      val ivf = all.filter(col("is_cand"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id").as("iq"), col("c_id").as("ic"))
      val hits = exact.join(ivf,
          col("q_id") === col("iq") && col("c_id") === col("ic"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      q.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
          expr("CAST(coalesce(n_hit, 0) * 1000000 DIV 3 AS BIGINT)")
            .as("recall_ppm"))
        .orderBy("q_id")
    },

    // IVF multiprobe curve with the REFINED quantizer — q279's
    // recall-vs-cost table re-measured over the lloyd3 cells: the
    // nprobe ∈ {1,2,4} rows against q279's quantify how much probe
    // depth the three Lloyd iterations SAVE at equal recall (tighter
    // cells concentrate true neighbors into fewer probes). Same
    // probe-ranking kernel, candidate accounting and depth-grid
    // algebra as q279.
    "q418_multiprobe_lloyd3" -> { (s, d) =>
      val (e, cents3, _) = lloyd3(s, d)
      val assigned = assignTo(e, cents3)
      val q = assigned.filter(col("vec_id") % 100 === 0)
        .orderBy("vec_id").limit(MaxQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val wCell = Window.partitionBy(col("q_id"))
        .orderBy(col("ccos").desc, col("cent_id"))
      val probes = q.crossJoin(broadcast(cents3))
        .withColumn("ccos", round(vec_cosine(col("qv"), col("cv")), 6))
        .withColumn("crn", row_number().over(wCell))
        .filter(col("crn") <= 4)
        .select(col("q_id"), col("cent_id").as("cell"), col("crn"))
      val corpus = assigned
        .select(col("vec_id").as("c_id"), col("v").as("cv2"), col("cell"))
      // ONE q×corpus kernel sweep with the probe depth LEFT-joined on
      // (q_id, cell): exact rank and candidate tagging share the same
      // cached frame (the q417 rework), so the depth aggregations are
      // grid algebra over it instead of two more broadcast sweeps
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val all = Caches.shared(corpus
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("cos", round(vec_cosine(col("qv"), col("cv2")), 6))
        .withColumn("rn", row_number().over(w))
        .join(broadcast(probes), Seq("q_id", "cell"), "left")
        .select(col("q_id"), col("c_id"), col("rn"), col("crn")))
      val cand = all.filter(col("crn").isNotNull)
      val hit = cand.filter(col("rn") <= 3)
      val pg = q.sparkSession.range(0, 3)
        .select(expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("nprobe"))
      val nq = q.agg(count(lit(1)).as("n_queries"))
      val candByDepth = cand.groupBy("crn").agg(count(lit(1)).as("nc"))
      val hitByDepth = hit.groupBy("crn").agg(count(lit(1)).as("nh"))
      val cnt = pg.join(broadcast(candByDepth), col("crn") <= col("nprobe"), "left")
        .groupBy("nprobe").agg(coalesce(sum(col("nc")), lit(0L)).as("n_candidates"))
      val hits = pg.join(broadcast(hitByDepth), col("crn") <= col("nprobe"), "left")
        .groupBy("nprobe").agg(coalesce(sum(col("nh")), lit(0L)).as("n_hits"))
      cnt.join(hits, "nprobe").crossJoin(broadcast(nq))
        .select(col("nprobe"), col("n_queries").cast("long").as("n_queries"),
          col("n_candidates").cast("long").as("n_candidates"),
          col("n_hits").cast("long").as("n_hits"),
          expr("CAST(n_hits * 1000000 DIV (3 * n_queries) AS BIGINT)")
            .as("recall_ppm"))
        .orderBy("nprobe")
    },

    // EMBEDDING-DRIFT monitor — the production ML-ops gauge: split the
    // corpus into two deterministic cohorts (md5-hash parity of the
    // vec_id — NOT raw id parity: the sf1 gate caught id parity
    // aliasing with the label assignment, leaving the cohorts with
    // disjoint label sets and an empty audit; the neutral hash is the
    // q463-audited decorrelator) and compare per-label integer
    // centroids in the q70 micro-unit fixed point (floor(x·10⁶ + 0.5)
    // longs; mean differences via the cross-multiplied non-negative
    // quotient, engine-exact). Reported per label: cohort sizes, the L1 centroid
    // shift in micro-units (Σ_d |mean_a,d − mean_b,d|), the single
    // worst dimension and its shift — an alert threshold on shift_l1
    // is the retraining/reindexing trigger. Scale: ONE posexplode +
    // (label, cohort, dim) map-combined sums; centroid algebra on the
    // bounded (label × 64) grid.
    "q461_embedding_drift" -> { (s, d) =>
      val dims = Tables.embeddings(s, d)
        .select(col("label"),
          (Dedup.neutralHash32(concat(lit("cohort:"),
            col("vec_id").cast("string"))) % 2).as("cohort"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
      val cent = dims.groupBy("label", "cohort", "dim")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      val a = cent.filter(col("cohort") === 0)
        .select(col("label"), col("dim"), col("n").as("n_a"),
          col("sq").as("sa"))
      val b = cent.filter(col("cohort") === 1)
        .select(col("label"), col("dim"), col("n").as("n_b"),
          col("sq").as("sb"))
      // |mean_a − mean_b| via the cross-multiplied NON-NEGATIVE quotient
      // (abs before DIV: floor and truncation agree on non-negatives, so
      // the two engines cannot drift on negative sums); product in
      // DECIMAL(38,0) — sa·n_b passes int64 near sf100
      a.join(b, Seq("label", "dim"))
        .withColumn("shift", expr(
          """CAST(abs(CAST(sa AS DECIMAL(38,0)) * n_b
            | - CAST(sb AS DECIMAL(38,0)) * n_a)
            | DIV (n_a * n_b) AS BIGINT)""".stripMargin))
        .groupBy("label")
        .agg(max(col("n_a")).cast("long").as("n_a"),
          max(col("n_b")).cast("long").as("n_b"),
          sum(col("shift")).cast("long").as("shift_l1_micro"),
          max(col("shift")).cast("long").as("max_dim_shift"),
          // argmax as arithmetic (dims < 1000): identical on both engines
          (max(expr("shift * 1000 + dim")) % 1000).cast("long")
            .as("worst_dim"))
        .orderBy("label")
    },

    // IVF SHARD-BALANCE audit — placing the q42 quantizer's cells onto
    // 8 index shards: the naive hash placement (cell % 8) versus
    // size-ranked round-robin, each strategy's used-shard count, max/min
    // shard load, and imbalance vs the ceil(total/8) bound. The naive
    // row is the cautionary tale measured: cell ids are the quantizer's
    // every-50th vec_ids, and multiples of 50 are EVEN mod 8 — hash
    // placement aliases with id structure and lands everything on half
    // the shards; occupancy-ranked round-robin is flat by construction.
    // This is q451's makespan lesson applied to the ANN serving tier.
    // Scale: cell sizes are one map-combined agg; the size rank is a
    // ≤ MaxCentroids² broadcast join-count over the bounded cell grid
    // (never a global window — the PlanSpec no-unpartitioned-window
    // rule holds for every declared query), never the vectors.
    "q456_ivf_shard_balance" -> { (s, d) =>
      val (assigned, _) = assignedCells(s, d)
      val sz = Caches.shared(assigned.groupBy("cell").agg(count(lit(1)).as("n")))
      val rk = sz.crossJoin(broadcast(sz.select(col("cell").as("c2"),
          col("n").as("n2"))))
        .groupBy("cell", "n")
        .agg((sum(when(col("n2") > col("n") ||
          (col("n2") === col("n") && col("c2") < col("cell")), 1L)
          .otherwise(0L)) + 1L).as("r"))
      val asg = rk.select(lit("s1_hash_assign").as("strategy"),
          expr("cell % 8").as("shard"), col("n"))
        .unionByName(rk.select(lit("s2_size_round_robin").as("strategy"),
          expr("(r - 1) % 8").as("shard"), col("n")))
      asg.groupBy("strategy", "shard").agg(sum(col("n")).as("load"))
        .groupBy("strategy")
        .agg(count(lit(1)).cast("long").as("n_shards_used"),
          sum(col("load")).cast("long").as("total_vecs"),
          max(col("load")).cast("long").as("max_shard"),
          min(col("load")).cast("long").as("min_shard"))
        .withColumn("imbalance_ppm",
          expr("CAST(max_shard * 1000000 DIV ((total_vecs + 7) DIV 8) AS BIGINT)"))
        .orderBy("strategy")
    }
  )

  /** Shared SQL prefix: deterministic centroid set + max-cosine cell
    * assignment — ONE definition mirroring [[assignedCells]], so the
    * coarse quantizer cannot drift between the q42/q83/q117 oracles
    * (the same one-definition rule as Dedup's ClusterLabelsSql). */
  private val CellAssignSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n0 AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n0
      |          WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 256),
      |assign AS (
      |  SELECT vec_id, label, v, nrm, cent_id AS cell, row_number() OVER
      |    (PARTITION BY vec_id
      |     ORDER BY round(list_dot_product(v, cv) / (nrm * cn), 6) DESC, cent_id) AS rn
      |  FROM n0, cents),
      |cells AS (SELECT vec_id, label, v, nrm, cell FROM assign WHERE rn = 1)""".stripMargin

  /** Assignment-only CTE: every vector of n0 to its max-cosine centroid
    * in `prev` ((cell, cv, ...)) — the SQL twin of [[assignTo]]. */
  private def lloydAssignSql(name: String, prev: String): String =
    s"""$name AS (
       |  SELECT vec_id, label, v, nrm, cell FROM (
       |    SELECT n0.vec_id, n0.label, n0.v, n0.nrm, p.cell,
       |      row_number() OVER (PARTITION BY n0.vec_id ORDER BY
       |        round(list_dot_product(n0.v, p.cv) /
       |          (n0.nrm * sqrt(list_dot_product(p.cv, p.cv))), 6) DESC,
       |        p.cell) AS rn
       |    FROM n0, $prev p) WHERE rn = 1)""".stripMargin

  /** One Lloyd iteration: assignment m`i` to prev centroids + fixed-point
    * centroid update c`i` — the SQL twin of one [[lloyd3]] loop body. */
  private def lloydIterSql(i: Int, prev: String): String =
    lloydAssignSql(s"m$i", prev) +
      s""",
         |qd$i AS (SELECT cell, g.i AS dim,
         |    CAST(floor(v[g.i] * 1000000 + 0.5) AS BIGINT) AS qv
         |  FROM m$i, UNNEST(generate_series(1, len(v))) AS g(i)),
         |s$i AS (SELECT cell, dim, CAST(SUM(qv) AS BIGINT) AS sq
         |  FROM qd$i GROUP BY 1, 2),
         |n$i AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM m$i GROUP BY 1),
         |c$i AS (
         |  SELECT s$i.cell, n$i.n_members,
         |    list_transform(array_agg(s$i.sq ORDER BY s$i.dim),
         |      x -> CAST(x AS DOUBLE) / 1000000 / n$i.n_members) AS cv
         |  FROM s$i JOIN n$i USING (cell) GROUP BY s$i.cell, n$i.n_members)""".stripMargin

  /** Shared SQL prefix: the full 3-iteration Lloyd ladder mirroring
    * [[lloyd3]] — ONE definition so the refined quantizer cannot drift
    * between the q416/q417/q418 oracles (the CellAssignSql rule,
    * iterated). Ends with c3 = the refined centroid set. */
  private val Lloyd3Sql: String =
    """WITH e0 AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n0 AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0),
      |c0 AS (SELECT vec_id AS cell, v AS cv FROM n0
      |       WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 256),
      |""".stripMargin +
      lloydIterSql(1, "c0") + ",\n" + lloydIterSql(2, "c1") + ",\n" +
      lloydIterSql(3, "c2")

  def oracle: Map[String, String] = Map(
    "q416_lloyd3_convergence" -> (Lloyd3Sql +
      """
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS iter, CAST(c1.cell AS BIGINT) AS cell,
        |    c1.n_members,
        |    round(sqrt(list_dot_product(c1.cv, c1.cv)), 6) AS new_norm,
        |    round(list_dot_product(c1.cv, c0.cv) /
        |      (sqrt(list_dot_product(c1.cv, c1.cv)) *
        |       sqrt(list_dot_product(c0.cv, c0.cv))), 6) AS shift_cos
        |  FROM c1 JOIN c0 ON c1.cell = c0.cell
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), CAST(c2.cell AS BIGINT), c2.n_members,
        |    round(sqrt(list_dot_product(c2.cv, c2.cv)), 6),
        |    round(list_dot_product(c2.cv, c1.cv) /
        |      (sqrt(list_dot_product(c2.cv, c2.cv)) *
        |       sqrt(list_dot_product(c1.cv, c1.cv))), 6)
        |  FROM c2 JOIN c1 ON c2.cell = c1.cell
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), CAST(c3.cell AS BIGINT), c3.n_members,
        |    round(sqrt(list_dot_product(c3.cv, c3.cv)), 6),
        |    round(list_dot_product(c3.cv, c2.cv) /
        |      (sqrt(list_dot_product(c3.cv, c3.cv)) *
        |       sqrt(list_dot_product(c2.cv, c2.cv))), 6)
        |  FROM c3 JOIN c2 ON c3.cell = c2.cell)
        |ORDER BY iter, cell""".stripMargin),

    "q417_ivf_recall_lloyd3" -> (Lloyd3Sql + ",\n" +
      lloydAssignSql("m4", "c3") +
      """,
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM m4
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |ex AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q, m4 c WHERE c.vec_id <> q_id),
        |exact3 AS (SELECT q_id, c_id FROM ex WHERE rn <= 3),
        |iv AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q JOIN m4 c USING (cell) WHERE c.vec_id <> q_id),
        |ivf3 AS (SELECT q_id, c_id FROM iv WHERE rn <= 3),
        |hits AS (
        |  SELECT e.q_id, COUNT(*) AS n_hit
        |  FROM exact3 e JOIN ivf3 i ON e.q_id = i.q_id AND e.c_id = i.c_id
        |  GROUP BY e.q_id)
        |SELECT q.q_id, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) * 1000000 // 3 AS BIGINT) AS recall_ppm
        |FROM q LEFT JOIN hits ON q.q_id = hits.q_id
        |ORDER BY q.q_id""".stripMargin),

    "q418_multiprobe_lloyd3" -> (Lloyd3Sql + ",\n" +
      lloydAssignSql("m4", "c3") +
      """,
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM m4
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |probes AS (
        |  SELECT q_id, cell, crn FROM (
        |    SELECT q_id, c3.cell, row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(list_dot_product(qv, c3.cv) /
        |        (qn * sqrt(list_dot_product(c3.cv, c3.cv))), 6) DESC,
        |      c3.cell) AS crn
        |    FROM q, c3) WHERE crn <= 4),
        |ex AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q, m4 c WHERE c.vec_id <> q_id),
        |exact3 AS (SELECT q_id, c_id FROM ex WHERE rn <= 3),
        |cand AS (
        |  SELECT p.q_id, c.vec_id AS c_id, p.crn
        |  FROM probes p JOIN m4 c USING (cell) WHERE c.vec_id <> p.q_id),
        |hit AS (
        |  SELECT e.q_id, e.c_id, cand.crn
        |  FROM exact3 e JOIN cand ON e.q_id = cand.q_id AND e.c_id = cand.c_id),
        |pg AS (SELECT CAST(UNNEST([1, 2, 4]) AS BIGINT) AS nprobe),
        |nq AS (SELECT COUNT(*) AS n_queries FROM q),
        |cnt AS (SELECT pg.nprobe, COUNT(c.c_id) AS n_candidates
        |        FROM pg LEFT JOIN cand c ON c.crn <= pg.nprobe GROUP BY 1),
        |hits AS (SELECT pg.nprobe, COUNT(h.c_id) AS n_hits
        |         FROM pg LEFT JOIN hit h ON h.crn <= pg.nprobe GROUP BY 1)
        |SELECT cnt.nprobe, CAST(nq.n_queries AS BIGINT) AS n_queries,
        |  CAST(cnt.n_candidates AS BIGINT) AS n_candidates,
        |  CAST(hits.n_hits AS BIGINT) AS n_hits,
        |  CAST(hits.n_hits * 1000000 // (3 * nq.n_queries) AS BIGINT) AS recall_ppm
        |FROM cnt JOIN hits USING (nprobe)
        |CROSS JOIN nq
        |ORDER BY cnt.nprobe""".stripMargin),
    "q193_label_confusability" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (
        |  SELECT label, g.i AS dim,
        |    CAST(floor(v[g.i] * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM e, UNNEST(generate_series(1, len(v))) AS g(i)),
        |s AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sq FROM q GROUP BY 1, 2),
        |arr AS (
        |  SELECT s.label, array_agg(s.sq ORDER BY s.dim) AS sq_arr
        |  FROM s GROUP BY s.label),
        |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM e GROUP BY 1),
        |lab AS (SELECT arr.label, sq_arr, n_vecs FROM arr JOIN n USING (label)),
        |pairs AS (
        |  SELECT CAST(a.label AS BIGINT) AS label_a,
        |    CAST(b.label AS BIGINT) AS label_b,
        |    a.n_vecs AS n_a, b.n_vecs AS n_b,
        |    list_sum(list_transform(generate_series(1, len(a.sq_arr)),
        |      i -> CAST(a.sq_arr[i] AS DOUBLE) * CAST(b.sq_arr[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.sq_arr,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.sq_arr,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM lab a JOIN lab b ON a.label < b.label)
        |SELECT label_a, label_b, n_a, n_b,
        |  CAST(floor((CASE WHEN na = 0 OR nb = 0 THEN 0
        |       ELSE dot / na / nb END) * 1000000000 + 0.5) AS BIGINT) AS cos_ppb
        |FROM pairs ORDER BY label_a, label_b""".stripMargin,

    "q117_cell_label_gini" -> (CellAssignSql +
      """,
        |cl AS (SELECT cell, label, COUNT(*) AS n_l FROM cells GROUP BY 1, 2),
        |tot AS (
        |  SELECT cell, label, n_l,
        |    SUM(n_l) OVER (PARTITION BY cell) AS n,
        |    n_l * 1000000 // SUM(n_l) OVER (PARTITION BY cell) AS p_ppm
        |  FROM cl)
        |SELECT cell, CAST(MAX(n) AS BIGINT) AS n_members,
        |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
        |  CAST(1000000 - SUM(p_ppm * p_ppm) // 1000000 AS BIGINT) AS gini_ppm
        |FROM tot GROUP BY cell ORDER BY cell""".stripMargin),

    "q112_embedding_moments" ->
      """WITH q AS (
        |  SELECT g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q6,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q3
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
        |a AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(q6) AS BIGINT) AS sum_q6,
        |    CAST(MIN(q6) AS BIGINT) AS min_q6,
        |    CAST(MAX(q6) AS BIGINT) AS max_q6,
        |    CAST(SUM(q3 * q3) AS BIGINT) AS ssq3,
        |    CAST(SUM(q3) AS BIGINT) AS s3
        |  FROM q GROUP BY dim)
        |SELECT dim, n_vecs, sum_q6, min_q6, max_q6,
        |  CAST(sum_q6 AS DOUBLE) / n_vecs / 1000000 AS mean,
        |  CAST(n_vecs * ssq3 - s3 * s3 AS DOUBLE) / n_vecs / n_vecs AS var_m2
        |FROM a ORDER BY dim""".stripMargin,

    "q83_kmeans_step" -> (CellAssignSql +
      """,
        |qd AS (
        |  SELECT cell, g.i AS dim, CAST(floor(v[g.i] * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM cells, UNNEST(generate_series(1, len(v))) AS g(i)),
        |s AS (SELECT cell, dim, CAST(SUM(qv) AS BIGINT) AS sq FROM qd GROUP BY 1, 2),
        |cnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members FROM cells GROUP BY 1),
        |nc AS (
        |  SELECT s.cell, cnt.n_members,
        |    list_transform(array_agg(s.sq ORDER BY s.dim),
        |                   x -> CAST(x AS DOUBLE) / 1000000 / cnt.n_members) AS ncv
        |  FROM s JOIN cnt USING (cell) GROUP BY s.cell, cnt.n_members)
        |SELECT nc.cell, nc.n_members,
        |  round(sqrt(list_dot_product(ncv, ncv)), 6) AS new_norm,
        |  round(list_dot_product(ncv, c.cv) /
        |        (sqrt(list_dot_product(ncv, ncv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS shift_cos
        |FROM nc JOIN cents c ON nc.cell = c.cent_id ORDER BY nc.cell""".stripMargin),

    "q42_ivf_ann" -> (CellAssignSql +
      """,
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM cells WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos
        |  FROM q JOIN cells c USING (cell) WHERE c.vec_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM p)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, c_id, cos
        |FROM r WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin),

    "q41_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  ORDER BY vec_id LIMIT 4096),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin,

    "q28_knn_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |p AS (
        |  SELECT q_id, vec_id AS c_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cos
        |  FROM q, n WHERE vec_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM p)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, c_id, cos
        |FROM r WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,

    "q85_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn FROM n
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |p AS (
        |  SELECT q_id, q_label, n.vec_id AS c_id, n.label AS c_label,
        |    round(list_dot_product(qv, n.v) / (qn * n.nrm), 6) AS cos
        |  FROM q, n WHERE n.vec_id <> q_id),
        |neg AS (
        |  SELECT q_id, CAST(q_label AS BIGINT) AS q_label, c_id AS hard_neg_id,
        |    cos AS neg_cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |  FROM p WHERE c_label <> q_label),
        |pos AS (
        |  SELECT q_id, c_id AS hard_pos_id, cos AS pos_cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos ASC, c_id) AS rn
        |  FROM p WHERE c_label = q_label)
        |SELECT neg.q_id, neg.q_label, neg.hard_neg_id, neg.neg_cos,
        |  pos.hard_pos_id, pos.pos_cos,
        |  round(pos.pos_cos - neg.neg_cos, 6) AS margin
        |FROM neg JOIN pos ON neg.q_id = pos.q_id AND neg.rn = 1 AND pos.rn = 1
        |ORDER BY neg.q_id""".stripMargin,

    "q29_lsh_ann" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |x AS (SELECT vec_id, j, CAST(floor(v[j+1]*1000000) AS BIGINT) AS xi
        |      FROM n, UNNEST(generate_series(0, 63)) AS g(j)),
        |planes AS (SELECT i, j, ((i*7919 + j*104729) % 2001) - 1000 AS w
        |           FROM UNNEST(generate_series(0, 11)) AS gi(i),
        |                UNNEST(generate_series(0, 63)) AS gj(j)),
        |dots AS (SELECT vec_id, i, SUM(xi*w) AS dotp
        |         FROM x JOIN planes USING (j) GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |              SUM(CASE WHEN dotp > 0 THEN (1::BIGINT << i) ELSE 0 END) AS bucket
        |            FROM dots GROUP BY 1),
        |eb AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN buckets USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM eb
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |p AS (SELECT q_id, c.vec_id AS c_id,
        |        round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos
        |      FROM q JOIN eb c USING (bucket) WHERE c.vec_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM p)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, c_id, cos
        |FROM r WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,

    "q91_knn_label_vote" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |        sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |p AS (
        |  SELECT q_id, q_label, vec_id AS c_id, label AS c_label,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cos
        |  FROM q, n WHERE vec_id <> q_id),
        |r AS (SELECT q_id, q_label, c_label,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM p),
        |votes AS (
        |  SELECT q_id, q_label, c_label, COUNT(*) AS n_votes
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
        |top AS (SELECT *, row_number() OVER (
        |          PARTITION BY q_id ORDER BY n_votes DESC, c_label) AS vr
        |        FROM votes)
        |SELECT q_id, CAST(q_label AS BIGINT) AS true_label,
        |  CAST(c_label AS BIGINT) AS voted_label,
        |  CAST(n_votes AS BIGINT) AS n_votes,
        |  c_label = q_label AS agree
        |FROM top WHERE vr = 1 ORDER BY q_id""".stripMargin,

    "q180_ann_recall" -> (CellAssignSql +
      """,
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM cells
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |ex AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q, cells c WHERE c.vec_id <> q_id),
        |exact3 AS (SELECT q_id, c_id FROM ex WHERE rn <= 3),
        |iv AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q JOIN cells c USING (cell) WHERE c.vec_id <> q_id),
        |ivf3 AS (SELECT q_id, c_id FROM iv WHERE rn <= 3),
        |hits AS (
        |  SELECT e.q_id, COUNT(*) AS n_hit
        |  FROM exact3 e JOIN ivf3 i ON e.q_id = i.q_id AND e.c_id = i.c_id
        |  GROUP BY e.q_id)
        |SELECT q.q_id, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) * 1000000 // 3 AS BIGINT) AS recall_ppm
        |FROM q LEFT JOIN hits ON q.q_id = hits.q_id
        |ORDER BY q.q_id""".stripMargin),

    "q279_ivf_multiprobe" -> (CellAssignSql +
      """,
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM cells
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |probes AS (
        |  SELECT q_id, cell, crn FROM (
        |    SELECT q_id, cent_id AS cell, row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(list_dot_product(qv, cv) / (qn * cn), 6) DESC,
        |      cent_id) AS crn
        |    FROM q, cents) WHERE crn <= 4),
        |ex AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY
        |      round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) DESC,
        |      c.vec_id) AS rn
        |  FROM q, cells c WHERE c.vec_id <> q_id),
        |exact3 AS (SELECT q_id, c_id FROM ex WHERE rn <= 3),
        |cand AS (
        |  SELECT p.q_id, c.vec_id AS c_id, p.crn
        |  FROM probes p JOIN cells c USING (cell) WHERE c.vec_id <> p.q_id),
        |hit AS (
        |  SELECT e.q_id, e.c_id, cand.crn
        |  FROM exact3 e JOIN cand ON e.q_id = cand.q_id AND e.c_id = cand.c_id),
        |pg AS (SELECT CAST(UNNEST([1, 2, 4]) AS BIGINT) AS nprobe),
        |nq AS (SELECT COUNT(*) AS n_queries FROM q),
        |cnt AS (SELECT pg.nprobe, COUNT(c.c_id) AS n_candidates
        |        FROM pg LEFT JOIN cand c ON c.crn <= pg.nprobe GROUP BY 1),
        |hits AS (SELECT pg.nprobe, COUNT(h.c_id) AS n_hits
        |         FROM pg LEFT JOIN hit h ON h.crn <= pg.nprobe GROUP BY 1)
        |SELECT cnt.nprobe, CAST(nq.n_queries AS BIGINT) AS n_queries,
        |  CAST(cnt.n_candidates AS BIGINT) AS n_candidates,
        |  CAST(hits.n_hits AS BIGINT) AS n_hits,
        |  CAST(hits.n_hits * 1000000 // (3 * nq.n_queries) AS BIGINT) AS recall_ppm
        |FROM cnt JOIN hits USING (nprobe) CROSS JOIN nq
        |ORDER BY cnt.nprobe""".stripMargin),

    "q314_lsh_bucket_load" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, j, CAST(floor(v[j+1]*1000000) AS BIGINT) AS xi
        |      FROM e, UNNEST(generate_series(0, 63)) AS g(j)),
        |planes AS (SELECT i, j, ((i*7919 + j*104729) % 2001) - 1000 AS w
        |           FROM UNNEST(generate_series(0, 11)) AS gi(i),
        |                UNNEST(generate_series(0, 63)) AS gj(j)),
        |dots AS (SELECT vec_id, i, SUM(xi*w) AS dotp
        |         FROM x JOIN planes USING (j) GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |              SUM(CASE WHEN dotp > 0 THEN (1::BIGINT << i) ELSE 0 END) AS bucket
        |            FROM dots GROUP BY 1),
        |sz AS (SELECT bucket, COUNT(*) AS sz FROM buckets GROUP BY 1),
        |lad AS (SELECT CAST(1 << CAST(i.i AS INT) AS BIGINT) AS lo
        |        FROM UNNEST(generate_series(0, 19)) i(i)),
        |cls AS (
        |  SELECT lad.lo, COUNT(*) AS n_buckets, SUM(sz.sz) AS n_vectors,
        |    SUM(sz.sz * (sz.sz - 1) // 2) AS cand_pairs
        |  FROM sz JOIN lad ON sz.sz >= lad.lo AND sz.sz < lad.lo * 2
        |  GROUP BY 1),
        |tot AS (SELECT SUM(cand_pairs) AS total_cand, SUM(n_vectors) AS nv
        |        FROM cls)
        |SELECT cls.lo AS size_class_lo,
        |  CAST(cls.n_buckets AS BIGINT) AS n_buckets,
        |  CAST(cls.n_vectors AS BIGINT) AS n_vectors,
        |  CAST(cls.cand_pairs AS BIGINT) AS cand_pairs,
        |  CAST(tot.total_cand AS BIGINT) AS total_cand,
        |  CAST(tot.nv * (tot.nv - 1) // 2 AS BIGINT) AS brute_pairs,
        |  CAST(tot.total_cand * 1000000 // (tot.nv * (tot.nv - 1) // 2) AS BIGINT)
        |    AS work_ppm
        |FROM cls CROSS JOIN tot ORDER BY size_class_lo""".stripMargin,

    "q312_hubness" ->
      """WITH e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0),
        |e AS (SELECT * FROM n0 ORDER BY vec_id LIMIT 4096),
        |pr AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |t3 AS (SELECT cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |    FROM pr) WHERE rn <= 3),
        |k AS (SELECT cid, COUNT(*) AS k3 FROM t3 GROUP BY 1)
        |SELECT CAST(COALESCE(k.k3, 0) AS BIGINT) AS n3,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM e LEFT JOIN k ON k.cid = e.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q313_twonn_ratios" ->
      """WITH e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0),
        |e AS (SELECT * FROM n0 ORDER BY vec_id LIMIT 4096),
        |pr AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    round(1 - list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS dist
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |t2 AS (SELECT qid, dist, rn FROM (
        |    SELECT qid, dist,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
        |    FROM pr) WHERE rn <= 2),
        |mu AS (
        |  SELECT qid, MIN(CASE WHEN rn = 1 THEN dist END) AS r1,
        |    MIN(CASE WHEN rn = 2 THEN dist END) AS r2
        |  FROM t2 GROUP BY 1),
        |good AS (
        |  SELECT CAST(FLOOR(r2 / r1 * 1000000000 + 0.5) AS BIGINT) AS mu_ppb
        |  FROM mu WHERE r1 > 0),
        |nd AS (SELECT COUNT(*) AS n_degenerate FROM mu WHERE r1 <= 0),
        |g AS (SELECT mu_ppb, COUNT(*) AS f FROM good GROUP BY 1),
        |cum AS (
        |  SELECT a.mu_ppb, a.f, COALESCE(SUM(b.f), 0) AS below
        |  FROM g a LEFT JOIN g b ON b.mu_ppb < a.mu_ppb GROUP BY 1, 2),
        |n AS (SELECT SUM(f) AS n FROM g),
        |dec AS (SELECT CAST(i.i AS BIGINT) AS decile
        |        FROM UNNEST(generate_series(1, 9)) i(i))
        |SELECT dec.decile, CAST(cum.mu_ppb AS BIGINT) AS mu_ppb,
        |  CAST(n.n AS BIGINT) AS n_vecs,
        |  CAST(nd.n_degenerate AS BIGINT) AS n_degenerate
        |FROM cum CROSS JOIN n CROSS JOIN dec CROSS JOIN nd
        |WHERE 10 * cum.below < dec.decile * n.n
        |  AND dec.decile * n.n <= 10 * (cum.below + cum.f)
        |ORDER BY dec.decile""".stripMargin,

    "q317_semdedup" -> (CellAssignSql +
      s""",
        |pr AS (
        |  SELECT b.cell, b.vec_id AS id_b
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $SemTau
        |  GROUP BY 1, 2),
        |pc AS (SELECT cell, COUNT(*) AS n_pruned FROM pr GROUP BY 1),
        |nc AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY 1)
        |SELECT CAST(nc.cell AS BIGINT) AS cell,
        |  CAST(nc.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_pruned,
        |  CAST(nc.n_vecs - COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(pc.n_pruned, 0) * 1000000 // nc.n_vecs AS BIGINT)
        |    AS prune_ppm
        |FROM nc LEFT JOIN pc ON nc.cell = pc.cell ORDER BY cell""".stripMargin),

    "q319_mmr_select" ->
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |anch AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n0
        |         ORDER BY vec_id LIMIT 1),
        |cand AS (
        |  SELECT vec_id, v, nrm,
        |    CAST(floor(round(list_dot_product(v, qv) / (nrm * qn), 6)
        |      * 1000000 + 0.5) AS BIGINT) AS rel_u
        |  FROM n0, anch WHERE vec_id <> qid
        |  ORDER BY rel_u DESC, vec_id LIMIT $MmrCandidates),
        |sim AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    CAST(floor(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
        |      * 1000000 + 0.5) AS BIGINT) AS sim_u
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |s1 AS (SELECT vec_id, rel_u FROM cand ORDER BY rel_u DESC, vec_id LIMIT 1),
        |p2 AS (
        |  SELECT c.vec_id, c.rel_u, MAX(s.sim_u) AS maxsim_u
        |  FROM cand c JOIN sim s ON s.ida = c.vec_id
        |    AND s.idb IN (SELECT vec_id FROM s1)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY 1, 2),
        |s2 AS (SELECT vec_id, rel_u, maxsim_u, rel_u - maxsim_u AS score_u
        |       FROM p2 ORDER BY score_u DESC, vec_id LIMIT 1),
        |sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
        |p3 AS (
        |  SELECT c.vec_id, c.rel_u, MAX(s.sim_u) AS maxsim_u
        |  FROM cand c JOIN sim s ON s.ida = c.vec_id
        |    AND s.idb IN (SELECT vec_id FROM sel2)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
        |  GROUP BY 1, 2),
        |s3 AS (SELECT vec_id, rel_u, maxsim_u, rel_u - maxsim_u AS score_u
        |       FROM p3 ORDER BY score_u DESC, vec_id LIMIT 1),
        |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
        |p4 AS (
        |  SELECT c.vec_id, c.rel_u, MAX(s.sim_u) AS maxsim_u
        |  FROM cand c JOIN sim s ON s.ida = c.vec_id
        |    AND s.idb IN (SELECT vec_id FROM sel3)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
        |  GROUP BY 1, 2),
        |s4 AS (SELECT vec_id, rel_u, maxsim_u, rel_u - maxsim_u AS score_u
        |       FROM p4 ORDER BY score_u DESC, vec_id LIMIT 1),
        |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
        |p5 AS (
        |  SELECT c.vec_id, c.rel_u, MAX(s.sim_u) AS maxsim_u
        |  FROM cand c JOIN sim s ON s.ida = c.vec_id
        |    AND s.idb IN (SELECT vec_id FROM sel4)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
        |  GROUP BY 1, 2),
        |s5 AS (SELECT vec_id, rel_u, maxsim_u, rel_u - maxsim_u AS score_u
        |       FROM p5 ORDER BY score_u DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS step, vec_id, rel_u,
        |  CAST(0 AS BIGINT) AS maxsim_u, rel_u AS score_u FROM s1
        |UNION ALL SELECT 2, vec_id, rel_u, maxsim_u, score_u FROM s2
        |UNION ALL SELECT 3, vec_id, rel_u, maxsim_u, score_u FROM s3
        |UNION ALL SELECT 4, vec_id, rel_u, maxsim_u, score_u FROM s4
        |UNION ALL SELECT 5, vec_id, rel_u, maxsim_u, score_u FROM s5
        |ORDER BY step""".stripMargin,

    "q334_matryoshka" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n0
        |      WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 64),
        |pr AS (
        |  SELECT q.qid, n0.vec_id AS cid, n0.v, q.qv,
        |    CAST(floor(round(list_dot_product(n0.v, q.qv) / (n0.nrm * q.qn), 6)
        |      * 1000000 + 0.5) AS BIGINT) AS c64
        |  FROM n0, q WHERE n0.vec_id <> q.qid),
        |ks AS (SELECT CAST(k.k AS BIGINT) AS k FROM UNNEST([8, 16, 32]) AS k(k)),
        |tr AS (
        |  SELECT ks.k, pr.qid, pr.cid, pr.c64,
        |    CAST(floor(round(
        |      CASE WHEN list_dot_product(pr.v[1:ks.k], pr.v[1:ks.k]) = 0
        |             OR list_dot_product(pr.qv[1:ks.k], pr.qv[1:ks.k]) = 0
        |           THEN 0
        |           ELSE list_dot_product(pr.v[1:ks.k], pr.qv[1:ks.k]) /
        |             (sqrt(list_dot_product(pr.v[1:ks.k], pr.v[1:ks.k])) *
        |              sqrt(list_dot_product(pr.qv[1:ks.k], pr.qv[1:ks.k])))
        |      END, 6) * 1000000 + 0.5) AS BIGINT) AS ck
        |  FROM pr CROSS JOIN ks),
        |t64 AS (SELECT qid, cid AS nn64 FROM (
        |    SELECT qid, cid, row_number() OVER
        |      (PARTITION BY qid ORDER BY c64 DESC, cid) AS rn FROM pr)
        |  WHERE rn = 1),
        |tk AS (SELECT k, qid, cid AS nnk FROM (
        |    SELECT k, qid, cid, row_number() OVER
        |      (PARTITION BY k, qid ORDER BY ck DESC, cid) AS rn FROM tr)
        |  WHERE rn = 1),
        |pres AS (
        |  SELECT k, COUNT(*) AS n_queries,
        |    SUM(CASE WHEN nnk = nn64 THEN 1 ELSE 0 END) AS nn_preserved
        |  FROM tk JOIN t64 USING (qid) GROUP BY 1),
        |dd AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(ABS(ck - c64)) AS ds, MAX(ABS(ck - c64)) AS md
        |  FROM tr GROUP BY 1)
        |SELECT dd.k, n_pairs, CAST(ds // n_pairs AS BIGINT) AS mean_dist_u,
        |  CAST(md AS BIGINT) AS max_dist_u,
        |  CAST(n_queries AS BIGINT) AS n_queries,
        |  CAST(nn_preserved AS BIGINT) AS nn_preserved,
        |  CAST(nn_preserved * 1000000 // n_queries AS BIGINT) AS recall1_ppm
        |FROM dd JOIN pres USING (k) ORDER BY dd.k""".stripMargin,

    "q336_lsh_multiprobe" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |x AS (SELECT vec_id, j, CAST(floor(v[j+1]*1000000) AS BIGINT) AS xi
        |      FROM n, UNNEST(generate_series(0, 63)) AS g(j)),
        |planes AS (SELECT i, j, ((i*7919 + j*104729) % 2001) - 1000 AS w
        |           FROM UNNEST(generate_series(0, 11)) AS gi(i),
        |                UNNEST(generate_series(0, 63)) AS gj(j)),
        |dots AS (SELECT vec_id, i, SUM(xi*w) AS dotp
        |         FROM x JOIN planes USING (j) GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |              SUM(CASE WHEN dotp > 0 THEN (1::BIGINT << i) ELSE 0 END) AS bucket
        |            FROM dots GROUP BY 1),
        |eb AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN buckets USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS qb FROM eb
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |ex AS (SELECT q_id, c_id FROM (
        |    SELECT q.q_id, c.vec_id AS c_id,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 6) DESC,
        |        c.vec_id) AS rn
        |    FROM q, n c WHERE c.vec_id <> q.q_id) WHERE rn <= 5),
        |nex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
        |probes AS (
        |  SELECT 'single' AS mode, q_id, qv, qn, qb AS bucket FROM q
        |  UNION ALL
        |  SELECT 'multi', q_id, qv, qn, qb FROM q
        |  UNION ALL
        |  SELECT 'multi', q_id, qv, qn, xor(qb, (1::BIGINT << i))
        |  FROM q, UNNEST(generate_series(0, 11)) AS gi(i)),
        |cand AS (
        |  SELECT p.mode, p.q_id, p.qv, p.qn, c.vec_id AS c_id, c.v, c.nrm
        |  FROM probes p JOIN eb c USING (bucket) WHERE c.vec_id <> p.q_id),
        |nc AS (SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |       FROM cand GROUP BY 1),
        |top AS (SELECT mode, q_id, c_id FROM (
        |    SELECT mode, q_id, c_id,
        |      row_number() OVER (PARTITION BY mode, q_id ORDER BY
        |        round(list_dot_product(qv, v) / (qn * nrm), 6) DESC, c_id) AS rn
        |    FROM cand) WHERE rn <= 5),
        |hits AS (SELECT mode, CAST(COUNT(*) AS BIGINT) AS hits
        |         FROM top JOIN ex USING (q_id, c_id) GROUP BY mode),
        |modes AS (SELECT 'single' AS mode UNION ALL SELECT 'multi')
        |SELECT m.mode, CAST(COALESCE(nc.n_candidates, 0) AS BIGINT)
        |    AS n_candidates,
        |  CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits, nex.n_exact,
        |  CAST(COALESCE(hits.hits, 0) * 1000000 // nex.n_exact AS BIGINT)
        |    AS recall_ppm
        |FROM modes m LEFT JOIN nc USING (mode) LEFT JOIN hits USING (mode)
        |  CROSS JOIN nex
        |ORDER BY m.mode""".stripMargin,

    "q343_int8_quant" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, g.j - 1 AS dim, v[g.j] AS x
        |      FROM e, UNNEST(generate_series(1, len(v))) AS g(j)),
        |sc AS (SELECT dim, MAX(ABS(x)) AS amax FROM x GROUP BY 1),
        |q AS (
        |  SELECT x.dim,
        |    CAST(CASE WHEN sc.amax = 0 THEN 0
        |      ELSE floor(x.x * 127 / sc.amax + 0.5) END AS BIGINT) AS q,
        |    sc.amax
        |  FROM x JOIN sc USING (dim))
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(floor(MAX(amax) * 1000000 + 0.5) AS BIGINT) AS absmax_u,
        |  CAST(SUM(ABS(q)) AS BIGINT) AS sum_abs_q,
        |  CAST(SUM(CASE WHEN ABS(q) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_saturated,
        |  CAST(SUM(ABS(q)) * 1000000 // (127 * COUNT(*)) AS BIGINT) AS util_ppm
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "q395_fisher_separability" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |qd AS (SELECT label, g.i - 1 AS dim, q[g.i] AS qx
        |  FROM e, UNNEST(generate_series(1, len(q))) AS g(i)),
        |perld AS (SELECT label, dim, CAST(SUM(qx) AS BIGINT) AS sj
        |  FROM qd GROUP BY 1, 2),
        |perl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(list_sum(list_transform(q, x -> x * x))) AS BIGINT)
        |      AS ssq
        |  FROM e GROUP BY 1),
        |w AS (SELECT p.label, p.n,
        |    CAST(p.n AS HUGEINT) * p.ssq
        |      - (SELECT SUM(CAST(sj AS HUGEINT) * sj) FROM perld d
        |         WHERE d.label = p.label) AS w
        |  FROM perl p),
        |d2 AS (
        |  SELECT a.label AS la, b.label AS lb, pa.n AS na, pb.n AS nb,
        |    SUM(CAST(a.sj * pb.n - b.sj * pa.n AS HUGEINT)
        |      * (a.sj * pb.n - b.sj * pa.n)) AS d2num
        |  FROM perld a JOIN perld b ON a.dim = b.dim AND a.label < b.label
        |  JOIN perl pa ON pa.label = a.label
        |  JOIN perl pb ON pb.label = b.label
        |  GROUP BY 1, 2, 3, 4)
        |SELECT la AS label_a, lb AS label_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(d2num * 1000 // (CAST(na AS HUGEINT) * na * nb * nb)
        |    AS BIGINT) AS d2_milli,
        |  CAST(wa.w * 1000 // (CAST(na AS HUGEINT) * na) AS BIGINT)
        |    AS w2_a_milli,
        |  CAST(wb.w * 1000 // (CAST(nb AS HUGEINT) * nb) AS BIGINT)
        |    AS w2_b_milli,
        |  CAST(d2num * 1000000 // GREATEST(CAST(nb AS HUGEINT) * nb * wa.w
        |    + CAST(na AS HUGEINT) * na * wb.w, 1) AS BIGINT) AS fisher_ppm
        |FROM d2 JOIN w wa ON wa.label = d2.la JOIN w wb ON wb.label = d2.lb
        |ORDER BY 1, 2""".stripMargin,

    "q396_silhouette" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS q_id, label AS q_label, q AS qv FROM e
        |  WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
        |dd AS (
        |  SELECT s.q_id, s.q_label, c.label AS c_label,
        |    list_sum(list_transform(generate_series(1, len(s.qv)),
        |      i -> (s.qv[i] - c.q[i]) * (s.qv[i] - c.q[i]))) AS dd
        |  FROM qs s JOIN e c ON c.vec_id <> s.q_id),
        |agg AS (SELECT q_id, q_label, c_label, CAST(SUM(dd) AS BIGINT) AS sd,
        |    CAST(COUNT(*) AS BIGINT) AS m
        |  FROM dd GROUP BY 1, 2, 3),
        |aleg AS (SELECT q_id, sd AS sa, m AS ma FROM agg
        |  WHERE c_label = q_label),
        |bleg AS (
        |  SELECT q_id, q_label, c_label AS b_label, sd AS sb, m AS mb,
        |    sd // m AS b_mean_e0,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sd // m, c_label)
        |      AS rn
        |  FROM agg WHERE c_label <> q_label)
        |SELECT CAST(b.q_id AS BIGINT) AS q_id,
        |  CAST(b.q_label AS BIGINT) AS label,
        |  CAST(b.b_label AS BIGINT) AS b_label,
        |  a.ma AS n_same, b.mb AS n_b_label,
        |  CAST(a.sa // a.ma AS BIGINT) AS a_mean_e0,
        |  CAST(b.b_mean_e0 AS BIGINT) AS b_mean_e0,
        |  CAST(CASE WHEN CAST(b.sb AS HUGEINT) * a.ma
        |      - CAST(a.sa AS HUGEINT) * b.mb >= 0
        |    THEN (CAST(b.sb AS HUGEINT) * a.ma - CAST(a.sa AS HUGEINT) * b.mb)
        |      * 1000000 // GREATEST(GREATEST(CAST(b.sb AS HUGEINT) * a.ma,
        |      CAST(a.sa AS HUGEINT) * b.mb), 1)
        |    ELSE -((CAST(a.sa AS HUGEINT) * b.mb
        |      - CAST(b.sb AS HUGEINT) * a.ma)
        |      * 1000000 // GREATEST(GREATEST(CAST(b.sb AS HUGEINT) * a.ma,
        |      CAST(a.sa AS HUGEINT) * b.mb), 1))
        |    END AS BIGINT) AS s_ppm
        |FROM bleg b JOIN aleg a ON a.q_id = b.q_id WHERE b.rn = 1
        |ORDER BY 1""".stripMargin,

    "q397_dim_eta2" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |qd AS (SELECT label, g.i - 1 AS dim, q[g.i] AS qx
        |  FROM e, UNNEST(generate_series(1, len(q))) AS g(i)),
        |g1 AS (SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(qx) AS BIGINT) AS sg
        |  FROM qd GROUP BY 1, 2),
        |g2 AS (SELECT dim, SUM(CAST(sg AS HUGEINT) * sg * 1000000 // ng)
        |    AS sg2e6
        |  FROM g1 GROUP BY 1),
        |da AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(qx) AS BIGINT) AS ss,
        |    CAST(SUM(qx * qx) AS BIGINT) AS ssq
        |  FROM qd GROUP BY 1)
        |SELECT CAST(da.dim AS BIGINT) AS dim, da.nn AS n_vecs,
        |  da.ss AS sum_q3,
        |  CAST(GREATEST(g2.sg2e6 - CAST(da.ss AS HUGEINT) * da.ss * 1000000
        |    // da.nn, 0) AS BIGINT) AS ssb_e6,
        |  CAST(CAST(da.ssq AS HUGEINT) * 1000000
        |    - CAST(da.ss AS HUGEINT) * da.ss * 1000000 // da.nn AS BIGINT)
        |    AS sst_e6,
        |  CAST(GREATEST(g2.sg2e6 - CAST(da.ss AS HUGEINT) * da.ss * 1000000
        |      // da.nn, 0) * 1000000
        |    // GREATEST(CAST(da.ssq AS HUGEINT) * 1000000
        |      - CAST(da.ss AS HUGEINT) * da.ss * 1000000 // da.nn, 1)
        |    AS BIGINT) AS eta2_ppm
        |FROM da JOIN g2 ON g2.dim = da.dim ORDER BY 1""".stripMargin,

    "q461_embedding_drift" ->
      """WITH dims AS (
        |  SELECT label,
        |    ('0x' || substr(md5('cohort:' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS cohort, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings,
        |    UNNEST(generate_series(1, len(embedding))) AS g(i)),
        |cent AS (
        |  SELECT label, cohort, dim, COUNT(*) AS n, SUM(q) AS sq
        |  FROM dims GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
        |    ABS(CAST(a.sq AS HUGEINT) * b.n - CAST(b.sq AS HUGEINT) * a.n)
        |      // (a.n * b.n) AS shift
        |  FROM cent a JOIN cent b
        |    ON a.label = b.label AND a.dim = b.dim
        |   AND a.cohort = 0 AND b.cohort = 1)
        |SELECT label, CAST(MAX(n_a) AS BIGINT) AS n_a,
        |  CAST(MAX(n_b) AS BIGINT) AS n_b,
        |  CAST(SUM(shift) AS BIGINT) AS shift_l1_micro,
        |  CAST(MAX(shift) AS BIGINT) AS max_dim_shift,
        |  CAST(MAX(shift * 1000 + dim) % 1000 AS BIGINT) AS worst_dim
        |FROM ab GROUP BY 1 ORDER BY 1""".stripMargin,

    "q456_ivf_shard_balance" -> (CellAssignSql +
      """,
        |sz AS (SELECT cell, COUNT(*) AS n FROM cells GROUP BY 1),
        |rk AS (SELECT cell, n,
        |         row_number() OVER (ORDER BY n DESC, cell) AS r FROM sz),
        |asg AS (
        |  SELECT 's1_hash_assign' AS strategy, cell % 8 AS shard, n FROM rk
        |  UNION ALL
        |  SELECT 's2_size_round_robin', (r - 1) % 8, n FROM rk),
        |loads AS (
        |  SELECT strategy, shard, SUM(n) AS load
        |  FROM asg GROUP BY 1, 2)
        |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_shards_used,
        |  CAST(SUM(load) AS BIGINT) AS total_vecs,
        |  CAST(MAX(load) AS BIGINT) AS max_shard,
        |  CAST(MIN(load) AS BIGINT) AS min_shard,
        |  CAST(MAX(load) * 1000000 // ((SUM(load) + 7) // 8) AS BIGINT)
        |    AS imbalance_ppm
        |FROM loads GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
