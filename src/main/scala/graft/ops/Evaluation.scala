package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Round-6 model/corpus EVALUATION operators (SURVEY.md §2F, F24–F33):
  * the statistics a training-data pipeline runs to decide whether a
  * filter, detector, or split is good enough to gate a corpus by —
  * rank-sum distribution shift, dominant-eigenvector power iteration,
  * detector PR sweep + calibration, chance-corrected agreement,
  * seasonal forecast-error ratios, sketch-vs-exact corpus overlap,
  * the vocabulary coverage curve, and the shard-manifest + pack-planner
  * audits for the training-shard write path.
  *
  * Same contract as every ops module: each query paired with a DuckDB
  * oracle over the same parquet, engine-neutral md5-derived hashing
  * (never rand()), floor-ppm integer arithmetic, map-combinable
  * aggregations, windows only over value-bounded grids.
  */
object Evaluation {

  /** q209's shard count — ONE definition read by the query,
    * interpolated into the oracle, and asserted by EvaluationSpec. */
  private[graft] val Shards = 16

  /** q212's pack-file target size in chars — the sf-scale stand-in for
    * a 256 MB shard file; ONE definition read by the query and
    * interpolated into the oracle. */
  private[graft] val PackTarget = 4096L

  /** q205/q206's detector: per-doc overlap with the top-50 English
    * character-trigram profile (q37's profile rule — doc_id % 3 training
    * sample, count-desc/tri tiebreak — restricted to the 'en' gold
    * rows), rescaled to ppm of the profile size so the calibration bins
    * read as confidence deciles. Every document appears (zero-overlap
    * docs score 0 via the left join), the profile is a 50-row broadcast,
    * and the score grid is 51-valued — integer-exact in both engines.
    * Returns (score, pos). */
  private def detectorScores(s: SparkSession, d: String): DataFrame =
    // MEMOIZED per (session, dir) and PINNED (round 11): three queries
    // (q205 sweep, q206 calibration, q303 Brier) re-derive this identical
    // per-doc frame, each paying the two full character-trigram explodes;
    // the frame is two long columns per document — linear in docs, the
    // pinnable shape — so the build runs once per suite session.
    Caches.family(s, d, "detectorScores") {
      Caches.pinned(detectorScoresUncached(s, d))
    }

  private def detectorScoresUncached(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val profile = docs.filter(col("lang") === "en")
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text) - 2)," +
          " i -> substring(text, i, 3))")).as("tri"))
      .filter(col("doc_id") % 3 === 0)
      .groupBy("tri").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tri")).limit(50)
      .select("tri")
    // Round-12 overlap leg (guide §2.3/§2.4): the profile is a BOUNDED
    // 50-trigram set, so "how many profile trigrams does this doc
    // contain" is an IN-ROW membership count over the broadcast array —
    // ov = size(filter(pa, p -> instr(text, p) > 0)). For 3-char
    // patterns instr > 0 is exactly trigram-set membership (a length-3
    // match can only start at positions 1..len-2), so this equals the
    // old countDistinct over the full-corpus trigram explode — with the
    // explode, the broadcast join, the (doc_id) exchange, and the
    // left-join re-attach all gone: the build is ONE documents scan.
    // EvaluationSpec pins equality against the exploded form.
    val pa = profile.agg(sort_array(collect_list(col("tri"))).as("pa"))
    docs.crossJoin(broadcast(pa))
      .select(expr("CAST(size(filter(pa, p -> instr(text, p) > 0))" +
          " * 1000000 DIV 50 AS BIGINT)").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
  }

  /** DuckDB mirror of [[detectorScores]] — CTE prefix ending in
    * `scored(score, pos)`. The profile top-50 is ORDER BY + LIMIT in
    * both engines (TakeOrdered on the Spark side — no global window;
    * (cnt, tri) is a total order, so the sets agree exactly). */
  private val DetectorScoreSql =
    """WITH tris AS (
      |  SELECT doc_id, substr(text, i, 3) AS tri
      |  FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS g(i)),
      |prof AS (
      |  SELECT tri FROM (
      |    SELECT tri, COUNT(*) AS cnt
      |    FROM documents d,
      |      UNNEST(generate_series(1, length(d.text) - 2)) AS g(i),
      |      LATERAL (SELECT substr(d.text, g.i, 3) AS tri) t
      |    WHERE d.lang = 'en' AND d.doc_id % 3 = 0
      |    GROUP BY tri ORDER BY cnt DESC, tri LIMIT 50) p),
      |ov AS (
      |  SELECT doc_id, COUNT(*) AS ov FROM (
      |    SELECT DISTINCT doc_id, tri FROM tris) dt
      |  JOIN prof USING (tri) GROUP BY 1),
      |scored AS (
      |  SELECT CAST(COALESCE(o.ov, 0) * 1000000 // 50 AS BIGINT) AS score,
      |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents d LEFT JOIN ov o USING (doc_id))""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Mann–Whitney U rank-sum per source vs the rest of the corpus —
    // the nonparametric "did this source's length distribution shift"
    // test next to E2/q113's KS sup-distance: U is the count of
    // (this-source, rest) pairs where this source's doc is longer
    // (ties ½), so u2 = 2U stays integer under average-rank tie
    // handling, and auc_ppm = U/(n₁·n₂) is the probability-of-
    // superiority effect size (500 000 ppm = no shift). Computed
    // WITHOUT a global rank over docs: counts collapse onto the
    // |distinct lengths| grid first, below(len) is a predecessor-count
    // join on that value-bounded broadcast grid (the q201 rank rule —
    // no unpartitioned window anywhere), and 2·ranksum =
    // Σ_len n_s(len)·(2·below(len) + n(len) + 1). Magnitude: u2 ≤ 2·n₁·n₂ < N² — int64-safe to
    // N ≈ 3·10⁹ docs; beyond, widen the two products to DECIMAL(38,0)
    // (documented, not silently wrong: auc_ppm's divisor overflows
    // first and loudly).
    "q203_mannwhitney_u" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
      val grid0 = docs.groupBy("n_chars").agg(count(lit(1)).as("n"))
      // predecessor-count join on the bounded grid (the q201 rank rule):
      // below(len) = Σ n over strictly shorter lengths — no global window
      val grid = grid0.join(broadcast(grid0
          .select(col("n_chars").as("lc"), col("n").as("ln"))),
          col("n_chars") > col("lc"), "left")
        .groupBy("n_chars", "n")
        .agg(coalesce(sum(col("ln")), lit(0L)).as("below"))
      val perSrc = docs.groupBy("source", "n_chars")
        .agg(count(lit(1)).as("ns"))
      val tot = docs.agg(count(lit(1)).as("n_total"))
      perSrc.join(grid, "n_chars")
        .groupBy("source")
        .agg(sum(col("ns")).cast("long").as("n_src"),
          sum(col("ns") * (lit(2) * col("below") + col("n") + lit(1)))
            .cast("long").as("r2"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_src"),
          (col("n_total") - col("n_src")).cast("long").as("n_rest"),
          (col("r2") - col("n_src") * (col("n_src") + lit(1)))
            .cast("long").as("u2"),
          (col("n_src") * (col("n_total") - col("n_src")))
            .cast("long").as("eu2"))
        .withColumn("auc_ppm",
          expr("CAST(u2 * 1000000 DIV (2 * eu2) AS BIGINT)"))
        .orderBy("source")
    },

    // Dominant-eigenvector POWER-ITERATION step over the embedding
    // Gram matrix — the spectral sibling of E1/q112's per-dim moments
    // and the first step of any PCA/whitening pass: v₁ = AᵀA·1 in
    // exact fixed point (q3 = floor(x·10³+0.5) per q112's convention).
    // The trick that keeps it ONE scan with NO join: the row inner
    // product s_r = Σ_d q_rd·v₀_d with v₀ = 1 folds inside the array
    // via aggregate() BEFORE the posexplode, so each exploded element
    // already carries its row factor — map-side only until the final
    // 64-key combine. norm_ppm rescales by the max
    // |component| via a one-row broadcast (agg + cross join — no
    // global window). Magnitude: |q·s| ≤ 3·10³·2·10⁵ ≈
    // 6·10⁸ per element — int64-safe to ~10¹⁰ rows; beyond, the sum
    // widens to DECIMAL(38,0).
    "q204_power_iteration" -> { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(
          expr("aggregate(embedding, 0L, (a, x) -> a +" +
            " CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5D) AS BIGINT))").as("sr"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          (expr("CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5D) AS BIGINT)")
            * col("sr")).as("contrib"))
        .groupBy("dim")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(col("contrib")).cast("long").as("v1"))
      val withMax = { v: DataFrame =>
        v.crossJoin(broadcast(v.agg(max(abs(col("v1"))).as("mx"))))
          .withColumn("norm_ppm",
            expr("CAST(v1 * 1000000 DIV mx AS BIGINT)"))
          .drop("mx")
      }
      withMax(base).orderBy("dim")
    },

    // Detector PR SWEEP — precision/recall at EVERY distinct score
    // threshold of the ASCII-letter-ratio latin-script detector against
    // the gold `lang = 'en'` label: the threshold-picking curve run
    // before any score gates a corpus (D6n/q100 fixes one threshold;
    // this sweeps them all). Scale shape: per-doc scores collapse onto
    // the 51-value score grid by a map-combined agg FIRST; the
    // descending cumulative (tp, fp at threshold ≥ t) is a ≥-join on
    // that bounded broadcast grid, never a window over docs.
    "q205_pr_sweep" -> { (s, d) =>
      // the ≤51-row grid feeds BOTH sides of the ≥-join below — shared
      // so the full detector subtree (two trigram explodes + two joins)
      // runs once, not twice; limit(51) is a no-op bound (overlap ∈
      // 0..50) that makes the broadcast PROVABLY bounded to the plan
      // audit, not just bounded in fact
      val scored = Caches.shared(detectorScores(s, d)
        .withColumnRenamed("score", "thr")
        .groupBy("thr")
        .agg(count(lit(1)).cast("long").as("n_at"),
          sum(col("pos")).cast("long").as("pos_at"))
        .limit(51))
      val tot = scored.agg(sum(col("pos_at")).cast("long").as("p_total"))
      // descending cumulative as a ≥-join on the bounded broadcast grid
      // (the q201 rank rule — no unpartitioned window)
      val cum = scored.join(broadcast(scored
          .select(col("thr").as("t2"), col("n_at").as("n2"),
            col("pos_at").as("p2"))),
          col("t2") >= col("thr"))
        .groupBy("thr", "n_at")
        .agg(sum(col("p2")).cast("long").as("tp"),
          (sum(col("n2")) - sum(col("p2"))).cast("long").as("fp"))
      cum.crossJoin(broadcast(tot))
        .select(col("thr"), col("n_at"), col("tp"), col("fp"),
          (col("p_total") - col("tp")).cast("long").as("fn"),
          expr("CAST(tp * 1000000 DIV (tp + fp) AS BIGINT)").as("prec_ppm"),
          expr("CAST(tp * 1000000 DIV p_total AS BIGINT)").as("rec_ppm"))
        .orderBy(col("thr").desc)
    },

    // Detector CALIBRATION bins (reliability diagram) for the same
    // score — does "score 0.9" MEAN 90% of those docs are English?
    // Decile bins of the q205 score; per bin the floor-ppm mean score
    // vs the observed gold rate, the absolute gap, and the n·|gap|
    // numerator whose corpus sum is the expected-calibration-error
    // (ECE) — kept as an exact integer column instead of a final
    // division so the output stays sum-mergeable across shards.
    // Output is the fixed 10-row grid.
    "q206_calibration_bins" -> { (s, d) =>
      detectorScores(s, d)
        .withColumn("bin", least(lit(9L),
          expr("CAST(score DIV 100000 AS BIGINT)")))
        .groupBy("bin")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("score")).cast("long").as("s_sum"),
          sum(col("pos")).cast("long").as("n_pos"))
        .select(col("bin"), col("n_docs"),
          expr("CAST(s_sum DIV n_docs AS BIGINT)").as("mean_score_ppm"),
          expr("CAST(n_pos * 1000000 DIV n_docs AS BIGINT)").as("gold_ppm"))
        .withColumn("gap_ppm",
          abs(col("mean_score_ppm") - col("gold_ppm")).cast("long"))
        .withColumn("ece_contrib", (col("n_docs") * col("gap_ppm"))
          .cast("long"))
        .orderBy("bin")
    },

    // BRIER-score sufficient statistics per calibration bin — the
    // Murphy-decomposition INPUT table above q206's reliability diagram
    // (q206 reads the gap; the decomposition separates reliability from
    // resolution, and everything it needs reduces to five exact per-bin
    // integers: n, Σp, Σy, Σp², Σpy — all SUM-MERGEABLE, so the
    // decomposition shards at 100 TB). bin_sq = Σ(p − 10⁶y)² rides
    // along, tied to the five by the exact algebraic identity
    // bin_sq = Σp² − 2·10⁶·Σpy + 10¹²·Σy (y ∈ {0,1} ⟹ y² = y) —
    // spec-asserted with NO tolerance; the floored per-bin reliability
    // display term (Σp − 10⁶Σy)² DIV n is the one deliberate floor.
    "q303_brier_stats" -> { (s, d) =>
      detectorScores(s, d)
        .withColumn("bin", least(lit(9L),
          expr("CAST(score DIV 100000 AS BIGINT)")))
        .groupBy("bin")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("score")).cast("long").as("sum_p"),
          sum(col("pos")).cast("long").as("sum_y"),
          sum(expr("score * CAST(score AS DECIMAL(38,0))")).as("sum_p2"),
          sum(expr("score * pos")).cast("long").as("sum_py"),
          sum(expr("(score - 1000000 * pos) * CAST(score - 1000000 * pos" +
            " AS DECIMAL(38,0))")).as("bin_sq"))
        .select(col("bin"), col("n_docs"), col("sum_p"), col("sum_y"),
          expr("CAST(sum_p2 AS BIGINT)").as("sum_p2"), col("sum_py"),
          expr("CAST(bin_sq AS BIGINT)").as("bin_sq"),
          expr("CAST((sum_p - 1000000 * sum_y) *" +
            " CAST(sum_p - 1000000 * sum_y AS DECIMAL(38,0))" +
            " DIV n_docs AS BIGINT)").as("rel_q"))
        .orderBy("bin")
    },

    // Cohen's KAPPA of the q37 language predictor vs the gold labels —
    // CHANCE-corrected agreement, the number that separates "the
    // detector works" from "the detector echoes the base rate" (raw
    // accuracy — q102's diagonal — rewards predicting the majority
    // class; kappa = (pₒ−pₑ)/(1−pₑ) does not). Shares the q37/q102
    // predictor subtree so the three can never diverge. pₑ from the
    // row×column margin product; kappa itself is ONE IEEE division of
    // two exact ≤2⁵³ integers (the q112 convention) because kappa can
    // be negative and floor-DIV semantics diverge across engines below
    // zero. Magnitude: products are n²-bounded on the %23 eval sample;
    // a full-corpus run at ≥3·10⁹ docs widens them to DECIMAL(38,0).
    "q207_cohens_kappa" -> { (s, d) =>
      val cm = TextAnalysis.langIdPredictions(s, d)
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).cast("long").as("n"))
      val rows = cm.groupBy("lang").agg(sum(col("n")).as("n_row"))
      val cols = cm.groupBy("pred_lang").agg(sum(col("n")).as("n_col"))
      val peNum = rows.join(cols, rows("lang") === cols("pred_lang"))
        .agg(sum(col("n_row") * col("n_col")).cast("long").as("pe_num"))
      cm.agg(sum(col("n")).cast("long").as("n_total"),
          sum(when(col("lang") === col("pred_lang"), col("n"))
            .otherwise(0L)).cast("long").as("agree"))
        .crossJoin(broadcast(peNum))
        .select(col("n_total"), col("agree"),
          expr("CAST(agree * 1000000 DIV n_total AS BIGINT)").as("po_ppm"),
          expr("CAST(pe_num * 1000000 DIV (n_total * n_total) AS BIGINT)")
            .as("pe_ppm"),
          (((col("agree") * col("n_total")) - col("pe_num")).cast("double")
            / (col("n_total") * col("n_total") - col("pe_num"))
              .cast("double")).as("kappa"))
    },

    // SEASONAL forecast-error ratio per event type — is last week a
    // better predictor of today's volume than yesterday? The MASE-style
    // gate run before any capacity forecast or anomaly threshold trusts
    // weekly seasonality (E44/q164 shows the day-of-week shape; this
    // quantifies its predictive value). Seasonal-naive |c_d − c_{d−7}|
    // vs naive |c_d − c_{d−1}|, matched by calendar-date JOIN rather
    // than lag() so day gaps can never silently misalign the season.
    // ratio < 10⁶ ⟹ weekly seasonality carries real signal. Scale:
    // events collapse to the (type × day) grid map-side; both error
    // legs are self-joins on that bounded grid.
    "q208_seasonal_error" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = daily.select(col("event_type"), col("day"), col("c"))
      val lag7 = w.join(
        w.select(col("event_type"), date_add(col("day"), 7).as("day"),
          col("c").as("c7")), Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("pairs7"),
          sum(abs(col("c") - col("c7"))).cast("long").as("err7"))
      val lag1 = w.join(
        w.select(col("event_type"), date_add(col("day"), 1).as("day"),
          col("c").as("c1")), Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("pairs1"),
          sum(abs(col("c") - col("c1"))).cast("long").as("err1"))
      val days = w.groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_days"))
      days.join(lag7, "event_type").join(lag1, "event_type")
        .withColumn("ratio_ppm",
          expr("CASE WHEN pairs7 * err1 = 0 THEN NULL" +
            " ELSE CAST(err7 * pairs1 * 1000000 DIV (pairs7 * err1)" +
            " AS BIGINT) END"))
        .orderBy("event_type")
    },

    // Training-shard MANIFEST audit — the write-path twin of F3/q183's
    // eval folds: shard = engine-neutral hash of doc id mod Shards (so
    // shard membership is reproducible and append-stable), and the
    // audit asks the writer's question — are the shards BALANCED in
    // byte mass, not just doc count? Per shard: doc/char mass and the
    // floor-ppm skew of char mass vs the ideal T/Shards (a shard 20%
    // over ideal is the straggler every epoch re-pays). Scale: one
    // map-combined agg onto the |Shards| grid; the total is a one-row
    // broadcast.
    "q209_shard_manifest" -> { (s, d) =>
      val sharded = Tables.documents(s, d)
        .select((Dedup.neutralHash32(
            concat(lit("shard:"), col("doc_id").cast("string"))) % Shards)
            .as("shard"),
          col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
      val tot = sharded.agg(sum(col("sum_chars")).cast("long").as("t_chars"))
      sharded.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("sum_chars"),
          expr(s"CAST(abs(sum_chars * $Shards - t_chars) * 1000000" +
            " DIV t_chars AS BIGINT)").as("skew_ppm"))
        .orderBy("shard")
    },

    // Source-pair SKETCH Jaccard matrix — the mergeable estimate next
    // to D5s/q79's exact shingle Jaccard, paired sketch-vs-exact like
    // F4/q184: per source a 16-slot MinHash signature over the q79
    // word-trigram shingle sets (Dedup's ONE engine-neutral hash
    // family), pairwise estimated J = matching slots / 16, with the
    // exact leg joined back and the error exposed. The sketch is the
    // 100 TB path — per-source signatures are map-combined mins that
    // MERGE across shards/days (slot-wise min), where the exact
    // shingle self-join must rescan both corpora; the exact leg here
    // is the deliberate calibration audit, and EvaluationSpec proves
    // the merge law sketch(A ∪ B) = min(sketch(A), sketch(B)).
    // est_ppm is n·62500 exactly (10⁶/16 is integral — no floor).
    "q210_source_sketch_jaccard" -> { (s, d) =>
      val st = Caches.shared(Tables.documents(s, d)
        .withColumn("t", TextAnalysis.tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("source"),
          explode(TextAnalysis.shingleExpr("t", 3)).as("sh"))
        .distinct())
      val sig = Dedup.minhashSignatureWide(st, 16, "source")
      val est = sig.as("a")
        .join(broadcast(sig.as("b")), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          expr("CAST(CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END + CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END + CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END + CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END + CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END + CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END + CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END + CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END + CASE WHEN a.h8 = b.h8 THEN 1 ELSE 0 END + CASE WHEN a.h9 = b.h9 THEN 1 ELSE 0 END + CASE WHEN a.h10 = b.h10 THEN 1 ELSE 0 END + CASE WHEN a.h11 = b.h11 THEN 1 ELSE 0 END + CASE WHEN a.h12 = b.h12 THEN 1 ELSE 0 END + CASE WHEN a.h13 = b.h13 THEN 1 ELSE 0 END + CASE WHEN a.h14 = b.h14 THEN 1 ELSE 0 END + CASE WHEN a.h15 = b.h15 THEN 1 ELSE 0 END AS BIGINT)").as("n_slots_eq"))
        .withColumn("est_ppm", (col("n_slots_eq") * lit(62500L)).cast("long"))
      // Round-12 exact leg (guide §2.4): |A∩B| via a per-shingle
      // SOURCE-BITMASK census instead of the shingle self-join — one
      // groupBy(sh) over the cached distinct set folds each shingle's
      // sources into a fixed-width bit_or mask (codegen HashAggregate,
      // map-combined — an object-set aggregate here would trip the
      // ObjectHashAggregate sort fallback on millions of near-singleton
      // groups), masks collapse to a (mask, cnt) table that is tiny by
      // construction, and pair commons are sums over that table against
      // the broadcast source-rank grid. The corpus-wide shingle-text
      // re-shuffle of both join sides is gone. Sources are a bounded
      // enumeration; the ≤64-bit bound is asserted loudly. common/na/nb
      // are the same distinct-shingle counts, pair ordering the same
      // lexicographic src_a < src_b (rank order = name order).
      val cnt = st.groupBy("source").agg(count(lit(1)).as("nsh"))
      val srcs0 = st.select("source").distinct()
      val srcIdx = srcs0
        .join(srcs0.select(col("source").as("s0")),
          col("s0") < col("source"), "left")
        .groupBy("source").agg(count(col("s0")).cast("int").as("idx"))
        .filter(expr("assert_true(idx < 64) IS NULL"))
      val ai = srcIdx.select(col("source").as("src_a"), col("idx").as("ia"))
      val bi = srcIdx.select(col("source").as("src_b"), col("idx").as("ib"))
      val commonPairs = st.join(broadcast(srcIdx), "source")
        .groupBy("sh")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), idx))").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
        .join(broadcast(ai), expr("(mask & shiftleft(CAST(1 AS BIGINT), ia)) != 0"))
        .join(broadcast(bi), expr("(mask & shiftleft(CAST(1 AS BIGINT), ib)) != 0" +
          " AND ib > ia"))
        .groupBy("src_a", "src_b").agg(sum(col("cnt")).cast("long").as("common"))
      val exact = commonPairs
        .join(cnt.select(col("source").as("src_a"), col("nsh").as("na")), "src_a")
        .join(cnt.select(col("source").as("src_b"), col("nsh").as("nb")), "src_b")
        .withColumn("jac_ppm",
          expr("CAST(common * 1000000 DIV (na + nb - common) AS BIGINT)"))
        .select("src_a", "src_b", "jac_ppm")
      est.join(exact, Seq("src_a", "src_b"), "left")
        .withColumn("jac_ppm", coalesce(col("jac_ppm"), lit(0L)))
        .withColumn("err_ppm", abs(col("est_ppm") - col("jac_ppm")).cast("long"))
        .orderBy("src_a", "src_b")
    },

    // Vocabulary COVERAGE curve — what floor-ppm share of all corpus
    // tokens do the top-K vocabulary types cover, at K ∈ {10, 100,
    // 1000}? The tokenizer-budget question (how much of the stream a
    // K-entry vocab explains) and the log-free companion of F22/q201's
    // Zipf audit. Each K-head is a TakeOrdered over the vocabulary
    // aggregate — never a global window; the three heads and the total
    // share ONE token-count subtree (eager-cached — 4 plan branches).
    "q211_coverage_curve" -> { (s, d) =>
      val tc = Caches.shared(Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))
      val tot = tc.agg(sum(col("cnt")).cast("long").as("total_tokens"))
      val heads = Seq(10, 100, 1000).map { k =>
        tc.orderBy(col("cnt").desc, col("tok")).limit(k)
          .agg(count(lit(1)).cast("long").as("n_types"),
            sum(col("cnt")).cast("long").as("covered"))
          .withColumn("k", lit(k.toLong))
      }
      heads.reduce(_.unionByName(_))
        .crossJoin(broadcast(tot))
        .withColumn("cov_ppm",
          expr("CAST(covered * 1000000 DIV total_tokens AS BIGINT)"))
        .select("k", "n_types", "covered", "total_tokens", "cov_ppm")
        .orderBy("k")
    },

    // Contiguous PACK planner — the row-group/shard-file packing step
    // of the training-data write path (the order-PRESERVING complement
    // of F30/q209's hash shards: documents stay in doc_id order, so a
    // reader streams each source sequentially): within each source,
    // a document is assigned to the file where its first byte lands
    // (file_id = running-start DIV PackTarget), and the manifest
    // reports per-file doc count, byte mass, and floor-ppm fill — the
    // >10⁶ fills mark straddling documents, the <10⁶ tail file is the
    // expected remainder. Scale: ONE per-source partitioned window
    // (the cumulative start), then a map-combined agg onto the
    // manifest grid; output cardinality IS the manifest (one row per
    // planned file), never more than corpus_bytes / PackTarget rows.
    "q212_pack_planner" -> { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("start", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .withColumn("file_id", expr(s"CAST(start DIV $PackTarget AS BIGINT)"))
        .groupBy("source", "file_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("bytes"))
        .withColumn("fill_ppm",
          expr(s"CAST(bytes * 1000000 DIV $PackTarget AS BIGINT)"))
        .orderBy("source", "file_id")
    }
  )

  def oracle: Map[String, String] = Map(
    "q203_mannwhitney_u" ->
      """WITH grid0 AS (
        |  SELECT n_chars, COUNT(*) AS n FROM documents GROUP BY 1),
        |grid AS (
        |  SELECT g.n_chars, g.n, COALESCE(SUM(b.n), 0) AS below
        |  FROM grid0 g LEFT JOIN grid0 b ON b.n_chars < g.n_chars
        |  GROUP BY 1, 2),
        |per_src AS (
        |  SELECT source, n_chars, COUNT(*) AS ns
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents),
        |agg AS (
        |  SELECT p.source,
        |    CAST(SUM(p.ns) AS BIGINT) AS n_src,
        |    CAST(SUM(p.ns * (2 * g.below + g.n + 1)) AS BIGINT) AS r2
        |  FROM per_src p JOIN grid g USING (n_chars) GROUP BY 1)
        |SELECT source, n_src,
        |  CAST(n_total - n_src AS BIGINT) AS n_rest,
        |  CAST(r2 - n_src * (n_src + 1) AS BIGINT) AS u2,
        |  CAST(n_src * (n_total - n_src) AS BIGINT) AS eu2,
        |  CAST((r2 - n_src * (n_src + 1)) * 1000000
        |    // (2 * n_src * (n_total - n_src)) AS BIGINT) AS auc_ppm
        |FROM agg CROSS JOIN tot ORDER BY source""".stripMargin,

    "q204_power_iteration" ->
      """WITH q AS (
        |  SELECT vec_id, g.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q3
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
        |s AS (SELECT vec_id, SUM(q3) AS sr FROM q GROUP BY 1),
        |v AS (
        |  SELECT q.dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(q.q3 * s.sr) AS BIGINT) AS v1
        |  FROM q JOIN s USING (vec_id) GROUP BY 1),
        |mx AS (SELECT MAX(abs(v1)) AS mx FROM v)
        |SELECT dim, n_vecs, v1,
        |  CAST(v1 * 1000000 // mx AS BIGINT) AS norm_ppm
        |FROM v CROSS JOIN mx ORDER BY dim""".stripMargin,

    "q205_pr_sweep" -> (DetectorScoreSql +
      """,
        |grid AS (
        |  SELECT score AS thr, CAST(COUNT(*) AS BIGINT) AS n_at,
        |    CAST(SUM(pos) AS BIGINT) AS pos_at
        |  FROM scored GROUP BY 1),
        |cum AS (
        |  SELECT a.thr, a.n_at,
        |    CAST(SUM(b.pos_at) AS BIGINT) AS tp,
        |    CAST(SUM(b.n_at - b.pos_at) AS BIGINT) AS fp
        |  FROM grid a JOIN grid b ON b.thr >= a.thr GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(pos_at) AS BIGINT) AS p_total FROM grid)
        |SELECT thr, n_at, tp, fp,
        |  CAST(p_total - tp AS BIGINT) AS fn,
        |  CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS prec_ppm,
        |  CAST(tp * 1000000 // p_total AS BIGINT) AS rec_ppm
        |FROM cum CROSS JOIN tot ORDER BY thr DESC""".stripMargin),

    "q206_calibration_bins" -> (DetectorScoreSql +
      """,
        |b AS (
        |  SELECT LEAST(9, score // 100000) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(score) AS BIGINT) AS s_sum,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM scored GROUP BY 1),
        |g AS (
        |  SELECT CAST(bin AS BIGINT) AS bin, n_docs,
        |    CAST(s_sum // n_docs AS BIGINT) AS mean_score_ppm,
        |    CAST(n_pos * 1000000 // n_docs AS BIGINT) AS gold_ppm
        |  FROM b)
        |SELECT bin, n_docs, mean_score_ppm, gold_ppm,
        |  CAST(abs(mean_score_ppm - gold_ppm) AS BIGINT) AS gap_ppm,
        |  CAST(n_docs * abs(mean_score_ppm - gold_ppm) AS BIGINT) AS ece_contrib
        |FROM g ORDER BY bin""".stripMargin),

    "q303_brier_stats" -> (DetectorScoreSql +
      """,
        |b AS (
        |  SELECT LEAST(9, score // 100000) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(score) AS BIGINT) AS sum_p,
        |    CAST(SUM(pos) AS BIGINT) AS sum_y,
        |    CAST(SUM(score * CAST(score AS HUGEINT)) AS BIGINT) AS sum_p2,
        |    CAST(SUM(score * pos) AS BIGINT) AS sum_py,
        |    CAST(SUM((score - 1000000 * pos) *
        |      CAST(score - 1000000 * pos AS HUGEINT)) AS BIGINT) AS bin_sq
        |  FROM scored GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n_docs, sum_p, sum_y, sum_p2, sum_py,
        |  bin_sq,
        |  CAST((sum_p - 1000000 * sum_y) *
        |    CAST(sum_p - 1000000 * sum_y AS HUGEINT) // n_docs AS BIGINT) AS rel_q
        |FROM b ORDER BY bin""".stripMargin),

    "q207_cohens_kappa" -> (TextAnalysis.LangIdPredSql +
      """,
        |pred AS (SELECT doc_id, pred_lang FROM r WHERE rn = 1),
        |cm AS (
        |  SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |rows_m AS (SELECT lang, SUM(n) AS n_row FROM cm GROUP BY 1),
        |cols_m AS (SELECT pred_lang, SUM(n) AS n_col FROM cm GROUP BY 1),
        |pe AS (
        |  SELECT CAST(SUM(r.n_row * c.n_col) AS BIGINT) AS pe_num
        |  FROM rows_m r JOIN cols_m c ON r.lang = c.pred_lang),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM cm)
        |SELECT n_total, agree,
        |  CAST(agree * 1000000 // n_total AS BIGINT) AS po_ppm,
        |  CAST(pe_num * 1000000 // (n_total * n_total) AS BIGINT) AS pe_ppm,
        |  CAST(agree * n_total - pe_num AS DOUBLE)
        |    / CAST(n_total * n_total - pe_num AS DOUBLE) AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin),

    "q208_seasonal_error" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l7 AS (
        |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS pairs7,
        |    CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS err7
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7
        |  GROUP BY 1),
        |l1 AS (
        |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS pairs1,
        |    CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS err1
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day = b.day + 1
        |  GROUP BY 1),
        |nd AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, pairs7, err7, pairs1, err1,
        |  CASE WHEN pairs7 * err1 = 0 THEN NULL
        |    ELSE CAST(err7 * pairs1 * 1000000 // (pairs7 * err1) AS BIGINT)
        |    END AS ratio_ppm
        |FROM nd JOIN l7 USING (event_type) JOIN l1 USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q209_shard_manifest" ->
      s"""WITH sh AS (
        |  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % $Shards AS shard, n_chars
        |  FROM documents),
        |agg AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM sh GROUP BY 1),
        |tot AS (SELECT CAST(SUM(sum_chars) AS BIGINT) AS t_chars FROM agg)
        |SELECT shard, n_docs, sum_chars,
        |  CAST(abs(sum_chars * $Shards - t_chars) * 1000000
        |    // t_chars AS BIGINT) AS skew_ppm
        |FROM agg CROSS JOIN tot ORDER BY shard""".stripMargin,
    "q210_source_sketch_jaccard" ->
      """WITH toks AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |st AS (
        |  SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |h AS (
        |  SELECT source,
        |    ('0x' || substr(md5(sh), 1, 8))::BIGINT % 2147483647 AS hm
        |  FROM st),
        |sig AS (
        |  SELECT source,
        |    MIN((7919 * 1 * hm + 104729 * 0) % 2147483647) AS h0,
        |    MIN((7919 * 2 * hm + 104729 * 1) % 2147483647) AS h1,
        |    MIN((7919 * 3 * hm + 104729 * 2) % 2147483647) AS h2,
        |    MIN((7919 * 4 * hm + 104729 * 3) % 2147483647) AS h3,
        |    MIN((7919 * 5 * hm + 104729 * 4) % 2147483647) AS h4,
        |    MIN((7919 * 6 * hm + 104729 * 5) % 2147483647) AS h5,
        |    MIN((7919 * 7 * hm + 104729 * 6) % 2147483647) AS h6,
        |    MIN((7919 * 8 * hm + 104729 * 7) % 2147483647) AS h7,
        |    MIN((7919 * 9 * hm + 104729 * 8) % 2147483647) AS h8,
        |    MIN((7919 * 10 * hm + 104729 * 9) % 2147483647) AS h9,
        |    MIN((7919 * 11 * hm + 104729 * 10) % 2147483647) AS h10,
        |    MIN((7919 * 12 * hm + 104729 * 11) % 2147483647) AS h11,
        |    MIN((7919 * 13 * hm + 104729 * 12) % 2147483647) AS h12,
        |    MIN((7919 * 14 * hm + 104729 * 13) % 2147483647) AS h13,
        |    MIN((7919 * 15 * hm + 104729 * 14) % 2147483647) AS h14,
        |    MIN((7919 * 16 * hm + 104729 * 15) % 2147483647) AS h15
        |  FROM h GROUP BY source),
        |sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY 1),
        |ex AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS common
        |  FROM st a JOIN st b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h8 = b.h8 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h9 = b.h9 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h10 = b.h10 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h11 = b.h11 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h12 = b.h12 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h13 = b.h13 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h14 = b.h14 THEN 1 ELSE 0 END +
        |      CASE WHEN a.h15 = b.h15 THEN 1 ELSE 0 END AS BIGINT) AS n_slots_eq
        |  FROM sig a JOIN sig b ON a.source < b.source)
        |SELECT p.src_a, p.src_b, p.n_slots_eq,
        |  CAST(p.n_slots_eq * 62500 AS BIGINT) AS est_ppm,
        |  CAST(COALESCE(e.common * 1000000 // (sa.n + sb.n - e.common), 0)
        |    AS BIGINT) AS jac_ppm,
        |  CAST(abs(p.n_slots_eq * 62500 -
        |    COALESCE(e.common * 1000000 // (sa.n + sb.n - e.common), 0))
        |    AS BIGINT) AS err_ppm
        |FROM pairs p
        |LEFT JOIN ex e ON e.src_a = p.src_a AND e.src_b = p.src_b
        |JOIN sizes sa ON sa.source = p.src_a
        |JOIN sizes sb ON sb.source = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,

    "q211_coverage_curve" ->
      """WITH tc AS (
        |  SELECT tok, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM tc),
        |h10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(cnt) AS BIGINT) AS covered, CAST(10 AS BIGINT) AS k
        |  FROM (SELECT cnt FROM tc ORDER BY cnt DESC, tok LIMIT 10) x),
        |h100 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(cnt) AS BIGINT) AS covered, CAST(100 AS BIGINT) AS k
        |  FROM (SELECT cnt FROM tc ORDER BY cnt DESC, tok LIMIT 100) x),
        |h1000 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(cnt) AS BIGINT) AS covered, CAST(1000 AS BIGINT) AS k
        |  FROM (SELECT cnt FROM tc ORDER BY cnt DESC, tok LIMIT 1000) x),
        |u AS (SELECT * FROM h10 UNION ALL SELECT * FROM h100
        |      UNION ALL SELECT * FROM h1000)
        |SELECT k, n_types, covered, total_tokens,
        |  CAST(covered * 1000000 // total_tokens AS BIGINT) AS cov_ppm
        |FROM u CROSS JOIN tot ORDER BY k""".stripMargin,

    "q212_pack_planner" ->
      s"""WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM documents)
        |SELECT source, CAST(start // $PackTarget AS BIGINT) AS file_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS bytes,
        |  CAST(SUM(n_chars) * 1000000 // $PackTarget AS BIGINT) AS fill_ppm
        |FROM c GROUP BY 1, 2 ORDER BY source, file_id""".stripMargin
  )
}
