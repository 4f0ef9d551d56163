package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Winnow
import graft.model.Tables

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY.md
  * §2B B12 + BASELINE.json north star): token stats, quality scoring,
  * n-gram profiling, document-frequency term weighting.
  *
  * Determinism: all scores are ratios of exact integers (or integer-proxy
  * scores), never transcendental functions, so Spark and DuckDB agree
  * bit-for-bit. All rankings carry full tiebreaks.
  *
  * Scale: everything is explode→groupBy over (doc, token) — shuffles on
  * high-cardinality keys with map-side partial aggregation; no driver-side
  * collection anywhere.
  */
object TextAnalysis {

  /** Whitespace tokenization; the corpus is single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** Eager-cached token-array projection of the corpus — ONE scan feeding
    * every branch of a pair-mining query (pairs + unigram counts); the
    * persisted frame carries token arrays only, every other column is
    * dropped before the cache. Shared by q109 (adjacent bigrams) and
    * q147 (window-2 skip-grams). */
  private def tokenArrays(s: SparkSession, d: String): DataFrame =
    Caches.shared(Tables.documents(s, d).select(tokens(col("text")).as("t")))

  /** Floor-ppm lift n_xy·10⁶·N/(n_x·n_y) via the exact q75 div/mod split
    * — ONE definition (Spark `DIV` / DuckDB `//` renderings of the same
    * term list) shared by q109 and q147 so the collocation and skip-gram
    * rankings can never drift. q6 = floor(n_xy·10⁶/n_x) stays ≤ 10⁶·w
    * (w = max pairs one left-token occurrence joins: 1 adjacent, 4 in
    * the ±2 window); decomposed, the intermediates stay bounded by the
    * result and 10⁶·w·n_y, so the only overflow left is a single token
    * type occurring > 9·10¹²/w times — degenerate at any corpus size. */
  private def liftPpmExpr(divOp: String): String =
    s"CAST(q6 * (n_total $divOp n_y) + q6 * (n_total % n_y) $divOp n_y AS BIGINT)"

  /** Support-filtered pair→lift pipeline over a (w1, w2) pairs frame:
    * two vocabulary-key joins + the groupless-agg total broadcast, lift
    * by [[liftPpmExpr]], deterministic top-20 (TakeOrdered, never a
    * global sort). `uni` is consumed three times (n_x, n_y, n_total) —
    * vocabulary-sized, so it is eager-persisted too. */
  private def pairLift(pairs: DataFrame, toksDf: DataFrame): DataFrame = {
    val uni = Caches.shared(toksDf
      .select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt")))
    val n = uni.agg(sum(col("cnt")).cast("long").as("n_total"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
      .join(uni.select(col("tok").as("w1"), col("cnt").as("n_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cnt").as("n_y")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("q6", expr("n_xy * 1000000 DIV n_x"))
      .withColumn("lift_ppm", expr(liftPpmExpr("DIV")))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"),
        col("n_xy").cast("long").as("n_xy"),
        col("n_x").cast("long").as("n_x"),
        col("n_y").cast("long").as("n_y"),
        col("lift_ppm"))
  }

  /** Word n-gram shingles of the array column named `toksCol` (empty array
    * when the document has fewer than n tokens — `sequence` would otherwise
    * produce a descending range). */
  def shingleExpr(toksCol: String, n: Int): Column = {
    val joined = (0 until n).map(k => s"$toksCol[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
    expr(s"CASE WHEN size($toksCol) >= $n " +
         s"THEN transform(sequence(0, size($toksCol) - $n), i -> $joined) " +
         s"ELSE array() END")
  }

  /** Stopword list used by the quality score (small, fixed). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** PII classes detected/redacted by [[piiRedact]]/q96:
    * (name, pattern, replacement token). Patterns live in the
    * Java-regex ∩ RE2 intersection so Spark and the DuckDB oracle agree
    * exactly: explicit character classes only — no backslash classes, no
    * word boundaries, no lookaround (RE2 has none). The classes CAN
    * overlap on adversarial text (a phone shape can embed in an email
    * local part, an id shape can overlap a phone tail), which is why
    * detection and redaction are one sequential pass per class in this
    * fixed order — see [[piiRedact]]. */
  val PiiClasses: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("id", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"))

  /** PII detection + redaction over `textCol`: appends one BIGINT hit
    * count per class (`n_email`/`n_phone`/`n_id`) and the redacted text
    * with per-class replacement tokens. Classes are applied
    * SEQUENTIALLY: each class counts its matches on the text as already
    * redacted by the earlier classes, then redacts them — so every
    * counted hit is a replaced hit (counts and redaction can never
    * disagree when classes overlap; an id overlapping an already-redacted
    * phone is neither counted nor left as a full id shape). Row-local
    * regex work — no shuffle, codegen'd, linear at any corpus size. This
    * is the free-text scrub q92's k-anonymity audit (structured
    * quasi-identifiers) does not cover. */
  def piiRedact(df: DataFrame, textCol: String): DataFrame = {
    val stepped = PiiClasses.foldLeft(
      df.withColumn("redacted", col(textCol))) { case (acc, (name, pat, repl)) =>
      acc.withColumn(s"n_$name",
          size(regexp_extract_all(col("redacted"), lit(pat), lit(0))).cast("long"))
        .withColumn("redacted", regexp_replace(col("redacted"), pat, repl))
    }
    stepped
  }

  /** q37's character-trigram language predictor, shared with q102's
    * confusion-matrix evaluation so the two can never diverge: top-50
    * trigram profiles per language from a deterministic ⅓ corpus sample,
    * prediction = largest distinct-trigram overlap over the doc_id % 23
    * eval sample (integer scoring, lang-name tiebreak). Returns
    * (doc_id, pred_lang, overlap). */
  def langIdPredictions(s: SparkSession, d: String): DataFrame =
    // MEMOIZED per (session, dir) and PINNED (round 11): four queries
    // (q37-family, q102 confusion, q207 kappa, q292 CV spread) re-derive
    // this identical predictor frame, each paying the full trigram
    // explode + per-lang profile windows. The output is one row per
    // %23-sampled doc — linear in docs, pinnable.
    Caches.family(s, d, "langIdPredictions") {
      Caches.pinned(langIdPredictionsUncached(s, d))
    }

  private def langIdPredictionsUncached(s: SparkSession, d: String): DataFrame = {
    val tris = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      explode(expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")).as("tri"))
    val wp = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    val profile = tris.filter(col("doc_id") % 3 === 0)
      .groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 50)
      .select(col("lang").as("pred_lang"), col("tri"))
    // Round-12 prediction leg (guide §2.3/§2.4, the q205 detector
    // pattern): the per-lang profiles are BOUNDED 50-trigram sets, so
    // each eval doc's per-lang overlap is an IN-ROW membership count
    // over the broadcast profile arrays — for 3-char patterns
    // instr > 0 is exactly trigram-set membership — and the winner is
    // an in-row array_min over struct(-overlap, lang), reproducing the
    // old (overlap desc, lang) window tiebreak. Docs with zero overlap
    // against EVERY profile had no row in the old join form and are
    // filtered identically; the eval-sample trigram explode, its
    // distinct, the profile join and the per-doc window are all gone.
    val profs = profile.groupBy("pred_lang")
      .agg(sort_array(collect_list(col("tri"))).as("pa"))
      .agg(sort_array(collect_list(struct(col("pred_lang"), col("pa"))))
        .as("profs"))
    Tables.documents(s, d).filter(col("doc_id") % 23 === 0)
      .select(col("doc_id"), col("text"))
      .crossJoin(broadcast(profs))
      .select(col("doc_id"), expr(
        "array_min(transform(profs, p -> struct(" +
          "-size(filter(p.pa, t -> instr(text, t) > 0)) AS negov," +
          " p.pred_lang AS lang)))").as("best"))
      .filter(col("best.negov") < 0)
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        (-col("best.negov")).cast("long").as("overlap"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CODE-vs-PROSE detector — the corpus-composition gate every
    // pretraining mix needs (code routes to a different tokenizer
    // budget and dedup policy than prose): per document, the density of
    // code-signature characters (;{}()[]=<># — near-absent in prose,
    // structural in code) in floor-ppm of chars; a doc at ≥ 30000 ppm
    // (3%) flags as code. Per source: doc mass, flagged count and
    // share, and the mean density. The shipped corpus is prose, so the
    // detector must stay QUIET here — the injected-fixture spec (q310
    // convention) plants code-shaped docs and requires it to FIRE.
    // Scale: one regexp per doc inside codegen; census map-combined.
    "q470_code_detector" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_sym", expr(
          """length(text) - length(regexp_replace(text,
            | '[;{}\\(\\)\\[\\]=<>#]', ''))""".stripMargin))
        .withColumn("sym_ppm", expr(
          "CAST(n_sym * 1000000 DIV greatest(length(text), 1) AS BIGINT)"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("sym_ppm") >= 30000L, 1L).otherwise(0L)).cast("long")
            .as("n_code"),
          expr("CAST(sum(sym_ppm) DIV count(1) AS BIGINT)")
            .as("mean_sym_ppm"))
        .withColumn("code_ppm",
          expr("CAST(n_code * 1000000 DIV n_docs AS BIGINT)"))
        .orderBy("source")
    },

    // BM25-lite retrieval scoring — query-scored corpus search, the IR
    // primitive q31's tf-idf (per-doc top term) does not cover: given
    // query terms, rank documents by tf·idf with the BM25 length
    // normalization tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), k1=1.2
    // b=0.75. Everything integer: idf as the capped proxy
    // min(N DIV df, 10⁶) (log-free and monotone in N/df — rarer than
    // 1-in-10⁶ scores as 10⁶), tf capped at 10⁶ IN THE NUMERATOR ONLY
    // (BM25 saturates toward idf·(k1+1) long before tf=10⁶, so the
    // ranking is unchanged; the uncapped denominator keeps monotone
    // separation among capped docs). Both caps together bound the
    // numerator at 2200·10⁶·10⁶·10³ ≈ 2.2·10¹⁸ < 2⁶³ — int64-safe at
    // ANY corpus size, not just plausible ones. Normalization in milli
    // units with every DIV at a pinned point, mirrored token-for-token
    // in the oracle. Query terms are self-derived and deterministic: the 3
    // tokens whose df is closest to N/10 (mid-frequency — realistic
    // query words; (gap, tok) totally ordered). Scale shape: postings
    // (tf) and lengths (dl) are one explode + two map-combined aggs;
    // the 3-term query set and the one-row corpus stats broadcast; the
    // final top-10 is a 3-partition window, never a global sort.
    "q137_bm25_retrieval" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("total_tok"))
      val dfTbl = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val qterms = dfTbl.crossJoin(broadcast(stats))
        .orderBy(abs(col("df") * 10 - col("n_docs")), col("tok"))
        .limit(3)
        .select(col("tok"), col("df"))
      val w = Window.partitionBy("tok")
        .orderBy(col("score_micro").desc, col("doc_id"))
      tf.join(broadcast(qterms), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl_milli", expr("total_tok * 1000 DIV n_docs"))
        .withColumn("idf_proxy",
          least(expr("n_docs DIV df"), lit(1000000L)))
        // dl capped at 10⁹ inside the length ratio (a 10⁹-token single
        // document does not exist; uncapped, 750·dl·1000 would pass
        // int64 at dl ≈ 1.2·10¹³)
        .withColumn("score_micro",
          expr("2200 * idf_proxy * least(tf, 1000000) * 1000 DIV (tf * 1000 + " +
            "1200 * (250 + 750 * least(dl, 1000000000) * 1000 DIV avgdl_milli) DIV 1000)"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("tok"), col("rk").cast("long").as("rk"), col("doc_id"),
          col("tf").cast("long").as("tf"), col("dl").cast("long").as("dl"),
          col("score_micro").cast("long").as("score_micro"))
        .orderBy("tok", "rk")
    },

    // Boolean AND retrieval — the inverted-index intersection behind
    // every conjunctive search ("docs containing ALL query terms"),
    // the companion to q137's ranked BM25 over the same postings
    // shape. Query terms reuse q137's deterministic mid-frequency rule
    // (the 3 tokens with df closest to N/10, (gap, tok) totally
    // ordered) so the two IR ops probe one shared query model. The
    // intersection is COUNTING, not nested joins: postings semi-join
    // the broadcast 3-term set, then one doc_id aggregation keeps docs
    // whose matched-term count equals the query size — the classic
    // distributed AND plan (a t-term query is ONE pass over t posting
    // lists, never a t-way self-join). Emitted per match: distinct
    // terms matched, summed tf, and doc length via one join to the
    // lengths table; top-50 by doc_id keeps output bounded at any SF.
    "q153_bool_search" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"))
      val qterms = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .orderBy(abs(col("df") * 10 - col("n_docs")), col("tok"))
        .limit(3)
        .select("tok")
      tf.join(broadcast(qterms), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_terms"),
          sum(col("tf")).cast("long").as("sum_tf"))
        .filter(col("n_terms") === 3)
        .join(dl, "doc_id")
        .select(col("doc_id"), col("n_terms"), col("sum_tf"),
          col("dl").cast("long").as("dl"))
        .orderBy("doc_id").limit(50)
    },

    // B12: per-language token statistics.
    "q21_doc_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("sum_tokens"),
             max(col("n_chars")).as("max_chars"),
             (sum(col("n_chars")).cast("double") / sum(col("n_tokens"))).as("chars_per_token"))
        .orderBy("lang")
    },

    // B12: per-document quality scoring — stopword ratio + length shape,
    // all exact integer ratios.
    "q22_quality_score" -> { (s, d) =>
      val stopArr = Stopwords.map(w => s"'$w'").mkString("array(", ",", ")")
      Tables.documents(s, d)
        .filter(col("doc_id") % 13 === 0)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_stop",
          size(expr(s"filter(toks, x -> array_contains($stopArr, x))")).cast("long"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("chars_per_token", col("n_chars").cast("double") / col("n_tokens"))
        .select("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio", "chars_per_token")
        .orderBy("doc_id")
    },

    // B12: n-gram profiling — most frequent word trigram per language.
    "q23_top_trigram" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .withColumn("tri", explode(shingleExpr("t", 3)))
      val counts = docs.groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("lang", "tri", "cnt")
        .orderBy("lang")
    },

    // B12: language identification by character-trigram profile — train
    // top-k trigram profiles per language over a deterministic ⅓ corpus
    // sample (at 100 TB a profile is always trained on a sample, never
    // the full corpus — trigram frequencies converge long before that),
    // predict a doc's language as the profile with the largest
    // distinct-trigram overlap (deterministic integer scoring, lang-name
    // tiebreak).
    "q37_lang_id" -> { (s, d) =>
      langIdPredictions(s, d)
        .select("doc_id", "pred_lang", "overlap")
        .orderBy("doc_id")
    },

    // Model-evaluation harness over the q37 predictor: the per-language
    // confusion matrix plus row-share ppm — the audit that decides
    // whether a cheap classifier is good enough to gate a corpus by.
    // (On this synthetic corpus labels are random, so the matrix shows
    // near-uniform confusion — the OPERATOR is the deliverable, and it
    // is deterministic either way.) One extra aggregation + a
    // partitioned window over |langs|² rows on top of the shared
    // predictor subtree.
    "q102_langid_confusion" -> { (s, d) =>
      val wRow = Window.partitionBy(col("lang"))
      langIdPredictions(s, d)
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("row_total", sum(col("n")).over(wRow))
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("CAST(n * 1000000 DIV row_total AS BIGINT)").as("row_ppm"),
          (col("lang") === col("pred_lang")).as("correct"))
        .orderBy("lang", "pred_lang")
    },

    // B12: BPE-ish regex tokenization — alpha runs / digit runs / single
    // symbols, the word-piece-style pre-tokenization pass — counted per
    // language next to the whitespace token count.
    "q38_regex_tokens" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("rtoks", expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(size(col("rtoks"))).cast("long").as("sum_regex_tokens"),
             sum(size(tokens(col("text")))).cast("long").as("sum_ws_tokens"),
             max(size(col("rtoks"))).cast("long").as("max_regex_tokens"))
        .orderBy("lang")
    },

    // B12: winnowing rolling-hash fingerprints (custom expression). The
    // Rabin-Karp hash is pure integer arithmetic (B=257, M=2³¹−1) over
    // ASCII bytes, so the whole algorithm — rolling hashes, rightmost-min
    // windows, consecutive dedup — is mirrored in the DuckDB oracle and
    // hash-checked end-to-end.
    "q39_winnow_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") % 29 === 0)
        .withColumn("fps", Winnow.winnow_fingerprints(col("text"), 5, 4))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          size(array_distinct(col("fps"))).cast("long").as("n_distinct_fps"),
          expr("array_min(fps)").as("min_fp"),
          expr("array_max(fps)").as("max_fp"))
        .orderBy("doc_id")
    },

    // B12: tf-df term weighting with an exact integer proxy score
    // (tf * 1e6 / df, integer division) — same ranking shape as tf-idf
    // without cross-engine log() drift.
    // B12 extension: per-source vocabulary growth / lexical richness —
    // the Heaps-law audit run when comparing corpus slices. Types
    // (distinct tokens), tokens, hapax legomena (tokens seen exactly
    // once in the source), and floor-ppm type-token / hapax ratios —
    // every column integer-exact. Two hash aggregations: (source, token)
    // then source; the first is the only real shuffle and it map-side
    // combines, the second reuses a tiny input (≤ sources × vocab rows).
    "q73_vocab_growth" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).cast("long").as("n_tokens"),
             count(lit(1)).cast("long").as("n_types"),
             count(when(col("c") === 1, 1)).cast("long").as("n_hapax"))
        .withColumn("ttr_ppm",
          expr("CAST(n_types * 1000000 DIV n_tokens AS BIGINT)"))
        .withColumn("hapax_ppm",
          expr("CAST(n_hapax * 1000000 DIV n_types AS BIGINT)"))
        .orderBy("source")
    },

    // B12 extension: token-rarity document scoring — the df-based
    // commonness/rarity gate used to drop low-information documents
    // (wall-of-boilerplate ⇒ high mean document frequency) and surface
    // rare-content ones, without any transcendental idf. Per sampled
    // document: mean token document-frequency as a floor-ppm fraction of
    // the corpus size, and the share of rare tokens (df ≤ 5% of docs) —
    // every column integer-exact. The df table is vocabulary-sized
    // (broadcastable); the corpus scan stays linear.
    "q77_rarity_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val toksAll = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val dfTbl = toksAll.distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        // bound the scoring vocabulary to the top-50k tokens by df
        // (ties by token) — this is what makes the broadcast safe at
        // open-vocabulary scale: the df table is now O(50k) by
        // construction, not O(vocab); out-of-vocabulary tokens drop out
        // of the score, which is the standard bounded-vocab contract
        .orderBy(col("df").desc, col("tok")).limit(50000)
      val n = docs.agg(count(lit(1)).cast("long").as("n_corpus"))
      toksAll.filter(col("doc_id") % 13 === 0)
        .join(broadcast(dfTbl), "tok")
        .crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             sum(col("df")).cast("long").as("sum_df"),
             count(when(col("df") * 20 <= col("n_corpus"), 1)).as("n_rare"),
             min(col("n_corpus")).as("nc"))
        // floor(sum_df·10⁶/(n_tokens·nc)) without the sum_df·10⁶ 64-bit
        // overflow (at corpus scale sum_df ≈ n_tokens·n_corpus): divide by
        // nc first via the exact q75 div/mod decomposition, then by
        // n_tokens — floor(floor(x/m)/n) = floor(x/(m·n)) for positive
        // integers, so the value is identical and the oracle mirrors it.
        .withColumn("commonness_ppm",
          expr("CAST((sum_df DIV nc * 1000000 + " +
               "(sum_df % nc) * 1000000 DIV nc) DIV n_tokens AS BIGINT)"))
        .withColumn("rare_ppm",
          expr("CAST(n_rare * 1000000 DIV n_tokens AS BIGINT)"))
        .select("doc_id", "n_tokens", "sum_df", "n_rare",
                "commonness_ppm", "rare_ppm")
        .orderBy("doc_id")
    },

    "q31_tfidf_topterm" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score", expr("tf * 1000000 div df"))
        .filter(col("doc_id") % 11 === 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy("doc_id")
    },

    // Tokenizer-vocabulary coverage audit: fix a bounded scoring
    // vocabulary (top-10 tokens by corpus frequency, ties by token) and
    // measure, per language, what share of the token stream and of the
    // type inventory it covers — the out-of-vocabulary profile that
    // decides whether a tokenizer/vocab is adequate per stratum before
    // training. The vocab is bounded BY CONSTRUCTION (LIMIT), so its
    // broadcast is safe at open-vocabulary scale; the corpus side
    // streams linearly through one left join + one aggregation.
    "q94_vocab_coverage" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(10)
        .select(col("tok"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(coalesce(col("in_vocab"), lit(0L))).cast("long").as("n_covered"),
          countDistinct(col("tok")).cast("long").as("n_types"),
          countDistinct(when(col("in_vocab") === 1L, col("tok")))
            .cast("long").as("n_types_covered"))
        .withColumn("token_cov_ppm",
          expr("CAST(n_covered * 1000000 DIV n_tokens AS BIGINT)"))
        .withColumn("type_cov_ppm",
          expr("CAST(n_types_covered * 1000000 DIV n_types AS BIGINT)"))
        .orderBy("lang")
    },

    // PII detection/redaction — the standard pre-training free-text
    // scrub (emails, phone numbers, national-id shapes), complementing
    // q92's k-anonymity audit of structured quasi-identifiers. The
    // synthetic corpus carries no PII, so the query PLANTS it
    // deterministically from doc_id (q82's jitter precedent): ~1/7 of
    // docs get an email, ~1/11 a phone, ~1/13 an id — mirrored exactly
    // in the oracle, so detection and redaction are exercised against
    // known ground truth while most rows stay clean. The operator
    // itself ([[piiRedact]]) is row-local regex work: no shuffle,
    // linear at any corpus size.
    "q96_pii_redact" -> { (s, d) =>
      val planted = Tables.documents(s, d)
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.org now"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" tel 555-"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" ref "), (col("doc_id") % 900 + 100).cast("string"),
              lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
              lit("-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit(""))))
      piiRedact(planted.select(col("doc_id"), col("t")), "t")
        .withColumn("n_pii", col("n_email") + col("n_phone") + col("n_id"))
        .select("doc_id", "n_email", "n_phone", "n_id", "n_pii", "redacted")
        .orderBy("doc_id")
    },

    // CREDENTIAL/SECRET screen — the scrub q96 (PII) does not cover:
    // leaked API keys and tokens in pretraining text (the Copilot
    // lesson). Detector = maximal runs of the base64url/key alphabet
    // ≥ 20 chars that mix all three character classes (digit + lower +
    // upper) — the lookahead-free, RE2-safe high-entropy proxy (true
    // Shannon entropy needs a log; the mixed-class long-run rule is
    // what production scanners like detect-secrets ship as baseline).
    // The synthetic corpus carries no secrets, so ~1/9 of docs get one
    // PLANTED deterministically from doc_id (q96's convention, mirrored
    // in the oracle): ' key AKa1' + md5-prefix — 20 chars, all three
    // classes by construction. Per source: docs, flagged docs,
    // candidate count, masked mass, flag floor-ppm. Row-local regex
    // work only — no shuffle beyond the (source)-grid agg.
    "q485_secret_screen" -> { (s, d) =>
      val planted = Tables.documents(s, d)
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 9 === 0,
            concat(lit(" key AKa1"),
              substring(md5(col("doc_id").cast("string")), 1, 16)))
            .otherwise(lit(""))))
      planted.select(col("source"),
          expr("filter(regexp_extract_all(t, '[A-Za-z0-9+/=_-]{20,}', 0)," +
            " x -> x RLIKE '[0-9]' AND x RLIKE '[a-z]' AND x RLIKE '[A-Z]')")
            .as("ks"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(size(col("ks")) > 0, 1L).otherwise(0L)).cast("long")
            .as("n_flagged_docs"),
          sum(size(col("ks")).cast("long")).cast("long").as("n_secrets"),
          sum(expr("aggregate(ks, 0L, (a, x) -> a + length(x))"))
            .cast("long").as("masked_chars"))
        .withColumn("flag_ppm",
          expr("CAST(n_flagged_docs * 1000000 DIV n_docs AS BIGINT)"))
        .orderBy("source")
    },

    // Collocation mining by integer PMI proxy: PMI ranks bigrams by
    // log(p(xy)/(p(x)p(y))) and log is monotone, so ranking by the LIFT
    // n_xy·N/(n_x·n_y) is the same ordering with zero transcendental
    // drift. Floor-ppm lift via the overflow-safe order n_xy·10⁶ first
    // (n_xy ≤ min(n_x,n_y) keeps the quotient ≤ 10⁶ before the ×N):
    // the standard phrase/multi-word-expression discovery pass a
    // tokenizer-training pipeline runs. Two token-key aggregations
    // (map-side combined) + two vocabulary-key joins; top-k is
    // TakeOrdered, never a global sort.
    "q109_bigram_lift" -> { (s, d) =>
      // ONE corpus scan via tokenArrays; the bigram leg guards size<2
      // inline instead of re-filtering the table, so no branch re-reads
      // the source. Count/join/rank machinery = pairLift, shared with
      // the q147 skip-gram variant.
      val toksDf = tokenArrays(s, d)
      val big = toksDf.filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      pairLift(big, toksDf)
    },

    // Skip-gram co-occurrence lift — the window-±2 generalization of
    // q109's adjacent-bigram collocations (the word2vec/GloVe context
    // definition, window w=2, unordered): pairs are canonicalized
    // (least, greatest) so "york new" and "new york" accumulate one
    // count. Pair generation is a pure per-row array transform over the
    // shared token cache — no self-join on position, no fan-out beyond
    // the ≤2 partners each token contributes rightward. Same bounded
    // machinery as q109 after that (pairLift): two vocab joins, the
    // groupless-agg broadcast, deterministic top-20.
    "q147_skipgram_lift" -> { (s, d) =>
      val toksDf = tokenArrays(s, d)
      val pairs = toksDf.filter(size(col("t")) >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(t) - 2), i ->
            |  CASE WHEN i + 2 < size(t) THEN array(
            |      struct(least(t[i], t[i+1]) AS w1,
            |             greatest(t[i], t[i+1]) AS w2),
            |      struct(least(t[i], t[i+2]) AS w1,
            |             greatest(t[i], t[i+2]) AS w2))
            |    ELSE array(
            |      struct(least(t[i], t[i+1]) AS w1,
            |             greatest(t[i], t[i+1]) AS w2))
            |  END))""".stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      pairLift(pairs, toksDf)
    },

    // Frequency-of-frequencies spectrum (the Good-Turing input table):
    // how many trigram-shingle TYPES occur exactly f times, for f =
    // 1..10 with an 11+ tail bucket, plus the occurrence-mass share each
    // band covers. The Zipf-shape summary that sizes vocabulary
    // truncation and smoothing decisions — all exact integers. Word
    // TRIGRAMS are the unit (the corpus vocabulary is closed, so the
    // unigram spectrum is a single saturated band; the trigram space is
    // where hapaxes actually live — same reason q79 fingerprints on
    // shingles). Two aggregations (shingle key, map-side combined, then
    // the ≤11-row bucket key); output is O(1) regardless of corpus size.
    "q110_freq_spectrum" -> { (s, d) =>
      val cnts = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .select(explode(shingleExpr("t", 3)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val n = cnts.agg(sum(col("c")).cast("long").as("n_total"),
        count(lit(1)).cast("long").as("n_types_total"))
      cnts.withColumn("f_bucket",
          when(col("c") <= 10, col("c")).otherwise(lit(11L)).cast("long"))
        .groupBy("f_bucket")
        .agg(count(lit(1)).cast("long").as("n_types"),
             sum(col("c")).cast("long").as("n_tokens"))
        .crossJoin(broadcast(n))
        .select(col("f_bucket"), col("n_types"), col("n_tokens"),
          expr("CAST(n_tokens * 1000000 DIV n_total AS BIGINT)").as("tok_ppm"),
          expr("CAST(n_types * 1000000 DIV n_types_total AS BIGINT)").as("type_ppm"))
        .orderBy("f_bucket")
    },

    // Per-source distribution drift as EXACT total-variation distance:
    // TVD(source ∥ corpus) = ½·Σ_t |p_s(t) − p(t)| over unigram token
    // distributions — the log-free drift measure (KL/JS would demand
    // cross-engine ln(); TVD is a sum of integer rationals). The
    // absent-token mass (tokens the source never emits, where
    // |0 − p(t)| collapses to p(t)) is folded in WITHOUT materializing
    // the full |sources|×|vocab| grid: Σ_{t∉s} c_t·n_s =
    // n_s·(n − Σ_{t∈s} c_t), so only the observed (source, token)
    // pairs are ever joined. Integer domain: Σ|c_st·n − c_t·n_s| ≤
    // 2·n_s·n fits int64 to ~3·10⁹ corpus tokens — beyond that,
    // DECIMAL(38,0) (documented magnitude rule). Scale: token counts
    // map-combine per (source, token); ONE shuffle joins them to the
    // corpus counts on token; per-source totals broadcast.
    "q174_source_divergence" -> { (s, d) =>
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
      val corpus = st.groupBy("tok").agg(sum(col("c_st")).as("c_t"))
      val perSrc = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
      val n = corpus.agg(sum(col("c_t")).cast("long").as("n_tot"))
      st.join(corpus, "tok")
        .join(perSrc, "source")
        .crossJoin(broadcast(n))
        .groupBy(col("source"), col("n_s"), col("n_tot"))
        .agg(sum(abs(col("c_st") * col("n_tot") - col("c_t") * col("n_s")))
          .as("seen_abs"),
          sum(col("c_t")).as("seen_ct"),
          count(lit(1)).cast("long").as("n_types_seen"))
        .select(col("source"), col("n_s").cast("long").as("n_tokens"),
          col("n_types_seen"),
          expr("""CAST((seen_abs + n_s * (n_tot - seen_ct)) * 500000
              DIV (n_s * n_tot) AS BIGINT)""").as("tvd_ppm"))
        .orderBy("source")
    },

    // Exact-phrase retrieval over a positional view of the corpus: the
    // query phrase is the mid-frequency BIGRAM (df closest to N/10,
    // q137/q153's deterministic query-model rule lifted from terms to
    // phrases), and a hit is positional ADJACENCY — the 2-shingle at
    // position i — never a substring scan (substring matching
    // cross-token is a different, wrong, operator). Complements q137
    // (ranked) and q153 (boolean) as the third classic IR access path.
    // Scale: ONE tokenize pass feeds both the bigram-df query-selection
    // agg and the per-doc hit count; the chosen 1-row phrase
    // broadcasts; per-doc counts map-combine on doc_id. Top-50 by
    // doc_id bounds output at any SF.
    "q176_phrase_search" -> { (s, d) =>
      val grams = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(shingleExpr("t", 2)).as("bg"))
      val nDocs = Tables.documents(s, d)
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val phrase = grams.select("doc_id", "bg").distinct()
        .groupBy("bg").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .orderBy(abs(col("df") * 10 - col("n_docs")), col("bg"))
        .limit(1)
        .select(col("bg").as("phrase"), col("df"))
      grams.join(broadcast(phrase), col("bg") === col("phrase"))
        .groupBy(col("doc_id"), col("phrase"), col("df"))
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .select(col("doc_id"), col("phrase"), col("df").cast("long").as("df"),
          col("n_hits"))
        .orderBy("doc_id").limit(50)
    },

    // χ² KEYNESS — the top-5 tokens most DISTINCTIVE of each source
    // (source vs rest-of-corpus 2×2 contingency per token, Pearson χ²):
    // the corpus-linguistics primitive behind "what is this crawl
    // actually full of?" — q301's stylometry profiles FIXED function
    // words, this DISCOVERS the discriminating content terms. Log-
    // likelihood keyness (Dunning G²) needs ln(); χ² is rational, so it
    // is the exact-arithmetic keyness per the repo-wide log-free rule.
    // Sufficient statistics a,b,c,d are exact BIGINTs; the cross
    // product ad−bc widens to DECIMAL(38,0); the single mirrored
    // IEEE step is the q248 convention (double mul/div in fixed order,
    // round to e6). Candidates need in-source tf ≥ 5 AND positive
    // enrichment (ad > bc) — keyness is one-sided; depletion is the
    // OTHER source's enrichment. Scale: tf agg map-combines on
    // (source, token); the token-margin join is vocab-sized; source
    // margins and the grand total broadcast; the top-5 window runs per
    // source over the candidate vocabulary, never over documents.
    "q318_keyness" -> { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("a"))
      val tokT = tf.groupBy("tok").agg(sum(col("a")).as("tf_tok"))
      val srcT = tf.groupBy("source").agg(sum(col("a")).as("n_src"))
      val grand = srcT.agg(sum(col("n_src")).as("n_tot"))
      val scored = tf.filter(col("a") >= 5)
        .join(tokT, "tok").join(broadcast(srcT), "source")
        .crossJoin(broadcast(grand))
        .withColumn("diff", expr(
          "CAST(a AS DECIMAL(38,0)) * (n_tot - n_src - (tf_tok - a))" +
            " - CAST(tf_tok - a AS DECIMAL(38,0)) * (n_src - a)"))
        .filter(col("diff") > 0)
        .withColumn("chi2_e6", expr("""CAST(round(
            CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE) /
            CAST(CAST(tf_tok AS DECIMAL(38,0)) * (n_tot - tf_tok) AS DOUBLE) /
            CAST(CAST(n_src AS DECIMAL(38,0)) * (n_tot - n_src) AS DOUBLE) *
            CAST(n_tot AS DOUBLE) * 1000000) AS BIGINT)"""))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("chi2_e6").desc, col("tok"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("tok"), col("a").cast("long").as("tf_src"),
          (col("tf_tok") - col("a")).cast("long").as("tf_rest"),
          col("chi2_e6"))
        .orderBy("source", "rank")
    },

    // SPAN-level cross-source overlap: the winnowing-fingerprint (MOSS)
    // sibling of Dedup's q322 whole-document mirror matrix — two
    // sources that share NO byte-exact documents still share character
    // 5-gram spans (boilerplate, citations, partial copies), and this
    // prices that per unordered source pair: shared winnow fingerprints,
    // floor-ppm Jaccard over the fingerprint union, and CONTAINMENT
    // (shared / smaller side) — the asymmetric-copy detector: a small
    // source lifted wholesale into a big one shows low Jaccard but
    // containment → 10⁶. Runs over the q39 sampling convention
    // (doc_id % 3 — the bounded declared form; the grid covers sources
    // with ≥1 sampled fingerprint). Scale: fingerprints are int32
    // hashes — the distinct (fp, source) agg shuffles fixed-width keys;
    // the fp self-join fans out ≤|sources|² per fingerprint; the pair
    // grid is |sources|²-sized.
    "q325_span_overlap" -> { (s, d) =>
      val fp = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0)
        .select(col("source"),
          explode(Winnow.winnow_fingerprints(col("text"), 5, 4)).as("fp"))
        .distinct()
      val nd = fp.groupBy("source").agg(count(lit(1)).as("ndv"))
      val shared = fp.select(col("fp"), col("source").as("src_a"))
        .join(fp.select(col("fp"), col("source").as("src_b")), Seq("fp"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
      nd.select(col("source").as("src_a"), col("ndv").as("ndv_a"))
        .crossJoin(broadcast(
          nd.select(col("source").as("src_b"), col("ndv").as("ndv_b"))))
        .filter(col("src_a") < col("src_b"))
        .join(shared, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          col("ndv_a").cast("long").as("ndv_a"),
          col("ndv_b").cast("long").as("ndv_b"),
          coalesce(col("shared"), lit(0L)).cast("long").as("shared_fps"))
        .withColumn("jaccard_ppm", expr(
          "CAST(shared_fps * 1000000 DIV (ndv_a + ndv_b - shared_fps) AS BIGINT)"))
        .withColumn("containment_ppm", expr(
          "CAST(shared_fps * 1000000 DIV least(ndv_a, ndv_b) AS BIGINT)"))
        .orderBy("src_a", "src_b")
    },

    // Char-trigram REPEAT RATE per source — the collision-probability
    // entropy proxy (the lang-id literature's "repeat rate"/Simpson
    // collision over character n-grams): p_coll = Σc(c−1) / N(N−1) in
    // floor-ppm over each source's char-trigram MULTISET. Boilerplate
    // and template spam repeat trigrams far above prose, so a high
    // repeat_ppm source gets the q339 gzip signal WITHOUT a compressor
    // — pure counting, no log, engine-exact (Shannon entropy needs ln;
    // the collision rate is the standard transcendental-free stand-in,
    // same reason q219 uses Simpson over langs). Distinct-trigram count
    // and mass ride along. Magnitude: N ≈ chars/source, Σc(c−1) ≤ N² —
    // DECIMAL(38,0)/HUGEINT numerators hold to ~10¹⁸ chars/source
    // (int64 alone overflows at ~3·10⁹ — the q165 rule). Scale: one
    // in-row transform→explode to (source, trigram) and one two-level
    // map-combined aggregation; text never shuffles, trigrams do.
    "q422_char_repeat_rate" -> { (s, d) =>
      val tri = Tables.documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 2)," +
            " i -> substring(text, i, 3))")).as("tri"))
      val counts = tri.groupBy("source", "tri").agg(count(lit(1)).as("c"))
      counts.groupBy("source")
        .agg(sum(col("c")).cast("long").as("n_trigrams"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(col("c") * (col("c") - 1)).cast("long").as("coll"))
        .withColumn("repeat_ppm", expr(
          "CAST(CAST(coll AS DECIMAL(38,0)) * 1000000" +
            " DIV (CAST(n_trigrams AS DECIMAL(38,0)) * (n_trigrams - 1))" +
            " AS BIGINT)"))
        .select(col("source"), col("n_trigrams"), col("n_distinct"),
          col("coll").as("collisions"), col("repeat_ppm"))
        .orderBy("source")
    }
  )

  /** SQL mirror of [[langIdPredictions]] — shared prefix of the q37 and
    * q102 oracles so predictor logic cannot drift between them (the same
    * one-definition rule as Dedup's ClusterLabelsSql). */
  private[graft] val LangIdPredSql: String =
    """WITH tris AS (
      |  SELECT doc_id, lang, substr(text, i, 3) AS tri
      |  FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS g(i)),
      |prof AS (
      |  SELECT lang AS pred_lang, tri FROM (
      |    SELECT lang, tri, COUNT(*) AS cnt,
      |      row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri) AS rn
      |    FROM tris WHERE doc_id % 3 = 0 GROUP BY lang, tri) t WHERE rn <= 50),
      |dt AS (SELECT DISTINCT doc_id, tri FROM tris WHERE doc_id % 23 = 0),
      |ov AS (SELECT doc_id, pred_lang, COUNT(*) AS overlap
      |       FROM dt JOIN prof USING (tri) GROUP BY 1, 2),
      |r AS (SELECT doc_id, pred_lang, overlap,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, pred_lang) AS rn
      |      FROM ov)""".stripMargin

  /** SQL mirror of [[graft.functions.Winnow]] (k=5, w=4) up to the
    * `picked` fingerprint set, over the `doc_id % mod = 0` sample — ONE
    * parameterized definition shared by the q39 and q325 oracles so the
    * rolling-hash/rightmost-min logic cannot drift between them. */
  private def winnowPickedSql(mod: Int): String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, text, length(text) AS n FROM documents
       |  WHERE doc_id % $mod = 0),
       |hashes AS (
       |  SELECT d.doc_id, g.i,
       |    (SUM((ord(substr(d.text, g.i + j.j + 1, 1))::BIGINT) *
       |         ([67503107,16974593,66049,257,1])[j.j + 1]))
       |      % 2147483647 AS h
       |  FROM docs d,
       |       UNNEST(generate_series(0, d.n - 5)) AS g(i),
       |       UNNEST(generate_series(0, 4)) AS j(j)
       |  GROUP BY d.doc_id, g.i),
       |nh AS (SELECT doc_id, COUNT(*) AS n_hashes FROM hashes GROUP BY 1),
       |wins AS (
       |  SELECT h.doc_id, w.ws, h.i, h.h,
       |    row_number() OVER (PARTITION BY h.doc_id, w.ws ORDER BY h.h ASC, h.i DESC) AS rn
       |  FROM nh
       |  JOIN LATERAL (SELECT UNNEST(generate_series(0, (nh.n_hashes - least(4, nh.n_hashes))::BIGINT)) AS ws) w ON TRUE
       |  JOIN hashes h ON h.doc_id = nh.doc_id
       |    AND h.i BETWEEN w.ws AND w.ws + least(4, nh.n_hashes) - 1),
       |picked AS (SELECT DISTINCT doc_id, i, h FROM wins WHERE rn = 1)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q470_code_detector" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST((length(text) - length(regexp_replace(text,
        |      '[;{}\(\)\[\]=<>#]', '', 'g'))) * 1000000
        |      // GREATEST(length(text), 1) AS BIGINT) AS sym_ppm
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN sym_ppm >= 30000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_code,
        |  CAST(SUM(sym_ppm) // COUNT(*) AS BIGINT) AS mean_sym_ppm,
        |  CAST(SUM(CASE WHEN sym_ppm >= 30000 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS code_ppm
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q422_char_repeat_rate" ->
      """WITH tri AS (
        |  SELECT source, substr(text, CAST(g.i AS INT), 3) AS tri
        |  FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS g(i)
        |  WHERE length(text) >= 3),
        |counts AS (SELECT source, tri, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS collisions
        |  FROM counts GROUP BY 1)
        |SELECT source, n_trigrams, n_distinct, collisions,
        |  CAST(CAST(collisions AS HUGEINT) * 1000000
        |    // (CAST(n_trigrams AS HUGEINT) * (n_trigrams - 1)) AS BIGINT)
        |    AS repeat_ppm
        |FROM agg ORDER BY source""".stripMargin,

    "q137_bm25_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(dl) AS BIGINT) AS total_tok
        |  FROM dl),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |qterms AS (
        |  SELECT tok, df FROM dfq CROSS JOIN stats
        |  ORDER BY abs(df * 10 - n_docs), tok LIMIT 3),
        |scored AS (
        |  SELECT t.tok, t.doc_id, t.tf, l.dl,
        |    s.total_tok * 1000 // s.n_docs AS avgdl_milli,
        |    LEAST(s.n_docs // q.df, 1000000) AS idf_proxy
        |  FROM tf t JOIN qterms q USING (tok) JOIN dl l USING (doc_id)
        |  CROSS JOIN stats s),
        |sc2 AS (
        |  SELECT tok, doc_id, tf, dl,
        |    2200 * idf_proxy * LEAST(tf, 1000000) * 1000 // (tf * 1000 +
        |      1200 * (250 + 750 * LEAST(dl, 1000000000) * 1000
        |        // avgdl_milli) // 1000)
        |      AS score_micro
        |  FROM scored),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tok ORDER BY score_micro DESC, doc_id) AS rk
        |  FROM sc2)
        |SELECT tok, CAST(rk AS BIGINT) AS rk, doc_id,
        |  CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
        |  CAST(score_micro AS BIGINT) AS score_micro
        |FROM rk WHERE rk <= 10 ORDER BY tok, rk""".stripMargin,

    "q153_bool_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |qterms AS (
        |  SELECT tok FROM dfq CROSS JOIN stats
        |  ORDER BY abs(df * 10 - n_docs), tok LIMIT 3),
        |hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(SUM(tf) AS BIGINT) AS sum_tf
        |  FROM tf JOIN qterms USING (tok)
        |  GROUP BY doc_id HAVING COUNT(*) = 3)
        |SELECT h.doc_id, h.n_terms, h.sum_tf, CAST(l.dl AS BIGINT) AS dl
        |FROM hits h JOIN dl l USING (doc_id)
        |ORDER BY doc_id LIMIT 50""".stripMargin,

    "q109_bigram_lift" ->
      s"""WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT tok, COUNT(*) AS cnt
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni),
        |big AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n_xy
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
        |  WHERE len(t) >= 2
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |j AS (
        |  SELECT b.w1, b.w2, b.n_xy, x.cnt AS n_x, y.cnt AS n_y, n.n_total,
        |    b.n_xy * 1000000 // x.cnt AS q6
        |  FROM big b
        |  JOIN uni x ON b.w1 = x.tok
        |  JOIN uni y ON b.w2 = y.tok
        |  CROSS JOIN n)
        |SELECT w1, w2, CAST(n_xy AS BIGINT) AS n_xy,
        |  CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
        |  ${liftPpmExpr("//")}
        |    AS lift_ppm
        |FROM j
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin,

    "q147_skipgram_lift" ->
      s"""WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents),
        |pos AS (
        |  SELECT t, i
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
        |  WHERE len(t) >= 2),
        |pr AS (
        |  SELECT least(t[i], t[i + 1]) AS w1,
        |    greatest(t[i], t[i + 1]) AS w2 FROM pos
        |  UNION ALL
        |  SELECT least(t[i], t[i + 2]), greatest(t[i], t[i + 2]) FROM pos
        |  WHERE i + 2 <= len(t)),
        |uni AS (
        |  SELECT tok, COUNT(*) AS cnt
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni),
        |big AS (
        |  SELECT w1, w2, COUNT(*) AS n_xy
        |  FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |j AS (
        |  SELECT b.w1, b.w2, b.n_xy, x.cnt AS n_x, y.cnt AS n_y, n.n_total,
        |    b.n_xy * 1000000 // x.cnt AS q6
        |  FROM big b
        |  JOIN uni x ON b.w1 = x.tok
        |  JOIN uni y ON b.w2 = y.tok
        |  CROSS JOIN n)
        |SELECT w1, w2, CAST(n_xy AS BIGINT) AS n_xy,
        |  CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
        |  ${liftPpmExpr("//")}
        |    AS lift_ppm
        |FROM j
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin,

    "q110_freq_spectrum" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |cnts AS (
        |  SELECT tok, COUNT(*) AS c FROM (
        |    SELECT array_to_string(t[i:i+2], ' ') AS tok
        |    FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i))
        |  GROUP BY tok),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        |             CAST(COUNT(*) AS BIGINT) AS n_types_total FROM cnts)
        |SELECT CAST(CASE WHEN c <= 10 THEN c ELSE 11 END AS BIGINT) AS f_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(c) * 1000000 // MIN(n_total) AS BIGINT) AS tok_ppm,
        |  CAST(COUNT(*) * 1000000 // MIN(n_types_total) AS BIGINT) AS type_ppm
        |FROM cnts, n
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_doc_stats" ->
      """WITH t AS (SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        | MAX(n_chars) AS max_chars,
        | CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "q22_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id, lang,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
        | CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks) AS stop_ratio,
        | CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin,

    "q77_rarity_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |df AS (
        |  SELECT tok, df FROM (
        |    SELECT tok, COUNT(*) AS df
        |    FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok)
        |  ORDER BY df DESC, tok LIMIT 50000),
        |n AS (SELECT COUNT(*) AS n_corpus FROM documents),
        |j AS (
        |  SELECT t.doc_id, d.df, n.n_corpus
        |  FROM toks t JOIN df d ON t.tok = d.tok CROSS JOIN n
        |  WHERE t.doc_id % 13 = 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(df) AS BIGINT) AS sum_df,
        |  CAST(COUNT(*) FILTER (df * 20 <= n_corpus) AS BIGINT) AS n_rare,
        |  CAST((SUM(df) // MIN(n_corpus) * 1000000 +
        |        (SUM(df) % MIN(n_corpus)) * 1000000 // MIN(n_corpus)) // COUNT(*) AS BIGINT) AS commonness_ppm,
        |  CAST(COUNT(*) FILTER (df * 20 <= n_corpus) * 1000000 // COUNT(*) AS BIGINT) AS rare_ppm
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q73_vocab_growth" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n_hapax
        |  FROM cnt GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
        |  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm
        |FROM agg ORDER BY source""".stripMargin,

    "q23_top_trigram" ->
      """WITH toks AS (
        |  SELECT lang, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT lang, array_to_string(t[i:i+2], ' ') AS tri
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |cnt AS (SELECT lang, tri, COUNT(*) AS cnt FROM tri GROUP BY 1, 2),
        |r AS (SELECT lang, tri, CAST(cnt AS BIGINT) AS cnt,
        |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) AS rn FROM cnt)
        |SELECT lang, tri, cnt FROM r WHERE rn = 1 ORDER BY lang""".stripMargin,

    "q38_regex_tokens" ->
      """WITH t AS (
        |  SELECT lang, text,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0)) AS nr,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(nr) AS BIGINT) AS sum_regex_tokens,
        | CAST(SUM(nw) AS BIGINT) AS sum_ws_tokens,
        | CAST(MAX(nr) AS BIGINT) AS max_regex_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "q37_lang_id" -> (LangIdPredSql +
      """
        |SELECT doc_id, pred_lang, CAST(overlap AS BIGINT) AS overlap
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    "q102_langid_confusion" -> (LangIdPredSql +
      """,
        |pred AS (SELECT doc_id, pred_lang FROM r WHERE rn = 1),
        |j AS (SELECT d.lang, p.pred_lang
        |      FROM pred p JOIN documents d USING (doc_id)),
        |cm AS (SELECT lang, pred_lang, COUNT(*) AS n FROM j GROUP BY 1, 2)
        |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS row_ppm,
        |  lang = pred_lang AS correct
        |FROM cm ORDER BY lang, pred_lang""".stripMargin),

    "q31_tfidf_topterm" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
        |j AS (SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
        |        CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
        |      FROM tf JOIN df ON tf.term = df.term WHERE tf.doc_id % 11 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM j)
        |SELECT doc_id, term, tf, df, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Winnowing (SIGMOD'03) mirrored in SQL: k-gram Rabin-Karp hashes as
    // Σ byte·B^(k−1−j) mod M (the power table is B⁴..B⁰ mod M — congruent
    // to the Scala per-step mod), rightmost-min per width-w window via
    // (h ASC, i DESC) row_number, consecutive-dedup = DISTINCT picked
    // index (the rightmost-min index is non-decreasing as the window
    // slides, so "emit when the index changes" ≡ picked-index set).
    // ord() == byte value because the corpus is ASCII (verified both SFs).
    // ONE parameterized definition (the ClusterLabelsSql rule) feeds the
    // q39 per-doc audit and q325's cross-source span-overlap matrix.
    "q39_winnow_fingerprint" -> (winnowPickedSql(29) +
      """,
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_fps, COUNT(DISTINCT h) AS n_distinct_fps,
        |         MIN(h) AS min_fp, MAX(h) AS max_fp
        |  FROM picked GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(a.n_fps, 0) AS BIGINT) AS n_fps,
        |  CAST(COALESCE(a.n_distinct_fps, 0) AS BIGINT) AS n_distinct_fps,
        |  CAST(a.min_fp AS BIGINT) AS min_fp, CAST(a.max_fp AS BIGINT) AS max_fp
        |FROM docs d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "q94_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT lang, UNNEST(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, 1 AS in_vocab FROM (
        |    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        |    ORDER BY c DESC, tok LIMIT 10)),
        |j AS (
        |  SELECT t.lang, t.tok, COALESCE(v.in_vocab, 0) AS in_vocab
        |  FROM toks t LEFT JOIN vocab v USING (tok)),
        |agg AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(in_vocab) AS BIGINT) AS n_covered,
        |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
        |    CAST(COUNT(DISTINCT CASE WHEN in_vocab = 1 THEN tok END)
        |         AS BIGINT) AS n_types_covered
        |  FROM j GROUP BY lang)
        |SELECT lang, n_tokens, n_covered, n_types, n_types_covered,
        |  CAST(n_covered * 1000000 // n_tokens AS BIGINT) AS token_cov_ppm,
        |  CAST(n_types_covered * 1000000 // n_types AS BIGINT) AS type_cov_ppm
        |FROM agg ORDER BY lang""".stripMargin,

    "q485_secret_screen" ->
      """WITH planted AS (
        |  SELECT source, text ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' key AKa1' ||
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) ELSE '' END AS t
        |  FROM documents),
        |cands AS (
        |  SELECT source,
        |    list_filter(regexp_extract_all(t, '[A-Za-z0-9+/=_-]{20,}'),
        |      x -> regexp_matches(x, '[0-9]') AND regexp_matches(x, '[a-z]')
        |        AND regexp_matches(x, '[A-Z]')) AS ks
        |  FROM planted)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN len(ks) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged_docs,
        |  CAST(SUM(len(ks)) AS BIGINT) AS n_secrets,
        |  CAST(SUM(COALESCE(list_sum(list_transform(ks, x -> length(x))), 0))
        |    AS BIGINT) AS masked_chars,
        |  CAST(SUM(CASE WHEN len(ks) > 0 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS flag_ppm
        |FROM cands GROUP BY source ORDER BY source""".stripMargin,

    "q96_pii_redact" -> {
      // one source of truth: the oracle interpolates the SAME patterns
      // and replacement tokens the Spark operator uses
      val Seq((_, emailP, emailR), (_, phoneP, phoneR), (_, idP, idR)) =
        PiiClasses
      s"""WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org now' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' ref ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |      || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, t,
        |  regexp_replace(t, '$emailP', '$emailR', 'g') AS t1 FROM planted),
        |s2 AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '$phoneP', '$phoneR', 'g') AS t2 FROM s1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '$emailP', 0)) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '$phoneP', 0)) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '$idP', 0)) AS BIGINT) AS n_id,
        |  CAST(len(regexp_extract_all(t, '$emailP', 0))
        |     + len(regexp_extract_all(t1, '$phoneP', 0))
        |     + len(regexp_extract_all(t2, '$idP', 0)) AS BIGINT) AS n_pii,
        |  regexp_replace(t2, '$idP', '$idR', 'g') AS redacted
        |FROM s2 ORDER BY doc_id""".stripMargin
    },

    "q174_source_divergence" ->
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS c_st FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |corpus AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
        |per_src AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
        |n AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_tot FROM corpus)
        |SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types_seen,
        |  CAST((SUM(ABS(c_st * n_tot - c_t * n_s))
        |    + n_s * (n_tot - SUM(c_t))) * 500000
        |    // (n_s * n_tot) AS BIGINT) AS tvd_ppm
        |FROM st JOIN corpus USING (tok) JOIN per_src USING (source)
        |CROSS JOIN n
        |GROUP BY source, n_s, n_tot ORDER BY source""".stripMargin,

    "q176_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |phrase AS (
        |  SELECT bg AS phrase, CAST(df AS BIGINT) AS df FROM (
        |    SELECT bg, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, bg FROM grams)
        |    GROUP BY bg) b CROSS JOIN nd
        |  ORDER BY ABS(df * 10 - n_docs), bg LIMIT 1)
        |SELECT doc_id, phrase, df, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM grams JOIN phrase ON bg = phrase
        |GROUP BY doc_id, phrase, df
        |ORDER BY doc_id LIMIT 50""".stripMargin,

    "q318_keyness" ->
      """WITH tf AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |tt AS (SELECT tok, SUM(a) AS tf_tok FROM tf GROUP BY 1),
        |st AS (SELECT source, SUM(a) AS n_src FROM tf GROUP BY 1),
        |g AS (SELECT SUM(n_src) AS n_tot FROM st),
        |sc AS (
        |  SELECT tf.source, tf.tok, tf.a, tt.tf_tok, st.n_src, g.n_tot,
        |    CAST(tf.a AS HUGEINT) * (g.n_tot - st.n_src - (tt.tf_tok - tf.a))
        |      - CAST(tt.tf_tok - tf.a AS HUGEINT) * (st.n_src - tf.a) AS diff
        |  FROM tf JOIN tt USING (tok) JOIN st USING (source) CROSS JOIN g
        |  WHERE tf.a >= 5),
        |ch AS (
        |  SELECT source, tok, a, tf_tok - a AS b,
        |    CAST(round(
        |      CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE) /
        |      CAST(CAST(tf_tok AS HUGEINT) * (n_tot - tf_tok) AS DOUBLE) /
        |      CAST(CAST(n_src AS HUGEINT) * (n_tot - n_src) AS DOUBLE) *
        |      CAST(n_tot AS DOUBLE) * 1000000) AS BIGINT) AS chi2_e6
        |  FROM sc WHERE diff > 0),
        |rk AS (
        |  SELECT source, tok, a, b, chi2_e6, row_number() OVER
        |    (PARTITION BY source ORDER BY chi2_e6 DESC, tok) AS rank
        |  FROM ch)
        |SELECT source, CAST(rank AS BIGINT) AS rank, tok,
        |  CAST(a AS BIGINT) AS tf_src, CAST(b AS BIGINT) AS tf_rest, chi2_e6
        |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "q325_span_overlap" -> (winnowPickedSql(3) +
      """,
        |fp AS (
        |  SELECT DISTINCT d.source, p.h AS fp
        |  FROM picked p JOIN docs d USING (doc_id)),
        |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ndv
        |       FROM fp GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT g.src_a, g.src_b, g.ndv_a, g.ndv_b,
        |  CAST(COALESCE(sh.shared, 0) AS BIGINT) AS shared_fps,
        |  CAST(COALESCE(sh.shared, 0) * 1000000
        |    // (g.ndv_a + g.ndv_b - COALESCE(sh.shared, 0)) AS BIGINT)
        |    AS jaccard_ppm,
        |  CAST(COALESCE(sh.shared, 0) * 1000000
        |    // LEAST(g.ndv_a, g.ndv_b) AS BIGINT) AS containment_ppm
        |FROM (SELECT a.source AS src_a, b.source AS src_b,
        |        a.ndv AS ndv_a, b.ndv AS ndv_b
        |      FROM nd a JOIN nd b ON a.source < b.source) g
        |LEFT JOIN sh ON g.src_a = sh.src_a AND g.src_b = sh.src_b
        |ORDER BY g.src_a, g.src_b""".stripMargin)
  )
}
