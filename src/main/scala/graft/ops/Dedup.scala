package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.flow.Checkpoints
import graft.model.Tables
import graft.ops.TextAnalysis.{shingleExpr, tokens}

/** Deduplication operators for the LLM-data-pipeline surface (B10/B11):
  *
  *   - q24: exact dedup over a content key (md5), deterministic survivor;
  *   - q25: n-gram Jaccard near-dup pairs — the exact, SQL-expressible
  *     variant, with a document-frequency cap on hot shingles;
  *   - q26: MinHash + LSH banding — the scale path: candidate generation
  *     via band-bucket join (cost ∝ true-positive density, not n²), then
  *     exact-Jaccard verification of candidates. The hash family is
  *     engine-neutral (md5-derived universal hashing), so the WHOLE
  *     pipeline — signatures, bands, candidates, verification — is
  *     oracle-checked in DuckDB.
  *   - q27: SimHash fingerprints with banded near-dup candidate join —
  *     same scale rationale, same engine-neutral hash, oracle-checked.
  *
  * Scale notes: q25's shingle self-join is quadratic in the per-shingle
  * document frequency, so hot shingles (boilerplate headers: df in the
  * millions at 100 TB) are dropped by a df cap BEFORE the self-join —
  * without the cap one viral shingle produces a quadratic blowup. The
  * 100 TB path is q26/q27: signatures are fixed-width per document, the
  * band join shuffles only (band, bucket) keys, and candidate verification
  * touches token sets for candidate pairs only.
  */
object Dedup {

  /** Engine-neutral 32-bit string hash: the first 8 hex digits of the md5
    * digest read as an integer — md5 is bytewise-identical everywhere, so
    * any engine reproduces this (DuckDB: ('0x' || substr(md5(s),1,8))::
    * BIGINT). This is what makes the MinHash/SimHash/Count-Min pipelines
    * oracle-checkable; Spark's hash() is Murmur3 with Spark-specific
    * seeding, which no other engine reproduces. */
  def neutralHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Mersenne prime 2³¹−1: modulus of the universal hash family
    * h_i(x) = (a_i·x + b_i) mod P used for MinHash permutations. */
  val P: Long = 2147483647L

  /** q140 sorted-neighborhood window width — ONE definition read by the
    * Spark leg, interpolated into the DuckDB oracle, and replayed by the
    * brute-force completeness spec, so the three can never drift. */
  private[graft] val SnmWindow = 3

  /** Distinct word-trigram shingles per document for a deterministic
    * doc_id-sampled subset. */
  private def docShingles(s: SparkSession, d: String, mod: Int): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % mod === 0)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingleExpr("t", 3)).as("sh"))
      .distinct()

  /** TWIN-COLLAPSE classes over a (key, item) set table: group rows whose
    * DISTINCT item sets are identical into one class. Exact twins (verbatim
    * template copies) are indistinguishable to every set-similarity operator
    * — identical MinHash signatures, identical prefix tokens, identical
    * Jaccard against any third set — so pair/triangle enumeration can run
    * over one REPRESENTATIVE per class and expand by multiplicity
    * afterwards (q115 expands by algebra, q118 by join). The class key is
    * md5 over the sorted item list (engine-internal only — it never
    * reaches an oracle), so two classes collide only on an md5 collision.
    * Returns (members, classes):
    *   members = (key, fp, n)       one row per input key (n = |set|)
    *   classes = (fp, rep, m, n)    rep = min key, m = multiplicity. */
  private[graft] def shingleClasses(sh: DataFrame, key: String = "doc_id",
      item: String = "sh"): (DataFrame, DataFrame) = {
    val members = sh.groupBy(key)
      .agg(md5(concat_ws("\u0001", sort_array(collect_list(col(item)))))
          .as("fp"),
        count(lit(1)).cast("long").as("n"))
    val classes = members.groupBy("fp")
      .agg(min(col(key)).as("rep"), count(lit(1)).cast("long").as("m"),
        max(col("n")).as("n"))
    (members, classes)
  }

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * standard guard before a shingle self-join: pair count per shingle is
    * df², so one boilerplate shingle shared by 10⁶ documents would emit
    * 10¹² pairs. Dropping df > maxDf removes only tokens that carry no
    * dedup signal (they match everything) and bounds the join fan-out at
    * maxDf² per shingle. */
  def capDocFrequency(sh: DataFrame, maxDf: Long): DataFrame = {
    val df = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
    sh.join(df.filter(col("_df") <= maxDf), "sh").drop("_df")
  }

  /** Exact Jaccard pairs over distinct shingles: |A∩B| via shingle
    * self-join, |A|,|B| via per-doc counts — both over the df-capped
    * shingle universe, so the quadratic term is bounded by maxDf² per
    * shingle. Use as the oracle-checked exact variant; the scale path
    * verifies candidates with [[jaccardOfPairs]]. */
  def jaccardPairs(sh: DataFrame, key: String = "doc_id",
                   outA: String = "doc_a", outB: String = "doc_b"): DataFrame = {
    val cnt = sh.groupBy(key).agg(count(lit(1)).as("n"))
    val a = sh.select(col(key).as(outA), col("sh"))
    val b = sh.select(col(key).as(outB), col("sh"))
    a.join(b, Seq("sh")).filter(col(outA) < col(outB))
      .groupBy(outA, outB).agg(count(lit(1)).as("common"))
      .join(cnt.select(col(key).as(outA), col("n").as("na")), outA)
      .join(cnt.select(col(key).as(outB), col("n").as("nb")), outB)
      .withColumn("jac", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
  }

  /** Exact Jaccard restricted to a given candidate-pair set: cost is
    * |candidates| × shingles-per-doc, independent of corpus-wide shingle
    * frequency — this is what makes LSH verification viable at 100 TB. */
  def jaccardOfPairs(cand: DataFrame, sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
  }

  /** MinHash signatures over the engine-neutral hash family:
    * h_i(sh) = (7919·(i+1)·H(sh) + 104729·i) mod P with H = md5-derived
    * 32-bit hash mod P. Returns (doc_id, band, bucket) — one row per
    * band, ready for the LSH join. Single aggregation pass (map-side
    * combinable mins); band buckets combine the band's minima with a
    * base-31 polynomial — all pure 64-bit integer arithmetic, no
    * overflow (7919·16·P < 2⁴⁸, bucket < 2⁴⁶). */
  /** Wide per-doc MinHash signature (doc_id, h0..h{n-1}) — the state
    * [[minhashBands]] folds into band buckets, also consumed directly by
    * q156's calibration audit. ONE definition of the hash family. */
  private[graft] def minhashSignatureWide(sh: DataFrame, numHashes: Int,
      key: String = "doc_id"): DataFrame = {
    // materialize the md5-derived base hash ONCE per row — as a shared
    // subtree of 16 aggregate expressions it would rely on codegen CSE to
    // avoid 16 md5 evaluations per shingle; a named column makes the
    // single evaluation structural
    val hashed = sh.withColumn("_hm", neutralHash32(col("sh")) % P)
    val mins = (0 until numHashes).map(i =>
      min((lit(7919L * (i + 1)) * col("_hm") + lit(104729L * i)) % P).as(s"h$i"))
    hashed.groupBy(key).agg(mins.head, mins.tail: _*)
  }

  def minhashBands(sh: DataFrame, numHashes: Int, bandSize: Int): DataFrame =
    explodeBandBuckets(minhashSignatureWide(sh, numHashes),
      Seq("doc_id"), numHashes, bandSize)

  /** Bound the LSH band-join fan-out under a viral/planted mega-bucket:
    * per (band, bucket) the `k` lowest doc_ids become ANCHORS, and every
    * member pairs only with anchors (never member×member), so a bucket
    * of size s emits ≤ k·s candidate rows instead of s² — linear in the
    * bucket — while CLUSTER CONNECTIVITY is preserved: every member of a
    * bucket shares that bucket's minimum anchor, so the bucket stays one
    * component through the anchor star (connectivity + the exact bound
    * are spec-proven on a planted 100-doc mega-cluster, SkewStressSpec).
    *
    * The shipped batch queries (q26/q65 et al.) run the exact uncapped
    * band join — bucket sizes at the tested SFs are small and the DuckDB
    * oracle checks the exact pair list; this guard is the documented
    * drop-in for fleets where one duplicate cluster can reach 10⁶
    * members (candidates would be 10¹² pairs uncapped; capped, 10⁷ rows
    * that still yield the identical CLUSTERING because components, not
    * pair lists, drive survivor election). The streaming twin is
    * [[graft.streaming.StreamingOps.streamingNearDupCandidates]]'s
    * maxPerBucket FIFO. */
  def capBucketFanout(bands: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"anchor count must be positive, got $k")
    val w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    val anchors = bands.withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .select(col("band"), col("bucket"), col("doc_id").as("anchor"))
    bands.join(anchors, Seq("band", "bucket"))
      .filter(col("anchor") < col("doc_id"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Shared banding tail: fold signature columns h0..h{n-1} into one
    * (band, bucket) row per band, carrying `carry` columns through. */
  private def explodeBandBuckets(sig: DataFrame, carry: Seq[String],
                                 numHashes: Int, bandSize: Int): DataFrame = {
    val nBands = numHashes / bandSize
    // bandSize·31^(bandSize−1)·P must stay under 2⁶³: fine through
    // bandSize = 5 (≈ 10¹⁶), overflows from 8 — keep the bound explicit
    require(bandSize >= 1 && bandSize <= 5,
      s"bandSize must be in [1, 5] (bucket polynomial overflows past 5), got $bandSize")
    val weights = Seq.iterate(1L, bandSize)(_ * 31L).reverse // 31^(bandSize-1)..31^0
    val bandBuckets = array((0 until nBands).map { b =>
      (0 until bandSize).map(p => col(s"h${b * bandSize + p}") * lit(weights(p)))
        .reduce(_ + _)
    }: _*)
    sig.select(carry.map(col) :+ posexplode(bandBuckets).as(Seq("band", "bucket")): _*)
  }

  /** Per-ROW MinHash band buckets — the same signature [[minhashBands]]
    * computes with a groupBy, rebuilt as pure per-row array expressions
    * (array_distinct → hash → array_min per permutation). No aggregation
    * means it composes where a streaming plan forbids one, e.g. ahead of
    * flatMapGroupsWithState in [[graft.streaming.StreamingOps
    * .streamingNearDupCandidates]]. Produces identical (band, bucket)
    * values to the batch path for the same document (spec-asserted), so
    * a streaming candidate can be verified against a batch index. */
  def bandBucketsPerRow(df: DataFrame, tokensCol: String,
                        numHashes: Int, bandSize: Int,
                        carry: Seq[String]): DataFrame = {
    val withHm = df
      .withColumn("_sh", graft.ops.TextAnalysis.shingleExpr(tokensCol, 3))
      // ONE definition of the neutral hash (the Column-lambda transform
      // reuses neutralHash32 itself) — a second SQL-string copy of the
      // md5→conv recipe here could silently drift from the batch path
      .withColumn("_hm",
        transform(array_distinct(col("_sh")), s => neutralHash32(s) % P))
    val withMins = (0 until numHashes).foldLeft(withHm) { (d, i) =>
      d.withColumn(s"h$i", expr(
        s"array_min(transform(_hm, x -> (${7919L * (i + 1)}L * x + ${104729L * i}L) % ${P}L))"))
    }
    explodeBandBuckets(withMins, carry, numHashes, bandSize)
  }

  /** The full MinHash→LSH→verify pipeline as data: every candidate pair
    * with its exact Jaccard. q26 presents the top of this; q65 consumes
    * it as the edge set for cluster formation. */
  def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d, 1)
    val bands = minhashBands(sh, numHashes = 16, bandSize = 4)
    // shuffle-hash both sides: identical exchanges on (band, bucket)
    // let ReuseExchange compute the signature subtree ONCE; a broadcast
    // side would duplicate the whole MinHash aggregation.
    val cand = bands.as("x").hint("shuffle_hash")
      .join(bands.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardOfPairs(cand, sh)
  }

  /** Connected components over an undirected edge list (doc_a, doc_b) —
    * the step that turns near-dup PAIRS into dedup CLUSTERS so one
    * survivor per cluster can be elected (pairs alone under-delete: A~B
    * and B~C leave A and C both "survivors" though they share a cluster
    * via B). Iterative min-label propagation: every node starts labeled
    * with itself; each round a node adopts the minimum label among
    * itself and its neighbors; fixpoint = components labeled by their
    * minimum member.
    *
    * The loop is DRIVER-PACED but data-distributed: each round is two
    * distributed joins + an aggregation, the per-round convergence probe
    * reads one count, and [[graft.flow.Checkpoints.truncate]] cuts the
    * growing lineage each round — reliable `checkpoint()` when
    * `spark.graft.checkpointDir` points at a shared store (required for
    * executor-loss recovery on real clusters), `localCheckpoint`
    * otherwise (the standard Spark shape for iterative graph algorithms;
    * rounds needed = component diameter, which for near-dup clusters is
    * tiny). maxIter caps pathological chains. */
  /** The duplicate-graph edge list shared by q65 (cluster formation) and
    * q76 (split-leakage audit): verified MinHash pairs at Jaccard ≥ 0.3.
    * One definition so the threshold can never drift between the two.
    * This is the EXACT (uncollapsed) pair list — q152's k-core reads it
    * because degree semantics need true edges; component consumers read
    * [[dupEdgesSparse]] instead. */
  def dupEdges(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairs(s, d)
      .filter(col("jac") >= 0.3)
      .select("doc_a", "doc_b")

  /** Twin-collapsed LSH chain shared by q115's census and
    * [[dupEdgesSparse]]: classes of identical-shingle-set documents,
    * their members, and the verified REP pair list (with exact jac) —
    * identical signatures mean rep-level candidacy and Jaccard decide
    * every cross pair of two classes at once, so the band join and the
    * verify fan-out see distinct CONTENT only (a 25k-copy template
    * family is ONE row here; uncollapsed it is 3·10⁸ candidate pairs ×
    * shingles-per-doc verify rows — the measured 78 GB sf10 spill).
    * Returns (members(doc_id, fp, n), classes(fp, rep, m, n),
    * verified(doc_a, doc_b, na, nb, common, jac) over rep ids). */
  private[graft] def collapsedVerifiedPairs(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val (members, classes, verified, _) = collapseChain(s, d)
    (members, classes, verified)
  }

  /** The pinned REP wide MinHash signature (doc_id = rep, h0..h15) of
    * the collapse chain — one row per twin class. Twins have IDENTICAL
    * signatures, so any per-pair signature statistic (q156's slot
    * matches, q424's band collisions) over the original corpus equals
    * the rep pair's statistic expanded by class multiplicities. */
  private[graft] def repSignatureWide(s: SparkSession, d: String): DataFrame =
    collapseChain(s, d)._4

  /** [[collapsedVerifiedPairs]] plus [[repSignatureWide]], built as ONE
    * family so neither can be read before the other exists. */
  private def collapseChain(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    // MEMOIZED per (session, dir) and PINNED (round-10 amortization):
    // ten suite queries (q115/q118-front/q504/q505 + the component
    // consumers via dupEdgesSparse) re-derive this identical triple, and
    // per-query Caches.clear() was making each rebuild it — the measured
    // ~3 s collapse constant paid 8× per sf0.1 run. The three outputs
    // are linear in distinct content (docs × 16-byte fp; classes;
    // verified REP pairs), so pinning them for the run is cheap; the
    // corpus-sized shingle table stays query-scoped [[Caches.shared]]
    // and is released when the first consumer's query finishes.
    Caches.family(s, d, "collapseChain") {
      // ZERO-SHUFFLE members pass (round 10, second rework): the
      // per-doc distinct shingle set is an IN-ROW array
      // (array_sort(array_distinct(...))), so the fingerprint and set
      // size need no corpus-wide distinct and no collect_list
      // aggregation — the two 3M-row shuffles the round-9 build paid.
      // fp = md5 over the \u0001-joined sorted set: the same VALUE
      // [[shingleClasses]] computes aggregation-side (q504's oracle
      // parity pins both recipes against the text-level DuckDB replay).
      // Only the REP shingle rows ever explode (for the band agg and
      // the verify leg) — a broadcast semi-join against the bounded
      // class table, linear in distinct content.
      val enriched = Caches.shared(Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          array_sort(array_distinct(shingleExpr("t", 3))).as("shs"))
        .select(col("doc_id"), col("shs"),
          md5(concat_ws("\u0001", col("shs"))).as("fp"),
          size(col("shs")).cast("long").as("n")))
      val members = Caches.pinned(enriched.select("doc_id", "fp", "n"))
      val classes = Caches.pinned(members.groupBy("fp")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).cast("long").as("m"),
          max(col("n")).as("n")))
      // No forced broadcast on the rep semi-join (round-10 ADVICE):
      // classes has one row per DISTINCT shingle set — effectively
      // linear in corpus docs, not bounded — so a forced broadcast
      // risks the 8 GB relation cap / driver pressure at sf10+. AQE
      // picks broadcast itself whenever the run-time size is small.
      val repSh = enriched
        .join(classes.select(col("rep").as("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("shs")).as("sh"))
      // Pin the REP wide MinHash signature (round 11): the banding
      // below folds it into (band, bucket) anyway, so pinning the wide
      // form first (one row per class × 17 columns — linear in distinct
      // content, the pinnable shape) costs nothing extra here and lets
      // q156's calibration and q424's band-plan sweep read the SAME
      // signatures via [[repSignatureWide]] instead of re-deriving a
      // full-corpus shingle + signature chain each.
      val sigWide = Caches.pinned(minhashSignatureWide(repSh, numHashes = 16))
      val bands = explodeBandBuckets(sigWide, Seq("doc_id"),
        numHashes = 16, bandSize = 4)
      val cand = bands.as("x").hint("shuffle_hash")
        .join(bands.as("y").hint("shuffle_hash"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      (members, classes, Caches.pinned(jaccardOfPairs(cand, repSh)), sigWide)
    }

  /** Connectivity-EQUIVALENT sparse form of [[dupEdges]] for component
    * consumers (q65/q76/q106/q136/q160/q445/q457/q491): per twin class a
    * STAR rep→member replaces the C(m,2) intra clique, and one rep→rep
    * edge replaces each verified cross biclique. Components are
    * identical to the exact graph's — intra-class pairs are always
    * exact-graph edges (jac = 1 ≥ 0.3) and star-connected here; a cross
    * pair (a∈i, b∈j) is an exact edge iff (rep_i, rep_j) is, and both
    * connect through the stars — so every CC-derived output is
    * bit-identical while the edge list is linear in docs + distinct
    * content, never quadratic in copies. Canonical (doc_a < doc_b)
    * holds: rep = min member, and verified pairs are rep-ordered. */
  def dupEdgesSparse(s: SparkSession, d: String): DataFrame =
    Caches.family(s, d, "dupEdgesSparse") {
      val (members, classes, verified) = collapsedVerifiedPairs(s, d)
      val stars = members.join(classes.select(col("fp"), col("rep")), "fp")
        .filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      Caches.pinned(verified.filter(col("jac") >= 0.3)
        .select("doc_a", "doc_b")
        .unionByName(stars))
    }

  /** The q65 component labels (node, label) shared by every CC consumer
    * (q65/q76/q106/q136/q160/q457/q491) — memoized+pinned like the
    * collapse chain above: the min-label/pointer-jump iteration is
    * deterministic, so re-running it per consumer buys nothing but the
    * round-9 2× family regression. q445 deliberately does NOT read
    * this: its point is the alternating-star algorithm, so it pays its
    * own rounds over the (memoized) sparse edges. */
  private[graft] def dupClusterLabels(s: SparkSession, d: String): DataFrame =
    Caches.family(s, d, "dupClusterLabels") {
      Caches.pinned(connectedComponents(dupEdgesSparse(s, d)))
    }

  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the edge list ONCE: sym is referenced by every round's
    // join, and without the checkpoint each round would re-run the whole
    // upstream pipeline (e.g. the LSH DAG) that produced the edges.
    // Both directions come from ONE explode over ONE scan — the obvious
    // union-of-two-selects shape evaluates the (uncached, expensive)
    // upstream edge plan twice inside the materialization job.
    val sym = Checkpoints.truncate(
      edges.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")),
      eager = true)
    var labels = Checkpoints.truncate(
      sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")),
      eager = true)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrLabels = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("label"))
      // label-of-label shortcut (pointer jumping): a node also adopts
      // its current label's label, so label distances halve each round —
      // convergence in O(log diameter) rounds, not O(diameter); a
      // 1000-link chain of incrementally-edited templates converges in
      // ~10 rounds instead of silently exhausting maxIter
      val jumped = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.node"))
        .select(col("x.node").as("node"), col("y.label").as("label"))
      // the convergence signal rides INSIDE the round's materialized
      // frame (min-label can only decrease, so changed ⟺ label < prev):
      // probing it is then a scan of the just-checkpointed blocks, not
      // the extra shuffle-join job per round the naive probe pays
      val updated = Checkpoints.truncate(
        labels.select("node", "label")
          .unionByName(nbrLabels).unionByName(jumped)
          .groupBy("node").agg(min(col("label")).as("label"))
          .join(labels.withColumnRenamed("label", "prev"), "node")
          .select(col("node"), col("label"),
            (col("label") < col("prev")).as("changed")),
        eager = true)
      converged = updated.filter(col("changed")).limit(1).isEmpty
      // round N's labels are superseded once round N+1's are materialized
      // and compared — reclaim their reliable checkpoint files (no-op in
      // local mode) or a 20-round run leaks 20 label-table copies
      Checkpoints.dropCheckpoint(labels)
      labels = updated
      i += 1
    }
    // a silent partial result would split one true cluster into several
    // and elect extra survivors — the exact failure this operator exists
    // to prevent; fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(component diameter > 2^maxIter is implausible; raise maxIter)")
    // the labels frame is checkpoint-backed and self-contained — the edge
    // list's checkpoint files are no longer reachable by any caller
    Checkpoints.dropCheckpoint(sym)
    labels.select("node", "label") // project away the convergence flag
  }

  /** One LARGE-STAR round (Kiveris et al. SoCC'14 §3): for every node u,
    * hook each strictly-LARGER neighbor v to m(u) = min(N(u) ∪ {u}).
    * Emitted edges are canonical (m < v) by construction. */
  private def largeStarRound(e: DataFrame): DataFrame = {
    val sym = e.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u").filter(col("v") > col("u"))
      .filter(col("m") =!= col("v"))
      .select(col("m").as("doc_a"), col("v").as("doc_b"))
      .distinct()
  }

  /** One SMALL-STAR round: orient edges to the larger endpoint; every
    * node u re-points its smaller neighbors N⁻(u), and itself, at
    * m = min(N⁻(u)). */
  private def smallStarRound(e: DataFrame): DataFrame = {
    val dird = e.select(col("doc_b").as("u"), col("doc_a").as("v")) // v < u
    val mins = dird.groupBy("u").agg(min(col("v")).as("m"))
    dird.join(mins, "u")
      .select(explode(array(
          struct(col("v").as("x"), col("m").as("m")),
          struct(col("u").as("x"), col("m").as("m")))).as("p"))
      .filter(col("p.x") =!= col("p.m"))
      .select(least(col("p.m"), col("p.x")).as("doc_a"),
        greatest(col("p.m"), col("p.x")).as("doc_b"))
      .distinct()
  }

  /** Alternating large-star/small-star connected components — the
    * O(log² n)-round, diameter-independent CC used by q445; must agree
    * label-for-label with [[connectedComponents]] (spec-asserted). Same
    * driver-paced, checkpoint-truncated loop discipline as the label
    * propagation above; converged when a full L∘S round leaves the
    * canonical edge set fixed (then the set is a min-rooted star forest
    * and labels read off as least(node, min neighbor)). */
  def starComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    var e = Checkpoints.truncate(
      edges.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b")).distinct(),
      eager = true)
    var i = 0
    var stable = false
    while (!stable && i < maxIter) {
      val next = Checkpoints.truncate(
        smallStarRound(largeStarRound(e)), eager = true)
      // both sides are DISTINCT canonical sets: fixed iff same count and
      // no edge of next missing from e
      stable = next.count() == e.count() &&
        next.except(e).limit(1).isEmpty
      Checkpoints.dropCheckpoint(e)
      e = next
      i += 1
    }
    if (!stable) throw new IllegalStateException(
      s"starComponents did not converge within $maxIter rounds")
    val sym = e.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("mn"), col("u")).as("label"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Triangle census over the near-dup graph — the transitivity
    // diagnostic for dedup clustering: a high closure ratio (most
    // wedges A~B~C close into triangles) means near-duplication behaves
    // like an equivalence relation and cluster-level survivor election
    // (q65) is safe; a low ratio means similarity CHAINS (templates
    // drifting edit by edit), where collapsing whole components
    // over-deletes. Wedge counts come from one degree aggregation
    // (deg·(deg−1)/2, exact integers); triangles enumerate ordered
    // paths a<b<c through the canonically-ordered edge list and close
    // them with a semi-join — per-node fan-out is bounded by dup-cluster
    // size, the same operational envelope as q65's CC over the same
    // edges. The edge list is persist()ed because four plan branches
    // reuse it — NOT reliably checkpointed: non-iterative reuse keeps
    // the lineage shallow and recomputable, and nothing ever supersedes
    // this frame, so a reliable checkpoint would leak into the shared
    // store on every run (see q118's note).
    // Per-document DISPOSITION — the one-view integration of the three
    // dedup families: every document tagged with WHY the pipeline
    // would drop it (exact content duplicate ≻ near-duplicate ≻
    // boilerplate-prefix clone ≻ kept, first match wins), with doc and
    // token mass per reason. This is the report a curation run ships:
    // not just how much survives, but what each mechanism uniquely
    // removes once the stronger one has had its turn. Survivor rule is
    // uniform (min doc_id per group/cluster — the q14/q24/q65 rule).
    // Three independent grouping passes (content md5, CC labels over
    // the LSH edges, 100-char prefix hash) joined back onto one doc
    // frame; each pass is the same map-combined agg its standalone op
    // pays, and the final rollup is 4 rows.
    "q160_drop_reasons" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
        .select(col("doc_id"), col("text"), col("n_tok"))
      val exact = docs.groupBy(md5(col("text")).as("cmd5"))
        .agg(min(col("doc_id")).as("e_surv"), count(lit(1)).as("e_n"))
      val boiler = docs
        .withColumn("phash", md5(substring(col("text"), 1, 100).cast("binary")))
        .groupBy("phash")
        .agg(min(col("doc_id")).as("b_surv"), count(lit(1)).as("b_n"))
      val labels = dupClusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label"))
      val tagged = docs
        .withColumn("cmd5", md5(col("text")))
        .withColumn("phash", md5(substring(col("text"), 1, 100).cast("binary")))
        .join(exact, "cmd5").join(boiler, "phash")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("reason",
          when(col("e_n") > 1 && col("doc_id") =!= col("e_surv"), "exact_dup")
            .when(col("label").isNotNull && col("label") =!= col("doc_id"),
              "near_dup")
            .when(col("b_n") > 1 && col("doc_id") =!= col("b_surv"),
              "boilerplate")
            .otherwise("kept"))
      val byReason = tagged.groupBy("reason")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
      byReason
        .crossJoin(broadcast(byReason.agg(
          sum(col("n_docs")).cast("long").as("total"))))
        .select(col("reason"), col("n_docs"), col("n_tokens"),
          expr("CAST(n_docs * 1000000 DIV total AS BIGINT)").as("share_ppm"))
        .orderBy("reason")
    },

    // k-core decomposition (k=2, three peel rounds) over the SAME
    // near-dup edge list as q115/q65 — the graph-density ladder: a
    // node survives the 2-core when at least 2 of its neighbors also
    // survive, so each round strips pendant chains (templates drifting
    // edit-by-edit) while dup CLIQUES are fixed points. Per round the
    // core shrinks monotonically; the per-round (nodes, edges) trace is
    // the chain-vs-clique profile that q115's closure ratio summarizes
    // in one number. Relational-Pregel shape like q90: each round = one
    // degree aggregation + two left-semi joins, every intermediate
    // eagerly persisted (each round's edge set feeds BOTH its summary
    // and the next round — unpersisted, branch fan-out would recompute
    // the whole prefix per consumer). Bounded unrolling (3 rounds)
    // keeps the plan static; at 100 TB each round shuffles only the
    // surviving edge set, which only ever shrinks.
    "q152_kcore" -> { (s, d) =>
      def endpoints(e: DataFrame): DataFrame =
        e.select(col("doc_a").as("n"))
          .unionByName(e.select(col("doc_b").as("n")))
      def peel(e: DataFrame): DataFrame = {
        val keep = endpoints(e).groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2).select("n")
        e.join(keep.withColumnRenamed("n", "doc_a"), Seq("doc_a"), "left_semi")
          .join(keep.withColumnRenamed("n", "doc_b"), Seq("doc_b"), "left_semi")
      }
      def trace(e: DataFrame, round: Int): DataFrame =
        e.agg(count(lit(1)).cast("long").as("n_edges"))
          .crossJoin(broadcast(endpoints(e).distinct()
            .agg(count(lit(1)).cast("long").as("n_nodes"))))
          .select(lit(round.toLong).as("round"), col("n_nodes"), col("n_edges"))
      // CHECKPOINT-truncated rounds (the CC rule), not just persisted:
      // a peel references its predecessor 3× (degree + both semi-joins),
      // so un-truncated lineage nests the LSH DAG 3^r times and the
      // OPTIMIZER — not execution — goes exponential (measured ~46 s at
      // sf0.1 with persist-only; truncation restores the ~2 s the
      // sibling graph ops pay).
      val e0 = Checkpoints.truncate(dupEdges(s, d), eager = true)
      val e1 = Checkpoints.truncate(peel(e0), eager = true)
      val e2 = Checkpoints.truncate(peel(e1), eager = true)
      val e3 = Checkpoints.truncate(peel(e2), eager = true)
      val out = trace(e0, 0).unionByName(trace(e1, 1))
        .unionByName(trace(e2, 2)).unionByName(trace(e3, 3))
        .orderBy("round")
      out
    },

    "q115_dup_triangles" -> { (s, d) =>
      // DEDUP-GRADE edges (jac ≥ 0.6), not the 0.3 cluster edges the
      // linear ops (q65 CC, q152 k-core) run on — a triangle census is
      // a cohesion diagnostic of DUPLICATE families, so it should read
      // the edge set that defines them, with the 0.3 graph kept for
      // the linear cluster ops.
      //
      // TWIN-COLLAPSE (round-9 rework of the round-8 output-bound form):
      // documents with IDENTICAL distinct-shingle sets are exact twins —
      // they carry identical MinHash signatures (the signature is a
      // function of the set), so (a) every intra-class pair band-collides
      // in all bands and has jac = 1 ≥ 0.6 (always an edge), and (b) a
      // cross pair's candidacy and jac depend only on the two CLASSES,
      // never the members. The census therefore collapses each class to
      // (representative, multiplicity m), runs the LSH chain over
      // representatives only, and emits the ORIGINAL graph's counts by
      // exact algebra: with per-class degree d = (m−1) + Σ_adj m_j,
      //   edges     = Σ C(m,2)            + Σ_E' m_i·m_j
      //   wedges    = Σ m·C(d,2)
      //   triangles = Σ C(m,3)            (all-in-one-class)
      //             + Σ_E' C(m_i,2)·m_j + C(m_j,2)·m_i   (2+1)
      //             + Σ_{rep triangles} m_i·m_j·m_k      (1+1+1)
      // Round-8 sf1 ground truth (exact path, ~10 min): one ~2.5k-doc
      // family, 2539 nodes / 3.2M edges / 2.72e9 triangles; the collapsed
      // algebra reproduces those counts bit-for-bit in seconds because
      // the rep graph enumerates distinct CONTENT, not copies. The
      // per-query law 3T ≤ W stays spec-asserted (LateOpsSpec).
      // Overflow: counts are exact longs; C(m,3) stays in int64 through
      // m ≈ 3.8M twins of one document — past that the DECIMAL(38,0)
      // magnitude rule applies (documented, not hit at any gated SF).
      val (members, classes, verified) = collapsedVerifiedPairs(s, d)
      val cm = classes.select(col("rep"), col("m"))
      val e = Caches.shared(verified
        .filter(col("jac") >= 0.6)
        .select("doc_a", "doc_b")
        .join(cm.select(col("rep").as("doc_a"), col("m").as("ma")), "doc_a")
        .join(cm.select(col("rep").as("doc_b"), col("m").as("mb")), "doc_b"))
      val nbr = e.select(col("doc_a").as("rep"), col("mb").as("w"))
        .unionByName(e.select(col("doc_b").as("rep"), col("ma").as("w")))
        .groupBy("rep").agg(sum(col("w")).as("nm"))
      val degs = classes.join(nbr, Seq("rep"), "left")
        .select(col("m"),
          (col("m") - 1 + coalesce(col("nm"), lit(0L))).as("deg"))
        .filter(col("deg") >= 1)
      val w = degs.agg(sum(col("m")).cast("long").as("n_nodes"),
        sum(expr("m * (deg * (deg - 1) DIV 2)")).cast("long").as("n_wedges"))
      val ne = classes.agg(sum(expr("m * (m - 1) DIV 2")).as("intra"))
        .crossJoin(broadcast(
          e.agg(coalesce(sum(expr("ma * mb")), lit(0L)).as("cross"))))
        .select((col("intra") + col("cross")).cast("long").as("n_edges"))
      val t1 = classes.agg(
        coalesce(sum(expr("m * (m - 1) * (m - 2) DIV 6")), lit(0L)).as("t1"))
      val t2 = e.agg(coalesce(sum(expr(
        "(ma * (ma - 1) DIV 2) * mb + (mb * (mb - 1) DIV 2) * ma")),
        lit(0L)).as("t2"))
      val t3 = e.as("e1")
        .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
        .select(col("e1.doc_a").as("a"), col("e2.doc_b").as("c"),
          (col("e1.ma") * col("e1.mb") * col("e2.mb")).as("wt"))
        .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
          Seq("a", "c"), "left_semi")
        .agg(coalesce(sum(col("wt")), lit(0L)).as("t3"))
      val tri = t1.crossJoin(broadcast(t2)).crossJoin(broadcast(t3))
        .select((col("t1") + col("t2") + col("t3")).cast("long")
          .as("n_triangles"))
      w.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          expr("CAST(coalesce(3 * n_triangles * 1000000 DIV nullif(n_wedges, 0), 0) " +
            "AS BIGINT)").as("closure_ppm"))
    },

    // Prefix-filtered set-similarity join (PPJoin-style) — the OTHER
    // classical way to bound a similarity self-join, next to MinHash/LSH
    // (q26): order each document's distinct tokens by ascending global
    // document frequency (rarest first, full tiebreak), keep only the
    // first n − ⌈t·n⌉ + 1 tokens as the PREFIX, and generate candidates
    // from prefix-token collisions only — the prefix-filter theorem
    // guarantees every pair with Jaccard ≥ t shares a prefix token, so
    // the join is exact (no LSH false-negative probability), while the
    // rarest-first order keeps the hottest tokens out of the index.
    // Candidates verify by exact intersection with the threshold as a
    // cross-multiplied integer (7·common ≥ 3·(na+nb) ⇔ jac ≥ ¾). The SET
    // UNIT is the word trigram (q26's shingle space), not the unigram:
    // over a closed vocabulary every document shares most unigrams, so
    // a unigram prefix filter degenerates to the quadratic join it
    // exists to avoid, while the trigram space is hapax-dominated and
    // prefix collisions all but vanish for non-duplicates. Fan-out per
    // prefix token is bounded by that shingle's df — rarest-first makes
    // that df SMALL by construction; the verify leg fans out candidates
    // × shingles-per-doc, both bounded. A completeness spec asserts
    // parity with the exhaustive pairwise join.
    "q118_prefix_filter_join" -> { (s, d) =>
      // TWIN-COLLAPSE front (round 9, same theorem as q115): exact
      // template copies have identical distinct-shingle sets, so the
      // prefix-filter join runs over one REPRESENTATIVE per class and
      // the verified rep pairs expand back by join afterwards — every
      // intra-class pair is (n, n, n, 10⁶) by construction, and every
      // cross pair of classes (i, j) carries the rep pair's exact
      // (na, nb, common). Round-8 sf1 evidence: at τ=¾ the planted
      // template family alone produced ~30M prefix collisions / 0.9B
      // verify rows; collapsed, those copies cost ONE row each in the
      // class table and the collision/verify legs see distinct content
      // only. The completeness spec (exhaustive-join parity) and the
      // SkewStress template-block fixture pin output equality.
      // the shingle table feeds FOUR plan branches (df table, prefix
      // index, and both verify legs) — persist() so the explode+distinct
      // scan runs once, not per branch (measured ~3× on this query).
      // persist, NOT Checkpoints.truncate: this is non-iterative subtree
      // reuse, so the lineage stays shallow and recomputable (executor
      // loss self-heals) and the blocks are session-scoped — a reliable
      // checkpoint here would permanently leak a corpus-sized table into
      // the shared store on every run (nothing supersedes it, so nothing
      // could ever dropCheckpoint it)
      // EAGER shared persist: a lazy persist does not dedupe branches
      // scheduled in the same job wave (they race past the empty cache
      // and each recompute the subtree — measured ~2× on this query);
      // Caches.shared fills the cache with one count() before the main
      // plan runs and registers the frame for harness-side unpersist
      // Round 11: members/classes come from the PINNED collapse chain —
      // the same (fp, rep, m, n) frames q26/q115/q504 share — instead of
      // a per-query collect_list shingleClasses aggregation over a
      // full-corpus shingle cache (the chain's in-row fingerprint pass
      // is itself the zero-shuffle form, and it is paid once per suite
      // session, not once per query). Only the REP shingle rows are
      // exploded at all now; the PPJoin machinery below is unchanged.
      val (members, classes, _) = collapsedVerifiedPairs(s, d)
      // representative shingle table: the whole PPJoin machinery below
      // (df table, prefix index, and both verify legs — four plan
      // branches) runs over distinct CONTENT only; EAGER shared persist
      // so the rep explode runs once, not per branch. The df order is
      // class-frequency, not doc-frequency — completeness only needs ONE
      // global token order shared by the prefix rule and the position
      // filter, which this is.
      val repToks = Caches.shared(Tables.documents(s, d)
        .join(classes.select(col("rep").as("doc_id")), Seq("doc_id"),
          "left_semi")
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(shingleExpr("t", 3))).as("tok")))
      val dfTbl = repToks.groupBy("tok").agg(count(lit(1)).as("df"))
      val wd = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
      val wn = Window.partitionBy("doc_id")
      // τ = ¾ (the PPJoin-regime threshold). Round 8's sf1 gate
      // measured τ = ½ degenerating on this CLOSED-vocabulary corpus:
      // the prefix is n − ⌈τn⌉ + 1 tokens, so τ = ½ indexes HALF of
      // every document and the candidate join saw 217M collision rows
      // / 3.3B verify rows at sf1 (600 s+). At τ = ¾ the prefix is a
      // quarter of the doc and only the rarest quarter at that — the
      // same gate measured 30M collisions / 0.9B verify rows. The
      // published PPJoin evaluations run τ ≥ 0.7 for exactly this
      // reason; ½ is below the regime where a prefix filter filters.
      val prefix = repToks.join(dfTbl, "tok")
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("r", row_number().over(wd))
        .filter(col("r") <= col("n") - expr("(3 * n + 3) DIV 4") + 1)
        .select(col("doc_id"), col("tok"), col("n"), col("r"))
      // the LENGTH filter rides in the join predicate (exact: jac ≥ ¾
      // forces |A∩B| ≤ min ≤ max ≤ |A∪B| so min/max ≥ ¾) — it prunes
      // size-incompatible collisions before the verify fan-out, which
      // is the dominant cost (candidates × shingles-per-doc rows).
      // PPJoin POSITION filter on top: the (df, tok) order is GLOBAL,
      // so the pair's globally-smallest common token w sits earlier in
      // BOTH sorted token lists than every other common token — all
      // overlap beyond w lives in the suffixes after w's ranks, giving
      // overlap ≤ 1 + min(na−ra, nb−rb). And because a smaller global
      // order means a smaller per-doc position, w is inside both
      // prefixes whenever ANY common token is (the prefix-filter
      // theorem's witness), so w IS one of the collision rows — the
      // max over shared prefix tokens recovers exactly w's bound.
      // Candidates whose best-possible overlap already misses
      // 7·common ≥ 3·(na+nb) are dropped BEFORE the verify join pays
      // (candidates × shingles-per-doc); exactness is untouched (the
      // completeness spec vs the exhaustive join still passes).
      // length filter: jac ≥ ¾ forces 3·max ≤ 4·min; position filter:
      // jac ≥ ¾ ⇔ 7·common ≥ 3·(na + nb), with common ≤ ub0 + 1
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
            col("a.n") * 4 >= col("b.n") * 3 && col("b.n") * 4 >= col("a.n") * 3)
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(max(least(col("a.n") - col("a.r"), col("b.n") - col("b.r")))
          .as("ub0"))
        .filter((col("ub0") + lit(1)) * 7 >= (col("na") + col("nb")) * 3)
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      val ta = repToks.select(col("doc_id").as("doc_a"), col("tok"))
      val tb = repToks.select(col("doc_id").as("doc_b"), col("tok"))
      // verified REP pairs (rep ids + class-level sizes/overlap)
      val repPairs = cand.join(ta, "doc_a").join(tb, Seq("doc_b", "tok"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("common"))
        .filter(col("common") * 7 >= (col("na") + col("nb")) * 3)
      // EXPANSION back to document pairs. Cross pairs: every member of
      // class a × every member of class b shares the rep pair's stats;
      // doc ids re-canonicalize to (least, greatest) with na/nb riding
      // their documents. Intra pairs: C(m, 2) per class at jac = 1.
      val repFp = classes.select(col("rep"), col("fp"))
      val cross = repPairs
        .join(repFp.select(col("rep").as("doc_a"), col("fp").as("fpa")), "doc_a")
        .join(repFp.select(col("rep").as("doc_b"), col("fp").as("fpb")), "doc_b")
        .join(members.select(col("fp").as("fpa"), col("doc_id").as("da")), "fpa")
        .join(members.select(col("fp").as("fpb"), col("doc_id").as("db")), "fpb")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          when(col("da") < col("db"), col("na")).otherwise(col("nb")).as("na"),
          when(col("da") < col("db"), col("nb")).otherwise(col("na")).as("nb"),
          col("common"))
      val intra = members.as("a")
        .join(members.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("na"), col("b.n").as("nb"), col("a.n").as("common"))
      cross.unionByName(intra)
        .select(col("doc_a"), col("doc_b"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
          col("common").cast("long").as("common"),
          expr("CAST(common * 1000000 DIV (na + nb - common) AS BIGINT)")
            .as("jac_ppm"))
        .orderBy("doc_a", "doc_b")
    },

    // EXACT-TWIN census per source (F331) — the collapse machinery
    // q115/q118/dupEdgesSparse run on, surfaced as a first-class audit:
    // per source, how many documents carry an identical distinct-
    // shingle set as another (verbatim template copies and trivial
    // reorderings), the class count, the largest copy family, and the
    // twin fraction. This is the number that says how much of a corpus
    // the twin-collapse front absorbs before any LSH work happens — on
    // a template-heavy crawl it is the difference between a linear and
    // a quadratic dedup pass. Cost: one shingle explode + two
    // map-combined aggregations; the fingerprint shuffles 16 bytes per
    // doc, never shingle text.
    "q504_twin_census" -> { (s, d) =>
      // reads the memoized collapse chain's members — ONE fingerprint
      // pass per suite run shared with q26/q115/dupEdgesSparse
      val (members, _, _) = collapsedVerifiedPairs(s, d)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val cl = members.join(src, "doc_id")
        .groupBy("source", "fp").agg(count(lit(1)).as("m"))
      cl.groupBy("source").agg(
          sum(col("m")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_classes"),
          max(col("m")).cast("long").as("max_multiplicity"),
          sum(when(col("m") >= 2, col("m")).otherwise(0L)).cast("long")
            .as("twin_docs"))
        .withColumn("twin_ppm",
          expr("CAST(twin_docs * 1000000 DIV n_docs AS BIGINT)"))
        .orderBy("source")
    },

    // EXACT-COPY token waste per source (F332) — the byte bill of
    // verbatim duplication: per source, raw token mass, the mass after
    // exact (md5-of-text) dedup keeps one survivor per copy class, and
    // the wasted share. Complements q106 (NEAR-dup effective tokens —
    // cluster survivors) and q504 (twin classes in shingle space;
    // exact-text classes are strictly finer): this is the storage/
    // compute overcount a trainer pays before any similarity machinery
    // runs. One linear scan + two map-combined aggregations.
    "q505_copy_waste" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("source"),
        md5(col("text")).as("h"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val cl = docs.groupBy("source", "h")
        .agg(count(lit(1)).as("m"), max(col("n_tok")).as("n_tok"))
      cl.groupBy("source").agg(
          sum(expr("m * n_tok")).cast("long").as("raw_tokens"),
          sum(col("n_tok")).cast("long").as("unique_tokens"),
          sum(expr("(m - 1) * n_tok")).cast("long").as("wasted_tokens"))
        .withColumn("waste_ppm",
          expr("CAST(wasted_tokens * 1000000 DIV GREATEST(raw_tokens, 1) AS BIGINT)"))
        .orderBy("source")
    },

    // Dedup-adjusted corpus accounting: what the corpus is WORTH after
    // near-dup collapse — per source, raw vs effective token counts
    // where only each dup-cluster's survivor (min doc_id = its label)
    // keeps its tokens. This is the number a data-mixing plan actually
    // consumes (raw token counts over-weight duplicate-heavy sources).
    // Cost ≈ q65 + one token-count aggregation: the cluster labels are
    // the same checkpointed CC output, the corpus side is one linear
    // scan + left join on doc_id.
    "q106_effective_tokens" -> { (s, d) =>
      val labels = dupClusterLabels(s, d)
        .withColumnRenamed("node", "doc_id")
      Tables.documents(s, d)
        .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("survivor",
          col("label").isNull || col("label") === col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             sum(col("n_tok")).cast("long").as("n_tokens"),
             count(when(!col("survivor"), 1)).cast("long").as("n_dup_docs"),
             sum(when(col("survivor"), col("n_tok")).otherwise(0L))
               .cast("long").as("eff_tokens"))
        .withColumn("eff_ppm",
          expr("CAST(eff_tokens * 1000000 DIV n_tokens AS BIGINT)"))
        .orderBy("source")
    },

    // B10: exact dedup by TRUE content key — md5 of the full text — with
    // a deterministic survivor. Demonstrated on the re-ingestion scenario
    // (the one where exact content dedup actually fires at scale): two
    // overlapping ingest shards are unioned, so every document in the
    // overlap arrives twice with identical bytes; dedup keys on
    // md5(text) and keeps the earliest (ingest, doc_id) copy. The key is
    // the content hash itself — NOT a (lang, length) proxy — so two
    // different texts never collapse.
    "q24_exact_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val shardA = docs.filter(col("doc_id") % 3 =!= 2).withColumn("ingest", lit(0L))
      val shardB = docs.filter(col("doc_id") % 3 =!= 0).withColumn("ingest", lit(1L))
      val keyed = shardA.unionByName(shardB)
        .withColumn("content_md5", md5(col("text")))
      val grp = Window.partitionBy(col("content_md5"))
      val w = grp.orderBy(col("ingest"), col("doc_id"))
      keyed
        .withColumn("rn", row_number().over(w))
        .withColumn("grp_n", count(lit(1)).over(grp))
        .filter(col("rn") === 1 && col("grp_n") > 1)
        .select(col("lang"), col("grp_n").as("n_dups"),
                col("ingest").as("survivor_ingest"),
                col("doc_id").as("survivor_id"), col("content_md5"))
        .orderBy("survivor_id", "content_md5")
    },

    // B11: exact n-gram Jaccard near-dup pairs (oracle-checked variant),
    // hot shingles dropped before the quadratic self-join.
    "q25_ngram_jaccard" -> { (s, d) =>
      jaccardPairs(capDocFrequency(docShingles(s, d, 5), maxDf = 50L))
        .filter(col("jac") >= 0.02)
        .select("doc_a", "doc_b", "common", "na", "nb", "jac")
        .orderBy("doc_a", "doc_b")
    },

    // B11 companion: asymmetric shingle CONTAINMENT pairs. Jaccard misses
    // the small-document-embedded-in-big-document case (|A∩B|/|A| ≈ 1
    // while |A∩B|/|A∪B| stays tiny); containment is the rule used to
    // catch quotes, boilerplate inclusion, and excerpt republication.
    // Same df-capped shingle self-join as q25 but over the FULL corpus
    // (the planted containment pairs fall outside q25's doc_id sample);
    // the verdict compares on integers (common·2 ≥ min(na,nb) ⇔
    // max-containment ≥ 0.5) and the reported ratios are floor-ppm
    // integers, so every column is engine-exact.
    "q74_containment" -> { (s, d) =>
      jaccardPairs(capDocFrequency(docShingles(s, d, 1), maxDf = 50L))
        .filter(col("common") * 2 >= least(col("na"), col("nb")))
        .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"),
          expr("CAST(common * 1000000 DIV na AS BIGINT)").as("cont_a_ppm"),
          expr("CAST(common * 1000000 DIV nb AS BIGINT)").as("cont_b_ppm"))
        .orderBy("doc_a", "doc_b")
    },

    // B11 scale path: MinHash+LSH candidates, exact-verified. The
    // engine-neutral hash family makes the whole pipeline oracle-checked.
    //
    // TWIN-COLLAPSE front (round 10, the q115/q118 theorem applied to
    // the pair list itself — closes the ">70 GB shuffle at sf10" row):
    // the band join and the verify fan-out run over one REPRESENTATIVE
    // per identical-shingle-set class, and the ORIGINAL pair list is
    // recovered exactly by expansion — (a) every intra-class pair is a
    // candidate in all bands (identical signatures) with jac = 1 and
    // common = na = nb = n; (b) a cross pair (a∈i, b∈j) is a candidate
    // iff (rep_i, rep_j) is, with the rep pair's exact (common, na, nb,
    // jac) — twins have the same set. The shuffles are linear in
    // DISTINCT content; the expansion joins stream into the top-100
    // TakeOrdered heap without a further shuffle (a 25k-copy template
    // family contributes C(25k,2) STREAMED rows, zero shuffled bytes).
    // Output equality with the uncollapsed chain is spec-asserted
    // (DedupSpec) on the planted template block.
    "q26_minhash_lsh" -> { (s, d) =>
      val (members, classes, verified) = collapsedVerifiedPairs(s, d)
      val mem = members.select(col("doc_id"), col("fp"), col("n"))
      val intra = mem.as("a").join(mem.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("common"), col("a.n").as("na"), col("b.n").as("nb"),
          lit(1.0).as("jac"))
      val cross = verified
        .join(classes.select(col("rep").as("doc_a"), col("fp").as("fpa")),
          "doc_a")
        .join(classes.select(col("rep").as("doc_b"), col("fp").as("fpb")),
          "doc_b")
        .join(mem.select(col("doc_id").as("ma"), col("fp").as("fpa")), "fpa")
        .join(mem.select(col("doc_id").as("mb"), col("fp").as("fpb")), "fpb")
        .select(least(col("ma"), col("mb")).as("doc_a"),
          greatest(col("ma"), col("mb")).as("doc_b"),
          col("common"),
          when(col("ma") < col("mb"), col("na")).otherwise(col("nb")).as("na"),
          when(col("ma") < col("mb"), col("nb")).otherwise(col("na")).as("nb"),
          col("jac"))
      intra.unionByName(cross)
        .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
        .limit(100)
    },

    // MinHash sketch-calibration audit: for every LSH candidate pair,
    // the 16-slot signature-agreement ESTIMATE of Jaccard (matches/16,
    // the quantity E[est] = J makes an unbiased estimator of) next to
    // the EXACT shingle Jaccard, histogrammed by absolute error decile
    // — the measurement that justifies trusting the sketch at corpus
    // scales where exact verification of every pair is unaffordable.
    // The shingle set and signature are computed ONCE each (eager
    // shared persists): candidates come from banding the same wide
    // signature the estimate reads, exact Jaccard verifies over the
    // same shingle frame — no branch re-derives either. Error sums are
    // exact floor-ppm integers; output is ≤11 rows at any corpus size.
    // TWIN-COLLAPSE front (round 11, the q26 theorem applied here): the
    // uncollapsed chain re-derived the full-corpus shingle table, the
    // 16-hash signature agg, the band self-join AND the verify fan-out —
    // all already pinned at rep level by [[collapsedVerifiedPairs]].
    // Twins have identical signatures AND identical shingle sets, so for
    // every original candidate pair (a∈i, b∈j) both est_ppm (slot
    // matches) and exact_ppm equal the rep pair's values — the histogram
    // is the rep histogram expanded by mᵢ·mⱼ (cross) and C(m,2) intra
    // pairs at est = exact = 10⁶ (matches = 16, common = na = nb).
    // Output equality with the uncollapsed chain is spec-asserted
    // (DedupSpec) next to q26's.
    "q156_minhash_calibration" -> { (s, d) =>
      val (_, classes, verified) = collapsedVerifiedPairs(s, d)
      val sig = repSignatureWide(s, d)
      val sigArr = array((0 until 16).map(i => col(s"h$i")): _*)
      val sa = sig.select(col("doc_id").as("doc_a"), sigArr.as("va"))
      val sb = sig.select(col("doc_id").as("doc_b"), sigArr.as("vb"))
      val cross = verified
        .join(sa, "doc_a").join(sb, "doc_b")
        .join(classes.select(col("rep").as("doc_a"), col("m").as("wa")),
          "doc_a")
        .join(classes.select(col("rep").as("doc_b"), col("m").as("wb")),
          "doc_b")
        .withColumn("matches", expr(
          "aggregate(zip_with(va, vb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, c) -> a + c)"))
        .withColumn("est_ppm", expr("matches * 1000000 DIV 16"))
        .withColumn("exact_ppm",
          expr("common * 1000000 DIV (na + nb - common)"))
        .select(expr("abs(est_ppm - exact_ppm) DIV 100000").as("err_decile"),
          (col("wa") * col("wb")).as("w"),
          col("est_ppm"), col("exact_ppm"))
      val intra = classes.filter(col("m") >= 2)
        .select(lit(0L).as("err_decile"),
          expr("m * (m - 1) DIV 2").as("w"),
          lit(1000000L).as("est_ppm"), lit(1000000L).as("exact_ppm"))
      cross.unionByName(intra)
        .groupBy("err_decile")
        .agg(sum(col("w")).cast("long").as("n_pairs"),
          sum(col("w") * col("est_ppm")).cast("long").as("sum_est_ppm"),
          sum(col("w") * col("exact_ppm")).cast("long").as("sum_exact_ppm"))
        .orderBy("err_decile")
    },

    // B11 completion: pairs → CLUSTERS → survivor election. Edges are
    // the verified MinHash pairs at jac ≥ 0.3; connected components
    // chain A~B~C into one cluster even when A–C was never a candidate
    // pair, and the cluster's minimum doc_id is the survivor (the same
    // deterministic-survivor rule as q14/q24). cluster_id = survivor by
    // construction of min-label propagation.
    "q65_dup_clusters" -> { (s, d) =>
      dupClusterLabels(s, d)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_members"),
             max(col("node")).as("max_member"))
        .orderBy("cluster_id")
    },

    // LICENSE PROPAGATION through dup clusters — the pretraining-
    // governance rule dedup makes NECESSARY: when near-duplicates of a
    // document exist under different licenses, the survivor must carry
    // the STRICTEST member license (keeping the permissive copy of a
    // restricted text launders the restriction away). Licenses are
    // assigned deterministically per source (neutral md5 → 3 tiers,
    // the q133 conv pattern — a deployment reads them from metadata);
    // effective license = max tier within the q65 cluster (singletons
    // keep their own). Output: the own × effective ESCALATION matrix
    // with doc and cluster masses — the off-diagonal rows are the docs
    // whose usable rights changed because of dedup, the number a legal
    // review asks for first. Cost: the q65 envelope (shared LSH +
    // CC) + one cluster-keyed max + one matrix agg.
    "q491_license_propagation" -> { (s, d) =>
      val lab = dupClusterLabels(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        expr("CAST(conv(substring(md5(source), 1, 2), 16, 10) AS BIGINT) % 3")
          .as("lic"))
      val labeled = docs
        .join(lab.select(col("node").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lic"),
          coalesce(col("label"), col("doc_id")).as("cl"))
      val eff = labeled.groupBy("cl").agg(max(col("lic")).as("eff"))
      labeled.join(eff, "cl")
        .groupBy("lic", "eff")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("cl")).cast("long").as("n_clusters"))
        .select(
          expr("CASE lic WHEN 0 THEN 'a_permissive' WHEN 1" +
            " THEN 'b_attribution' ELSE 'c_restricted' END")
            .as("own_license"),
          expr("CASE eff WHEN 0 THEN 'a_permissive' WHEN 1" +
            " THEN 'b_attribution' ELSE 'c_restricted' END")
            .as("eff_license"),
          col("n_docs"), col("n_clusters"))
        .orderBy("own_license", "eff_license")
    },

    // ALTERNATING-STAR connected components — the published
    // shuffle-bounded alternative to q65's label propagation (Kiveris
    // et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    // each round is one LARGE-STAR (hook every larger neighbor to the
    // neighborhood min) then one SMALL-STAR (re-point every smaller
    // neighbor, and the node itself, at the min), each a groupBy-min +
    // join over the edge list — per-round cost is O(|E|) REGARDLESS of
    // component diameter or degree, where label propagation's
    // convergence rides the diameter. Both must produce identical
    // components (OpsSpec asserts label-for-label equality with q65's
    // machinery); the emitted view is the cluster-SIZE distribution —
    // the number the dedup planner prices survivor election with.
    // Scale: this IS the 100 TB CC algorithm (proven O(log² n) rounds);
    // same driver-paced checkpoint-truncated loop envelope as q65.
    "q445_star_components" -> { (s, d) =>
      starComponents(dupEdgesSparse(s, d))
        .groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("long").as("cluster_size"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(col("sz")).cast("long").as("n_docs"))
        .orderBy("cluster_size")
    },

    // LSH PARAMETER PLANNER — the DESIGN-time sibling of q424's
    // measured S-curve: for every factorization r·b = 16 of the
    // signature and candidate thresholds τ ∈ {0.5, 0.7, 0.9}, the
    // analytic capture probability 1 − (1 − τ^r)^b, computed as
    // floor-rescaled ppm multiply chains (x ← x·τ DIV 10⁶ — identical
    // deterministic arithmetic on both engines; see [[lshPowChain]]),
    // with the ≥ 90%-recall verdict. The planner says (4, 4) holds the
    // knee this engine ships; q424 then MEASURES that same curve on the
    // live corpus — design and calibration as two oracle-checked
    // tables. Scale: pure grid arithmetic on a 15-row broadcast frame.
    "q472_lsh_param_planner" -> { (s, d) =>
      val taus = s.range(3)
        .select(expr("CAST(element_at(array(500000, 700000, 900000), CAST(id AS INT) + 1) AS BIGINT)")
          .as("tau_ppm"))
      val legs = LshPlans.map { case (r, b) =>
        val recall = lshRecallExpr(r, b, "DIV")
        taus.select(col("tau_ppm"), lit(r.toLong).as("rows_r"),
          lit(b.toLong).as("bands_b"),
          expr(s"CAST($recall AS BIGINT)").as("recall_ppm"))
      }
      legs.reduce(_.unionByName(_))
        .withColumn("meets_90", col("recall_ppm") >= 900000L)
        .orderBy("tau_ppm", "rows_r")
    },

    // HASH-AVALANCHE audit — the pipeline's trust anchor measured:
    // every dedup fingerprint, split assignment, salt, and band bucket
    // rides the ONE engine-neutral md5-derived hash (neutralHash32);
    // this audits its bit balance over the live id population. Per
    // output bit 0..31: the ones-share in ppm and the absolute bias vs
    // the ideal 500000 — a stuck or skewed bit here would silently
    // unbalance every downstream modulo (splits, salts, buckets).
    // Binomial noise at n docs is ~±1e6/(2√n) ppm; the spec pins a
    // generous 20× bound and the oracle pins the exact counts. Scale:
    // one hash pass × a broadcast 32-row bit grid, map-combined.
    "q463_hash_avalanche" -> { (s, d) =>
      val hx = Tables.documents(s, d)
        .select(neutralHash32(col("doc_id").cast("string")).as("h"))
      val bits = s.range(32).select(col("id").cast("long").as("bit"))
      hx.crossJoin(broadcast(bits))
        .withColumn("one", expr("CAST(shiftright(h, CAST(bit AS INT)) & 1 AS BIGINT)"))
        .groupBy("bit")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("one")).cast("long").as("n_ones"))
        .withColumn("ones_ppm", expr("CAST(n_ones * 1000000 DIV n AS BIGINT)"))
        .withColumn("bias_ppm", expr("abs(ones_ppm - 500000)"))
        .orderBy("bit")
    },

    // SPLIT-BALANCE audit — the 8/1/1 train/val/test hash assignment
    // (ONE splitOf definition with q76/q136) audited per source: share
    // ppm vs the declared 800000/100000/100000 design and the absolute
    // deviation — a source whose ids alias the split hash would skew
    // its eval slice, the quiet way membership bugs enter benchmarks.
    // Scale: one map-combined (source, split) census over the split
    // expression the pipeline already computes.
    "q464_split_balance" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .withColumn("split", splitOf(col("doc_id")))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
      val tot = per.groupBy("source").agg(sum(col("n_docs")).as("n_source"))
      per.join(tot, "source")
        .withColumn("share_ppm",
          expr("CAST(n_docs * 1000000 DIV n_source AS BIGINT)"))
        .withColumn("design_ppm", expr(
          """CAST(CASE WHEN split = 'train' THEN 800000
            | WHEN split = 'val' THEN 100000 ELSE 100000 END AS BIGINT)""".stripMargin))
        .withColumn("abs_dev_ppm", expr("abs(share_ppm - design_ppm)"))
        .select(col("source"), col("split"), col("n_docs").cast("long").as("n_docs"),
          col("share_ppm"), col("design_ppm"), col("abs_dev_ppm"))
        .orderBy("source", "split")
    },

    // Cluster CONSENSUS audit — is a near-dup cluster a TEMPLATE
    // family (one shared core with small edits) or a drift CHAIN
    // (pairwise-similar neighbors, no global core)? Per q65 component:
    // member count, the shingle UNION, the CORE (shingles every member
    // carries), and the floor-ppm core share. High core share justifies
    // electing one survivor for the whole cluster (the members are one
    // document in n variants); a low share is the over-deletion warning
    // q115's closure ratio flags from the edge side — this reads it
    // from the CONTENT side. Shares q65's labels and the LSH shingle
    // definition (one docShingles). Scale: one shingle join against the
    // (bounded) labeled-node set; counts shuffle, never shingle text
    // beyond the first hash-partitioned agg.
    "q457_cluster_consensus" -> { (s, d) =>
      val member = dupClusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label"))
      val sizes = member.groupBy("label").agg(count(lit(1)).as("n_members"))
      // Filter documents to CLUSTER MEMBERS before the shingle explode
      // (round 11, guide §2.3 "project/filter before the exchange"): the
      // label table is bounded by dup-cluster membership (≪ corpus), so
      // joining it first means only member docs pay the explode and the
      // (doc, sh) distinct — the old shape exploded and distinct-shuffled
      // the WHOLE corpus and then discarded every non-member row in the
      // join. Inner join on doc_id commutes with the per-doc explode +
      // distinct (label is a function of doc_id), so (label, sh, dfin)
      // is unchanged row for row.
      val memberSh = Tables.documents(s, d)
        .join(member, Seq("doc_id"))
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("label"), col("doc_id"),
          explode(shingleExpr("t", 3)).as("sh"))
        .distinct()
      memberSh
        .groupBy("label", "sh").agg(count(lit(1)).as("dfin"))
        .join(sizes, "label")
        .groupBy(col("label").as("cluster_id"))
        .agg(max(col("n_members")).cast("long").as("n_members"),
          count(lit(1)).cast("long").as("n_union_shingles"),
          sum(when(col("dfin") === col("n_members"), 1L).otherwise(0L))
            .cast("long").as("n_core_shingles"))
        .withColumn("core_share_ppm",
          expr("CAST(n_core_shingles * 1000000 DIV n_union_shingles AS BIGINT)"))
        .orderBy("cluster_id")
    },

    // B11/D follow-through: train/val/test SPLIT-LEAKAGE audit. The
    // standard 80/10/10 assignment hashes each document independently —
    // which silently places members of one near-dup cluster in different
    // splits (eval contamination). Per cluster: member count, how many
    // splits it straddles, the leak verdict, and the remedy column — the
    // split the whole cluster gets when the hash is taken over the
    // CLUSTER label instead of the doc id. Reuses the q65 component
    // labels; the audit itself is one aggregation over them.
    "q76_split_leakage" -> { (s, d) =>
      dupClusterLabels(s, d)
        .withColumn("split", splitOf(col("node")))
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_members"),
             countDistinct(col("split")).cast("long").as("n_splits"),
             min(col("split")).as("first_split"))
        .withColumn("leaky", col("n_splits") > 1)
        .withColumn("cluster_split", splitOf(col("cluster_id")))
        .orderBy("cluster_id")
    },

    // Cluster-aware split ASSIGNMENT — the op that PRODUCES what q76's
    // audit checks for: every document (dup-cluster members AND
    // singletons) gets its train/val/test split from the hash of its
    // CLUSTER label, so near-duplicates cannot straddle a split
    // boundary by construction (hashing doc ids instead is exactly the
    // leak q76 flags). Singleton cluster = own doc_id (left join +
    // coalesce — no row of the corpus is dropped, spec-asserted).
    // Shares the ONE split rule (splitOf ↔ splitCaseSql) and the q65
    // component machinery. Scale: the labels table is dup-cluster-
    // member-sized (≪ corpus); one left equi-join + a 3-row rollup.
    "q136_cluster_split" -> { (s, d) =>
      val labels = dupClusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label"))
      Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("label"), col("doc_id")))
        .withColumn("split", splitOf(col("cluster")))
        .groupBy("split")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("cluster")).cast("long").as("n_clusters"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("split")
    },

    // Blocked sorted-neighborhood method (SNM) — the classic record-
    // linkage blocking strategy the LSH family doesn't cover
    // (window width = SnmWindow, the ONE definition the query, the
    // oracle SQL and the completeness spec all read): sort each
    // block by a signature and pair only rows within a fixed window w
    // of each other in that order, catching near-dups whose shingle
    // sets diverge but whose sort keys collide (typo'd prefixes,
    // truncations). Deliberately the BLOCKED variant: ranks are per
    // 4-char-prefix block, not a global total order — a global
    // row_number is an unpartitioned sort that dies at 100 TB, and
    // production SNM runs per-block for exactly that reason (window
    // candidates crossing a block boundary are traded away for a
    // shuffle-free sort, the standard recall/scale trade). Pairing is
    // an equi-join on (block, windowBucket): each left row probes its
    // own rank-bucket and the next, so a row meets exactly the ≤w
    // successors it must — candidate fan-out is w per row, never
    // quadratic in block size.
    "q140_snm_pairs" -> { (s, d) =>
      val w = SnmWindow
      val sig = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("sig"),
          substring(col("text"), 1, 4).as("bucket"))
      val rk = sig.withColumn("rk", row_number().over(
        Window.partitionBy("bucket").orderBy("sig", "doc_id")).cast("long"))
      val r = Caches.shared(rk)
      val left = r.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("bucket"), col("rk").as("rk_a"),
          explode(array(expr(s"(rk - 1) div $w"),
            expr(s"(rk - 1) div $w + 1"))).as("blk"))
      val right = r.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("bucket"), col("rk").as("rk_b"),
          expr(s"(rk - 1) div $w").as("blk"))
      left.join(right, Seq("bucket", "blk"))
        .filter(col("rk_b") > col("rk_a") && col("rk_b") <= col("rk_a") + w)
        .select(col("doc_a"), col("doc_b"),
          (col("rk_b") - col("rk_a")).as("gap"),
          (col("sig_a") === col("sig_b")).cast("long").as("same_sig"))
        .orderBy("doc_a", "doc_b")
    },

    // B11 scale path: 32-bit SimHash + 8-bit-band candidate join, over
    // the engine-neutral term hash — oracle-checked.
    "q27_simhash" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("h", neutralHash32(col("term")))
      // Per-bit weighted vote: +1 when the bit is set, -1 otherwise.
      val bitVotes = (0 until 32).map(i =>
        sum(when(expr(s"(h >> $i) & 1") === 1, 1).otherwise(-1)).as(s"v$i"))
      val fp = toks.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(i =>
            when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _).as("simhash"))
      // TWIN-COLLAPSE front on identical FINGERPRINTS (round 11, the
      // round-10 VERDICT's q27 item — the q26 theorem one level up):
      // candidacy (sharing an 8-bit band byte) and hamming distance are
      // functions of the simhash VALUE alone, so the band self-join runs
      // over one row per DISTINCT fingerprint and the document pairs
      // expand back afterwards — intra-class pairs at hamming 0, cross
      // pairs carrying the fp pair's hamming. At sf1 the 256-value band
      // buckets made the uncollapsed join quadratic in COPIES (q27 was
      // the suite's slowest query, 54.7 s); collapsed, buckets hold
      // distinct fingerprints only and the hamming ≤ 6 cut prunes BEFORE
      // expansion, which then streams into the top-100 heap with zero
      // shuffled bytes. Output equality is spec-asserted (SkewStressSpec)
      // against a plain-Scala replay of the uncollapsed chain.
      // eager shared persist: the class agg's partial-agg-below-exchange
      // shape differs from the join exchanges, so AQE reuse only dedupes
      // the join sides and fp's expensive 32-vote agg would run twice —
      // measured 30.3/30.6 s cached vs 33.0/31.2 s uncached at sf1
      val members = Caches.shared(fp) // (doc_id, simhash), one agg pass
      val classes = members.groupBy("simhash")
        .agg(min(col("doc_id")).as("rep"))
      val banded = classes.select(col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), expr(s"(simhash >> ${b * 8}) & 255").as("bits"))): _*)).as("bb"))
        .select(col("simhash"), col("bb.band"), col("bb.bits"))
      // shuffle-hash both sides → one shared exchange for the fingerprint
      // subtree (see q26) instead of computing it once per join side.
      val cand = banded.as("x").hint("shuffle_hash")
        .join(banded.as("y").hint("shuffle_hash"),
          col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.simhash") < col("y.simhash"))
        // hamming cut BEFORE the distinct (round 11): a pair colliding in
        // k bands is emitted k times, so the dedup shuffle carried every
        // duplicate of every far pair; hamming is computable on the
        // emitted row, and filtering first leaves only near pairs (a few
        // per fingerprint) for the distinct — the join fan-out itself
        // stays map-side
        .select(col("x.simhash").as("fa"), col("y.simhash").as("fb"))
        .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
        .filter(col("hamming") <= 6)
        .distinct()
      val cross = cand
        .join(members.select(col("simhash").as("fa"), col("doc_id").as("da")),
          "fa")
        .join(members.select(col("simhash").as("fb"), col("doc_id").as("db")),
          "fb")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      val intra = members.as("a").join(members.as("b"),
          col("a.simhash") === col("b.simhash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      intra.unionByName(cross)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(100)
    },

    // Incremental (cross-corpus) dedup: dedup a NEW shard (doc_id ≡ 0
    // mod 7) against the existing reference corpus, instead of all-pairs
    // within one corpus — the nightly-ingest shape: only pairs that
    // STRADDLE the shard boundary matter. Reuses the exact
    // minhashVerifiedPairs LSH pipeline, keeps straddling pairs, and
    // reports per shard document its match count, best reference match
    // (floor-ppm Jaccard, ties to the smaller ref id) and the dup
    // verdict at jac ≥ 0.3 — integer-exact throughout. Shard docs with
    // no match survive via the left join (is_dup = false).
    "q95_incremental_dedup" -> { (s, d) =>
      // TWIN-COLLAPSE front (round 11, the q26 expansion applied to the
      // straddling-pair filter): the uncollapsed chain re-derived the
      // full LSH pipeline per query; the pinned chain's REP pairs carry
      // the same (common, na, nb) for every expanded pair, intra-class
      // pairs have jac = 10⁶ ≥ the 0.3 gate by construction, and the
      // jac cut prunes rep pairs BEFORE expansion. Output equality is
      // spec-asserted (SkewStressSpec).
      val (members, classes, verified) = collapsedVerifiedPairs(s, d)
      val mem = members.select(col("doc_id"), col("fp"))
      val intraPairs = mem.as("a").join(mem.as("b"),
          col("a.fp") === col("b.fp") &&
            (col("a.doc_id") % 7 === 0) && (col("b.doc_id") % 7 =!= 0))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("ref_doc"),
          lit(1000000L).as("jac_ppm"))
      val repStats = verified
        .withColumn("jac_ppm",
          expr("CAST(common * 1000000 DIV (na + nb - common) AS BIGINT)"))
        .filter(col("jac_ppm") >= 300000L)
        .join(classes.select(col("rep").as("doc_a"), col("fp").as("fpa")),
          "doc_a")
        .join(classes.select(col("rep").as("doc_b"), col("fp").as("fpb")),
          "doc_b")
      val crossPairs = repStats
        .join(mem.select(col("fp").as("fpa"), col("doc_id").as("da")), "fpa")
        .join(mem.select(col("fp").as("fpb"), col("doc_id").as("db")), "fpb")
        .filter((col("da") % 7 === 0) =!= (col("db") % 7 === 0))
        .select(
          when(col("da") % 7 === 0, col("da")).otherwise(col("db"))
            .as("doc_id"),
          when(col("da") % 7 === 0, col("db")).otherwise(col("da"))
            .as("ref_doc"),
          col("jac_ppm"))
      val straddling = intraPairs.unionByName(crossPairs)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("jac_ppm").desc, col("ref_doc"))
      val best = straddling.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("ref_doc").as("best_ref"),
          col("jac_ppm").as("best_jac_ppm"))
      val nMatches = straddling.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_matches"))
      Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .join(nMatches.join(best, "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("best_ref"), lit(-1L)).as("best_ref"),
          coalesce(col("best_jac_ppm"), lit(0L)).as("best_jac_ppm"),
          (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
        .orderBy("doc_id")
    },

    // Fellegi–Sunter-style record-linkage SCORING: blocked candidate
    // pairs get an additive agreement score over independent field
    // comparators — exact-content hash (+16), 16-char prefix (+8),
    // power-of-two length bucket (+4) — and the output is the score
    // DISTRIBUTION, the histogram a linkage practitioner thresholds
    // into match / possible / non-match bands. Weights are fixed
    // integers (the log-likelihood-ratio weights of the real F-S model
    // are floats estimated by EM; the deterministic integer image
    // keeps the op oracle-checkable — the BANDS, not the weights, are
    // the operator). Comparator hierarchy is monotone by construction
    // (exact ⇒ prefix ⇒ same length bucket), so observable scores
    // live in {0,4,8,12,16,20,24,28} with the high band = true dups.
    // Scale: blocking on (lang, source) bounds the quadratic — pairs
    // exist only within a block, the classic linkage answer to n²; the
    // per-block self-join shuffles both sides on the block key once;
    // everything downstream is the ≤8-row score grid.
    "q178_linkage_scores" -> { (s, d) =>
      val side = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          md5(col("text").cast("binary")).as("sig"),
          substring(col("text"), 1, 16).as("pre16"),
          expr("CAST(length(bin(n_chars)) AS BIGINT)").as("lenb"))
      val a = side.select(col("lang"), col("source"), col("doc_id").as("id_a"),
        col("sig").as("sig_a"), col("pre16").as("pre_a"), col("lenb").as("len_a"))
      val b = side.select(col("lang"), col("source"), col("doc_id").as("id_b"),
        col("sig").as("sig_b"), col("pre16").as("pre_b"), col("lenb").as("len_b"))
      a.join(b, Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("score",
          when(col("sig_a") === col("sig_b"), 16L).otherwise(0L) +
          when(col("pre_a") === col("pre_b"), 8L).otherwise(0L) +
          when(col("len_a") === col("len_b"), 4L).otherwise(0L))
        .groupBy("score")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("id_a")).cast("long").as("n_left_docs"),
          // lexicographically smallest pair, packed into one int64
          // (doc_id < 10⁹ over the corpus — the same packing bound as
          // the q140 SNM pair key)
          min(col("id_a") * 1000000000L + col("id_b")).as("wit"))
        .select(col("score"), col("n_pairs"), col("n_left_docs"),
          expr("CAST(wit DIV 1000000000 AS BIGINT)").as("witness_a"),
          expr("CAST(wit % 1000000000 AS BIGINT)").as("witness_b"))
        .orderBy(col("score").desc)
    },

    // CROSS-SOURCE duplicate-overlap matrix: for every unordered source
    // pair, how many distinct byte-exact contents (md5, the q24 tier)
    // appear in BOTH — the mirror-detection table (Common-Crawl-vs-C4
    // style pipelines dedup ACROSS snapshots before anything else, and
    // this prices which pairs make that pass worth running). q182
    // audits dup mass WITHIN a source; q202 crosses LANGUAGES by
    // shingle; this crosses SOURCES by exact content. Zero-overlap
    // pairs are explicit rows via the source-grid left join (the q158
    // rule — "no mirroring" is the finding). Jaccard is floor-ppm over
    // the fingerprint union. Scale: the heavy agg is distinct
    // (fp, source) — fixed-width md5 keys, map-combined; the fp
    // self-join fans out |sources|² per fingerprint AT MOST (sources
    // are an enum, docs are not); the pair grid is |sources|²-sized
    // and the per-source ndv table broadcasts onto it.
    "q322_source_overlap" -> { (s, d) =>
      val fp = Tables.documents(s, d)
        .select(md5(col("text")).as("fp"), col("source")).distinct()
      val nd = fp.groupBy("source").agg(count(lit(1)).as("ndv"))
      val shared = fp.select(col("fp"), col("source").as("src_a"))
        .join(fp.select(col("fp"), col("source").as("src_b")), Seq("fp"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
      val grid = nd.select(col("source").as("src_a"), col("ndv").as("ndv_a"))
        .crossJoin(broadcast(
          nd.select(col("source").as("src_b"), col("ndv").as("ndv_b"))))
        .filter(col("src_a") < col("src_b"))
      grid.join(shared, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          col("ndv_a").cast("long").as("ndv_a"),
          col("ndv_b").cast("long").as("ndv_b"),
          coalesce(col("shared"), lit(0L)).cast("long").as("shared_fps"))
        .withColumn("jaccard_ppm", expr(
          "CAST(shared_fps * 1000000 DIV (ndv_a + ndv_b - shared_fps) AS BIGINT)"))
        .orderBy("src_a", "src_b")
    },

    // Dedup DRIFT audit: how GLOBAL exact dedup (q24's content-md5,
    // keep-min-doc_id survivor — ACROSS sources, which is what makes
    // shares move) changes the source mixture. A source whose mass is
    // copies of other sources' content loses share; the per-source
    // before/after ppm delta is the mixture shift a "dedup then train"
    // pipeline silently applies to its carefully-tuned q64/q290 mix.
    // Scale: one distinct-survivor agg on md5 keys + two grid aggs;
    // totals broadcast.
    "q329_dedup_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      val surv = docs.groupBy("fp")
        .agg(min(struct(col("doc_id"), col("source"))).as("k"))
        .select(col("k.source").as("source"))
        .groupBy("source").agg(count(lit(1)).as("after"))
      val before = docs.groupBy("source").agg(count(lit(1)).as("before"))
      val tots = before.agg(sum(col("before")).as("tb"))
        .crossJoin(surv.agg(sum(col("after")).as("ta")))
      before.join(surv, Seq("source"), "left")
        .crossJoin(broadcast(tots))
        .select(col("source"), col("before").cast("long").as("docs_before"),
          coalesce(col("after"), lit(0L)).cast("long").as("docs_after"),
          expr("CAST(before * 1000000 DIV tb AS BIGINT)").as("before_ppm"),
          expr("CAST(coalesce(after, 0) * 1000000 DIV ta AS BIGINT)")
            .as("after_ppm"))
        .withColumn("delta_abs_ppm",
          expr("CAST(abs(after_ppm - before_ppm) AS BIGINT)"))
        .orderBy("source")
    },

    // Near-dup THRESHOLD retention curve: what each Jaccard cutoff τ
    // would delete, BEFORE committing to one — q26 verifies pairs at a
    // fixed τ, q156 calibrates the sketch against τ; this sweeps τ over
    // the verified-pair set and prices the retention consequence.
    // Prune rule = q317's keep-min convention (doc_b pruned if some
    // doc_a < doc_b has jac ≥ τ) — pair-level, the documented
    // under-count vs q65's cluster closure. The τ comparison is exact
    // integer cross-multiplication (common·100 ≥ τ·union — never the
    // float jac). Scale: the pair set is LSH-candidate-bounded; the τ
    // grid is a 7-row broadcast; pruned = distinct doc_b per τ.
    "q332_threshold_retention" -> { (s, d) =>
      val pairs = Caches.shared(minhashVerifiedPairs(s, d)
        .select(col("doc_a"), col("doc_b"), col("common"),
          (col("na") + col("nb") - col("common")).as("un")))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val taus = pairs.sparkSession.range(3, 10)
        .select((col("id") * 10).cast("long").as("tau_pct"))
      val perTau = pairs.crossJoin(broadcast(taus))
        .filter(col("common") * 100 >= col("tau_pct") * col("un"))
        .groupBy("tau_pct")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("doc_b")).as("n_pruned"))
      // left join FROM the grid: a τ that prunes nothing is an explicit
      // zero row (q158 rule)
      taus.join(perTau, Seq("tau_pct"), "left")
        .crossJoin(broadcast(nDocs))
        .select(col("tau_pct"),
          coalesce(col("n_pairs"), lit(0L)).cast("long").as("n_pairs"),
          coalesce(col("n_pruned"), lit(0L)).cast("long").as("n_pruned"),
          (col("n_docs") - coalesce(col("n_pruned"), lit(0L))).cast("long")
            .as("n_retained"),
          expr("CAST(coalesce(n_pruned, 0) * 1000000 DIV n_docs AS BIGINT)")
            .as("pruned_ppm"))
        .orderBy("tau_pct")
    },

    // LSH BAND-PLAN calibration — the S-CURVE the banding theorem
    // promises, measured against this corpus: re-band the 16-slot
    // signatures under every plan (b bands × r rows) ∈ {(16,1), (8,2),
    // (4,4), (2,8)} and, per true-Jaccard decile, compare the MEASURED
    // collision rate (≥1 fully-matching band) with the THEORETICAL
    // 1 − (1 − s^r)^b at the decile midpoint — the table that picks b/r
    // for a target threshold before a 100 TB dedup run (steeper r =
    // fewer false candidates but a sharper miss cliff; q156 calibrates
    // slot-match ≈ Jaccard, this calibrates the BAND geometry built on
    // it). The S-curve is evaluated in per-mille fixed point by
    // exponentiation-by-squaring with floor rescaling at every step
    // (s_pm² DIV 1000 …) — a DEFINED integer algorithm both engines
    // replay digit-identically; no pow(), no doubles. Population note:
    // pairs are the (4×4) production plan's candidates, so each decile
    // row reads "collision probability GIVEN true similarity s" over
    // that candidate population — exactly the conditional the planner
    // needs. Scale: slots = |candidates|×16 rows, ×4 plans before the
    // band reduction — linear in verified-candidate count; the grids
    // and the ladder are constant-width row expressions.
    // TWIN-COLLAPSE front + wide-signature collision test (round 11):
    // the old chain re-derived the full-corpus shingle/signature/band/
    // verify pipeline, then paid a 16× posexplode slot join and a 64×
    // crossJoin + two aggregations to decide, per pair and plan, whether
    // ANY band of r consecutive slots fully matches. Both costs fold
    // away: (a) candidates, exact Jaccard and signatures are the pinned
    // REP frames of [[collapsedVerifiedPairs]] — twins have identical
    // signatures and shingle sets, so each (b, r, decile) cell is the
    // rep cell expanded by mᵢ·mⱼ (cross) / C(m,2) intra pairs (exact =
    // 10⁶, collided = 1 in every plan); (b) per rep pair the collision
    // flag is a pure row-level boolean over the two wide signatures
    // (OR over bands of AND over the band's slots) — no explode, no
    // aggregation, whole-stage codegen. Output equality with the
    // uncollapsed chain is spec-asserted (DedupSpec).
    "q424_lsh_band_plan" -> { (s, d) =>
      val (_, classes, verified) = collapsedVerifiedPairs(s, d)
      val sig = repSignatureWide(s, d)
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 16).map(i => col(s"h$i").as(s"ha$i")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 16).map(i => col(s"h$i").as(s"hb$i")): _*)
      // collided(b = 16/r, r) ⟺ some band of r consecutive slots fully
      // matches — the same predicate the old slot-join aggregation
      // computed, now one boolean expression per plan
      def collided(r: Int): Column =
        (0 until 16 / r).map { bi =>
          (0 until r).map(p => col(s"ha${bi * r + p}") === col(s"hb${bi * r + p}"))
            .reduce(_ && _)
        }.reduce(_ || _)
      val planRows = Seq(1, 2, 4, 8)
      val cross = verified
        .join(sa, "doc_a").join(sb, "doc_b")
        .join(classes.select(col("rep").as("doc_a"), col("m").as("wa")),
          "doc_a")
        .join(classes.select(col("rep").as("doc_b"), col("m").as("wb")),
          "doc_b")
        .select((col("wa") * col("wb")).as("w"),
          expr("common * 1000000 DIV (na + nb - common)").as("exact_ppm"),
          explode(array(planRows.map(r => struct(
            lit(16L / r).as("b"), lit(r.toLong).as("r"),
            when(collided(r), 1L).otherwise(0L).as("collided"))): _*)).as("p"))
      val intra = classes.filter(col("m") >= 2)
        .select(expr("m * (m - 1) DIV 2").as("w"),
          lit(1000000L).as("exact_ppm"),
          explode(array(planRows.map(r => struct(
            lit(16L / r).as("b"), lit(r.toLong).as("r"),
            lit(1L).as("collided"))): _*)).as("p"))
      cross.unionByName(intra)
        .select(col("p.b").as("b"), col("p.r").as("r"), col("w"),
          col("exact_ppm"), col("p.collided").as("collided"))
        .groupBy(col("b"), col("r"), expr("exact_ppm DIV 100000").as("decile"))
        .agg(sum(col("w")).cast("long").as("n_pairs"),
          sum(col("w") * col("collided")).cast("long").as("n_collide"))
        .withColumn("s_pm", expr("least(decile * 100 + 50, 1000)"))
        .withColumn("p2", expr("s_pm * s_pm DIV 1000"))
        .withColumn("p4", expr("p2 * p2 DIV 1000"))
        .withColumn("p8", expr("p4 * p4 DIV 1000"))
        .withColumn("q1", expr(
          "1000 - CASE r WHEN 1 THEN s_pm WHEN 2 THEN p2 WHEN 4 THEN p4 ELSE p8 END"))
        .withColumn("q2", expr("q1 * q1 DIV 1000"))
        .withColumn("q4", expr("q2 * q2 DIV 1000"))
        .withColumn("q8", expr("q4 * q4 DIV 1000"))
        .withColumn("q16", expr("q8 * q8 DIV 1000"))
        .select(col("b").cast("long").as("bands"),
          col("r").cast("long").as("rows_per_band"),
          col("decile").cast("long").as("decile"),
          col("n_pairs"), col("n_collide"),
          expr("CAST(n_collide * 1000000 DIV n_pairs AS BIGINT)")
            .as("measured_ppm"),
          expr("""CAST((1000 - CASE b WHEN 2 THEN q2 WHEN 4 THEN q4
                 | WHEN 8 THEN q8 ELSE q16 END) * 1000 AS BIGINT)""".stripMargin)
            .as("expected_ppm"))
        .orderBy("bands", "decile")
    },

    // CONTENT-DEFINED CHUNKING dedup — the STORAGE-dedup primitive
    // (rsync/LBFS/FastCDC family): cut each document where the hash of
    // the trailing 8-char window ≡ 0 (mod 64) — boundaries follow
    // CONTENT, not offsets, so an insertion early in a doc shifts
    // every fixed-size block but only ONE content-defined chunk — then
    // dedupe chunks by hash per source. unique_chars/total_chars is
    // the byte-level dedup ratio: the storage (and dedup-aware
    // training-token) cost of a source AFTER chunk-level dedup,
    // catching repeated BLOCKS inside and across documents that
    // whole-doc hashing (q24) cannot see and shingle Jaccard (q26)
    // only scores, never prices. Expected chunk ≈ 64 chars (the mod);
    // docs under 8 chars are excluded (documented domain). Engine-
    // neutral arithmetic throughout: the cut predicate is the md5-
    // derived neutralHash32 of the window, chunk identity is md5 —
    // both replayed verbatim by the oracle; 1-BASED element_at
    // everywhere (Spark [] is 0-based, DuckDB [] is 1-based — the one
    // indexing convention both engines share is element_at/[i]₁).
    // Scale: per-char window hashing is one in-row transform (linear,
    // no shuffle — production swaps md5 for a codegen'd Rabin
    // polynomial, same plan shape); only (source, chunk-hash, len)
    // rows shuffle — never text.
    "q426_cdc_chunks" -> { (s, d) =>
      // bnds materialized as a named column so the window-hash pass runs
      // ONCE per doc (as a shared subtree of three element_at calls it
      // would lean on codegen CSE — the minhashSignatureWide rule).
      // The boundary array is the CdcKernel one-pass expression — the
      // declarative filter(sequence(...), md5-window-hash) form it
      // replaces (and the oracle still replays verbatim) ran the cut
      // predicate as an interpreted HOF lambda: per CHARACTER it paid a
      // substring alloc + hex-MD5 + conv() reparse (~µs), serializing
      // the whole corpus scan behind one lambda. Equality spec-pinned
      // (OpsSpec "q426 boundary kernel").
      val chunks = Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("source"), col("text"))
        .withColumn("bnds",
          graft.functions.CdcChunking.cdc_boundaries(col("text")))
        .select(col("source"), explode(expr(
          """transform(sequence(1, size(bnds) - 1),
            |  j -> substring(text, element_at(bnds, j) + 1,
            |    element_at(bnds, j + 1) - element_at(bnds, j)))""".stripMargin))
          .as("chunk"))
      val perChunk = chunks
        .select(col("source"), md5(col("chunk")).as("h"),
          length(col("chunk")).cast("long").as("len"))
        .groupBy("source", "h")
        .agg(count(lit(1)).as("n"), max(col("len")).as("len"))
      perChunk.groupBy("source")
        .agg(sum(col("n")).cast("long").as("n_chunks"),
          count(lit(1)).cast("long").as("ndv_chunks"),
          sum(col("n") * col("len")).cast("long").as("total_chars"),
          sum(col("len")).cast("long").as("unique_chars"))
        .withColumn("dedup_ratio_ppm",
          expr("CAST(unique_chars * 1000000 DIV total_chars AS BIGINT)"))
        .withColumn("mean_chunk_len",
          expr("CAST(total_chars DIV n_chunks AS BIGINT)"))
        .orderBy("source")
    }
  )

  /** Shared oracle prologue: the full MinHash→LSH→verify CTE chain, the
    * SQL twin of [[minhashVerifiedPairs]]. ONE copy, concatenated into
    * both q26 and q65 — mirroring the Spark-side refactor, so the hash
    * family/band polynomial/shingle definition cannot drift between the
    * two oracles. Ends inside the WITH list (callers append more CTEs
    * with a leading comma, or a final SELECT). */
  /** The LSH candidate-pair pipeline as ORDERED (name, standalone
    * SELECT) stages. [[LshPairsSql]] chains them into one WITH prefix so
    * every consumer oracle stays self-contained (the driver's DuckDB
    * compare needs no harness support); Verify ALSO exports them as
    * `oracle_prelude.json` so a compare harness may materialize each
    * stage ONCE per run (`CREATE TEMP TABLE <name> AS <select>` in
    * order) and strip the prefix from matching oracles — at sf1 the
    * ~12 LSH-family oracles otherwise re-derive this prefix from
    * scratch, each a multi-minute DuckDB CTE. Each stage references
    * only base tables and EARLIER stage names, so materialized-in-order
    * temp tables and the chained CTE are equivalent by construction —
    * [[LshPairsSql]] IS `chainCtes(LshStages)`, one definition. */
  private[graft] val LshStages: Seq[(String, String)] = Seq(
    "toks" ->
      """SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3""".stripMargin,
    "sh" ->
      """SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)""".stripMargin,
    "hh" ->
      "SELECT doc_id, ('0x' || substr(md5(sh),1,8))::BIGINT % 2147483647 AS hm FROM sh",
    "sig" ->
      """SELECT doc_id, i, MIN((7919*(i+1)*hm + 104729*i) % 2147483647) AS mh
        |  FROM hh, UNNEST(generate_series(0, 15)) AS g(i) GROUP BY 1, 2""".stripMargin,
    "bands" ->
      """SELECT doc_id, i // 4 AS band,
        |    SUM(mh * ([29791,961,31,1])[(i % 4) + 1]) AS bucket
        |  FROM sig GROUP BY doc_id, i // 4""".stripMargin,
    "cand" ->
      """SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id""".stripMargin,
    "cnt" -> "SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1",
    "common" ->
      """SELECT doc_a, doc_b, COUNT(*) AS common
        |  FROM cand JOIN sh a ON a.doc_id = doc_a
        |            JOIN sh b ON b.doc_id = doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2""".stripMargin)

  private def chainCtes(stages: Seq[(String, String)]): String =
    "WITH " + stages.map { case (n, q) => s"$n AS (\n$q)" }.mkString(",\n")

  private val LshPairsSql: String = chainCtes(LshStages)

  /** The ONE train/val/test split rule (8/1/1 by engine-neutral hash of
    * "split:"+id), shared by q76 (leakage audit) and q136 (cluster-aware
    * assignment); mirrored by [[splitCaseSql]]. */
  private def splitOf(id: Column): Column = {
    val b = neutralHash32(concat(lit("split:"), id.cast("string"))) % 10
    when(b <= 7, "train").when(b === 8, "val").otherwise("test")
  }

  /** Oracle image of [[splitOf]] (the SQL twin of its
    * `neutralHash32`-bucket rule) — ONE definition so the split rule
    * cannot drift between the per-node, per-cluster, and q136 columns. */
  private def splitCaseSql(idExpr: String): String =
    s"""CASE WHEN ('0x' || substr(md5('split:' || CAST($idExpr AS VARCHAR)),1,8))::BIGINT % 10 <= 7 THEN 'train'
       |       WHEN ('0x' || substr(md5('split:' || CAST($idExpr AS VARCHAR)),1,8))::BIGINT % 10 = 8 THEN 'val'
       |       ELSE 'test' END""".stripMargin

  /** SQL mirror of [[dupEdges]] + [[connectedComponents]]: verified-pair
    * edges at jac ≥ 0.3, symmetric closure, recursive-CTE reachability,
    * component label = min over {node} ∪ reachable set. Shared by the
    * q65 and q76 oracles so threshold and closure logic stay in lockstep
    * with each other (and with the Scala side above). */
  /** CC stages continuing [[LshStages]]: verified-pair edges at
    * jac ≥ 0.3, symmetric closure, recursive-CTE reachability, label =
    * min over {node} ∪ reachable set. The `reach` body is a nested
    * WITH RECURSIVE, valid both as a CTE body and as a standalone
    * statement — the property the prelude materialization relies on. */
  private[graft] val ClusterStages: Seq[(String, String)] = Seq(
    "jpair" ->
      """SELECT doc_a, doc_b
        |  FROM common JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.3""".stripMargin,
    "sym" ->
      """SELECT doc_a AS a, doc_b AS b FROM jpair
        |        UNION ALL SELECT doc_b, doc_a FROM jpair""".stripMargin,
    "reach" ->
      """WITH RECURSIVE r(a, b) AS (
        |    SELECT a, b FROM sym
        |    UNION
        |    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
        |  ) SELECT * FROM r""".stripMargin,
    "lab" ->
      "SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a")

  private val ClusterLabelsSql: String =
    chainCtes(LshStages ++ ClusterStages)

  /** q472's (rows, bands) factorizations of the 16-hash signature. */
  private[graft] val LshPlans: Seq[(Int, Int)] =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** Floor-rescaled ppm power chain: x^k with x ← x·base DIV 10⁶ at
    * every step — the SAME literal arithmetic interpolated into both
    * engines' SQL (pass "DIV" or "//"), so the planner's probabilities
    * cannot drift between them. */
  private def lshPowChain(base: String, k: Int, div: String): String =
    (1 until k).foldLeft(base)((acc, _) => s"($acc * $base $div 1000000)")

  /** 1 − (1 − τ^r)^b in the chain arithmetic above. */
  private[graft] def lshRecallExpr(r: Int, b: Int, div: String): String = {
    val tr = lshPowChain("tau_ppm", r, div)
    val miss = lshPowChain(s"(1000000 - $tr)", b, div)
    s"1000000 - $miss"
  }

  /** Shared oracle prefixes for the cached-CTE compare harness:
    * (key, exact chained-prefix text, ordered stages). Longest prefix
    * FIRST so a harness matching top-down picks the most specific one.
    * Consumed by [[graft.Verify]] (emitted as `oracle_prelude.json`)
    * and tools/compare.py. */
  def oraclePreludes: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("cluster_labels", ClusterLabelsSql, LshStages ++ ClusterStages),
    ("lsh_pairs", LshPairsSql, LshStages))

  def oracle: Map[String, String] = Map(
    "q24_exact_dedup" ->
      """WITH u AS (
        |  SELECT lang, doc_id, text, 0::BIGINT AS ingest FROM documents WHERE doc_id % 3 <> 2
        |  UNION ALL
        |  SELECT lang, doc_id, text, 1::BIGINT AS ingest FROM documents WHERE doc_id % 3 <> 0),
        |g AS (
        |  SELECT lang, doc_id, ingest, md5(text) AS content_md5,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY ingest, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY md5(text)) AS grp_n
        |  FROM u)
        |SELECT lang, CAST(grp_n AS BIGINT) AS n_dups,
        |  ingest AS survivor_ingest, doc_id AS survivor_id, content_md5
        |FROM g WHERE rn = 1 AND grp_n > 1 ORDER BY survivor_id, content_md5""".stripMargin,

    "q25_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) >= 3),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |sh AS (
        |  SELECT doc_id, sh FROM sh0
        |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 50)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
        |  CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
        |  CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jac
        |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.02
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q74_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |sh AS (
        |  SELECT doc_id, sh FROM sh0
        |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 50)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
        |  CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
        |  CAST(common * 1000000 // ca.n AS BIGINT) AS cont_a_ppm,
        |  CAST(common * 1000000 // cb.n AS BIGINT) AS cont_b_ppm
        |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE common * 2 >= LEAST(ca.n, cb.n)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q26_minhash_lsh" -> (LshPairsSql +
      """
        |SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
        |  CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
        |  CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jac
        |FROM common JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |ORDER BY jac DESC, doc_a, doc_b LIMIT 100""".stripMargin),

    // Connected components in SQL: symmetric closure of the verified
    // pair list, transitive reachability via a recursive CTE, component
    // label = min over {node} ∪ reachable set.
    "q118_prefix_filter_join" ->
      """WITH tt AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |toks AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS tok
        |  FROM tt, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |dfed AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
        |ranked AS (
        |  SELECT t.doc_id, t.tok,
        |    COUNT(*) OVER (PARTITION BY t.doc_id) AS n,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS r
        |  FROM toks t JOIN dfed d USING (tok)),
        |prefix AS (
        |  SELECT doc_id, tok, n FROM ranked
        |  WHERE r <= n - (3 * n + 3) // 4 + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.n AS na, b.n AS nb
        |  FROM prefix a JOIN prefix b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id
        |    AND a.n * 4 >= b.n * 3 AND b.n * 4 >= a.n * 3),
        |ver AS (
        |  SELECT c.doc_a, c.doc_b, c.na, c.nb, COUNT(*) AS common
        |  FROM cand c
        |  JOIN toks x ON x.doc_id = c.doc_a
        |  JOIN toks y ON y.doc_id = c.doc_b AND y.tok = x.tok
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(common AS BIGINT) AS common,
        |  CAST(common * 1000000 // (na + nb - common) AS BIGINT) AS jac_ppm
        |FROM ver WHERE common * 7 >= (na + nb) * 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q160_drop_reasons" -> (ClusterLabelsSql +
      """,
        |base AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |    md5(text) AS cmd5, md5(substr(text, 1, 100)) AS phash
        |  FROM documents),
        |ex AS (SELECT cmd5, MIN(doc_id) AS e_surv, COUNT(*) AS e_n
        |       FROM base GROUP BY 1),
        |bp AS (SELECT phash, MIN(doc_id) AS b_surv, COUNT(*) AS b_n
        |       FROM base GROUP BY 1),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tok,
        |    CASE WHEN e.e_n > 1 AND b.doc_id <> e.e_surv THEN 'exact_dup'
        |         WHEN l.label IS NOT NULL AND l.label <> b.doc_id
        |           THEN 'near_dup'
        |         WHEN p.b_n > 1 AND b.doc_id <> p.b_surv THEN 'boilerplate'
        |         ELSE 'kept' END AS reason
        |  FROM base b
        |  JOIN ex e USING (cmd5) JOIN bp p USING (phash)
        |  LEFT JOIN lab l ON l.node = b.doc_id),
        |byr AS (
        |  SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM tagged GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM byr)
        |SELECT reason, n_docs, n_tokens,
        |  CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm
        |FROM byr, tot ORDER BY reason""".stripMargin),

    // Estimate = per-slot signature agreement over the SAME sig CTE the
    // banding reads; msig is MATERIALIZED because it is referenced once
    // per pair side (same inline-re-evaluation guard as q152).
    "q156_minhash_calibration" -> (LshPairsSql +
      """,
        |msig AS MATERIALIZED (SELECT doc_id, i, mh FROM sig),
        |mtch AS (
        |  SELECT c.doc_a, c.doc_b,
        |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS matches
        |  FROM cand c
        |  JOIN msig sa ON sa.doc_id = c.doc_a
        |  JOIN msig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
        |  GROUP BY 1, 2),
        |ver AS (
        |  SELECT co.doc_a, co.doc_b,
        |    m.matches * 1000000 // 16 AS est_ppm,
        |    co.common * 1000000 // (ca.n + cb.n - co.common) AS exact_ppm
        |  FROM common co
        |  JOIN cnt ca ON co.doc_a = ca.doc_id
        |  JOIN cnt cb ON co.doc_b = cb.doc_id
        |  JOIN mtch m ON m.doc_a = co.doc_a AND m.doc_b = co.doc_b)
        |SELECT CAST(abs(est_ppm - exact_ppm) // 100000 AS BIGINT) AS err_decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(est_ppm) AS BIGINT) AS sum_est_ppm,
        |  CAST(SUM(exact_ppm) AS BIGINT) AS sum_exact_ppm
        |FROM ver GROUP BY 1 ORDER BY 1""".stripMargin),

    // Same jpair base as q115; the three peel rounds are unrolled CTEs
    // (the Spark side unrolls identically — one definition, two
    // renders). Every e_r is MATERIALIZED: DuckDB inlines repeated CTE
    // references by default, and the peel chain references each round
    // 4-5× — un-pinned, jpair (the expensive minhash verify) would be
    // re-evaluated exponentially many times.
    "q152_kcore" -> (ClusterLabelsSql +
      """,
        |e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jpair),
        |k1 AS (SELECT n FROM (
        |    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) t
        |  GROUP BY n HAVING COUNT(*) >= 2),
        |e1 AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
        |k2 AS (SELECT n FROM (
        |    SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) t
        |  GROUP BY n HAVING COUNT(*) >= 2),
        |e2 AS MATERIALIZED (SELECT a, b FROM e1
        |  WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2)),
        |k3 AS (SELECT n FROM (
        |    SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) t
        |  GROUP BY n HAVING COUNT(*) >= 2),
        |e3 AS MATERIALIZED (SELECT a, b FROM e2
        |  WHERE a IN (SELECT n FROM k3) AND b IN (SELECT n FROM k3))
        |SELECT CAST(0 AS BIGINT) AS round,
        |  (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM
        |    (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) t) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges
        |UNION ALL SELECT 1,
        |  (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM
        |    (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) t),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e1)
        |UNION ALL SELECT 2,
        |  (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM
        |    (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) t),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
        |UNION ALL SELECT 3,
        |  (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM
        |    (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) t),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
        |ORDER BY round""".stripMargin),

    // Reuses ClusterLabelsSql's `jpair` CTE (the verified ≥0.3-Jaccard
    // pair list) — the unused closure CTEs behind it are never evaluated.
    "q115_dup_triangles" -> (LshPairsSql +
      """,
        |tpair AS (
        |  SELECT doc_a, doc_b
        |  FROM common JOIN cnt ca ON doc_a = ca.doc_id
        |              JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.6),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT doc_a AS n FROM tpair UNION ALL SELECT doc_b FROM tpair)
        |  GROUP BY n),
        |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |        CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM tpair),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |      FROM tpair e1 JOIN tpair e2 ON e1.doc_b = e2.doc_a
        |      JOIN tpair e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CAST(COALESCE(3 * n_triangles * 1000000 // NULLIF(n_wedges, 0), 0) AS BIGINT)
        |    AS closure_ppm
        |FROM w, ne, t""".stripMargin),

    "q65_dup_clusters" -> (ClusterLabelsSql +
      """
        |SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MAX(node) AS max_member
        |FROM lab GROUP BY label ORDER BY cluster_id""".stripMargin),

    "q491_license_propagation" -> (ClusterLabelsSql +
      """,
        |docs2 AS (
        |  SELECT d.doc_id,
        |    ('0x' || substr(md5(d.source), 1, 2))::BIGINT % 3 AS lic,
        |    COALESCE(l.label, d.doc_id) AS cl
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node),
        |eff AS (SELECT cl, MAX(lic) AS eff FROM docs2 GROUP BY 1)
        |SELECT
        |  CASE d2.lic WHEN 0 THEN 'a_permissive' WHEN 1 THEN 'b_attribution'
        |    ELSE 'c_restricted' END AS own_license,
        |  CASE eff.eff WHEN 0 THEN 'a_permissive' WHEN 1
        |    THEN 'b_attribution' ELSE 'c_restricted' END AS eff_license,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT d2.cl) AS BIGINT) AS n_clusters
        |FROM docs2 d2 JOIN eff ON eff.cl = d2.cl
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q504_twin_census" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, source, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        |fp AS (
        |  SELECT doc_id, source, md5(string_agg(sh, chr(1) ORDER BY sh)) AS fp
        |  FROM sh GROUP BY 1, 2),
        |cl AS (SELECT source, fp, COUNT(*) AS m FROM fp GROUP BY 1, 2)
        |SELECT source, CAST(SUM(m) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(MAX(m) AS BIGINT) AS max_multiplicity,
        |  CAST(SUM(CASE WHEN m >= 2 THEN m ELSE 0 END) AS BIGINT) AS twin_docs,
        |  CAST(SUM(CASE WHEN m >= 2 THEN m ELSE 0 END) * 1000000 // SUM(m)
        |    AS BIGINT) AS twin_ppm
        |FROM cl GROUP BY source ORDER BY source""".stripMargin,

    "q505_copy_waste" ->
      """WITH d AS (
        |  SELECT source, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |cl AS (
        |  SELECT source, h, COUNT(*) AS m, MAX(n_tok) AS n_tok
        |  FROM d GROUP BY 1, 2)
        |SELECT source,
        |  CAST(SUM(m * n_tok) AS BIGINT) AS raw_tokens,
        |  CAST(SUM(n_tok) AS BIGINT) AS unique_tokens,
        |  CAST(SUM((m - 1) * n_tok) AS BIGINT) AS wasted_tokens,
        |  CAST(SUM((m - 1) * n_tok) * 1000000
        |    // GREATEST(SUM(m * n_tok), 1) AS BIGINT) AS waste_ppm
        |FROM cl GROUP BY source ORDER BY source""".stripMargin,

    "q106_effective_tokens" -> (ClusterLabelsSql +
      """,
        |acc AS (
        |  SELECT d.source, len(string_split(d.text, ' ')) AS n_tok,
        |    (l.label IS NULL OR l.label = d.doc_id) AS survivor
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) FILTER (NOT survivor) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM(CASE WHEN survivor THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS eff_tokens,
        |  CAST(SUM(CASE WHEN survivor THEN n_tok ELSE 0 END) * 1000000
        |       // SUM(n_tok) AS BIGINT) AS eff_ppm
        |FROM acc GROUP BY source ORDER BY source""".stripMargin),

    "q76_split_leakage" -> (ClusterLabelsSql +
      s""",
        |sp AS (
        |  SELECT node, label, ${splitCaseSql("node")} AS split
        |  FROM lab)
        |SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
        |  MIN(split) AS first_split,
        |  COUNT(DISTINCT split) > 1 AS leaky,
        |  ${splitCaseSql("label")} AS cluster_split
        |FROM sp GROUP BY label ORDER BY cluster_id""".stripMargin),

    "q472_lsh_param_planner" -> {
      val legs = LshPlans.map { case (r, b) =>
        s"""SELECT tau_ppm, CAST($r AS BIGINT) AS rows_r,
           |  CAST($b AS BIGINT) AS bands_b,
           |  CAST(${lshRecallExpr(r, b, "//")} AS BIGINT) AS recall_ppm
           |FROM taus""".stripMargin
      }
      """WITH taus AS (
        |  SELECT CAST(t.t AS BIGINT) AS tau_ppm
        |  FROM UNNEST([500000, 700000, 900000]) AS t(t)),
        |legs AS (
        |""".stripMargin + legs.mkString("\nUNION ALL\n") + """
        |)
        |SELECT tau_ppm, rows_r, bands_b, recall_ppm,
        |  recall_ppm >= 900000 AS meets_90
        |FROM legs ORDER BY tau_ppm, rows_r""".stripMargin
    },

    "q463_hash_avalanche" ->
      """WITH hx AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    AS h
        |  FROM documents),
        |bits AS (SELECT CAST(b.b AS BIGINT) AS bit
        |         FROM UNNEST(generate_series(0, 31)) AS b(b))
        |SELECT bit, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM((h >> CAST(bit AS INT)) & 1) AS BIGINT) AS n_ones,
        |  CAST(SUM((h >> CAST(bit AS INT)) & 1) * 1000000 // COUNT(*)
        |    AS BIGINT) AS ones_ppm,
        |  ABS(CAST(SUM((h >> CAST(bit AS INT)) & 1) * 1000000 // COUNT(*)
        |    AS BIGINT) - 500000) AS bias_ppm
        |FROM hx CROSS JOIN bits GROUP BY bit ORDER BY bit""".stripMargin,

    "q464_split_balance" -> {
      s"""WITH per AS (
        |  SELECT source, ${splitCaseSql("doc_id")} AS split,
        |    COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(n_docs) AS n_source FROM per GROUP BY 1)
        |SELECT source, split, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_docs * 1000000 // n_source AS BIGINT) AS share_ppm,
        |  CAST(CASE WHEN split = 'train' THEN 800000
        |    WHEN split = 'val' THEN 100000 ELSE 100000 END AS BIGINT)
        |    AS design_ppm,
        |  ABS(CAST(n_docs * 1000000 // n_source AS BIGINT)
        |    - CASE WHEN split = 'train' THEN 800000
        |      WHEN split = 'val' THEN 100000 ELSE 100000 END) AS abs_dev_ppm
        |FROM per JOIN tot USING (source)
        |ORDER BY source, split""".stripMargin
    },

    "q457_cluster_consensus" -> (ClusterLabelsSql +
      """,
        |mem AS (SELECT node AS doc_id, label FROM lab),
        |szs AS (SELECT label, COUNT(*) AS n_members FROM mem GROUP BY 1),
        |cs AS (
        |  SELECT m.label, s.sh, COUNT(*) AS dfin
        |  FROM sh s JOIN mem m USING (doc_id) GROUP BY 1, 2)
        |SELECT cs.label AS cluster_id,
        |  CAST(MAX(szs.n_members) AS BIGINT) AS n_members,
        |  CAST(COUNT(*) AS BIGINT) AS n_union_shingles,
        |  CAST(SUM(CASE WHEN dfin = szs.n_members THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_core_shingles,
        |  CAST(SUM(CASE WHEN dfin = szs.n_members THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS core_share_ppm
        |FROM cs JOIN szs USING (label)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q445_star_components" -> (ClusterLabelsSql +
      """,
        |cl AS (SELECT label, COUNT(*) AS sz FROM lab GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin),

    "q136_cluster_split" -> (ClusterLabelsSql +
      s""",
        |assigned AS (
        |  SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok,
        |    COALESCE(l.label, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node)
        |SELECT ${splitCaseSql("cluster")} AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin),

    "q140_snm_pairs" ->
      s"""WITH sig AS (
        |  SELECT doc_id, substr(text, 1, 40) AS sig,
        |    substr(text, 1, 4) AS bucket
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, sig, bucket,
        |    CAST(row_number() OVER (
        |      PARTITION BY bucket ORDER BY sig, doc_id) AS BIGINT) AS rk
        |  FROM sig)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  b.rk - a.rk AS gap,
        |  CAST(a.sig = b.sig AS BIGINT) AS same_sig
        |FROM r a JOIN r b
        |  ON a.bucket = b.bucket AND b.rk > a.rk AND b.rk <= a.rk + $SnmWindow
        |ORDER BY 1, 2""".stripMargin,

    "q27_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(term),1,8))::BIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, UNNEST(generate_series(0, 31)) AS g(i) GROUP BY 1, 2),
        |fp AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
        |       FROM votes GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS bits
        |  FROM fp, UNNEST(generate_series(0, 3)) AS g(b)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
        |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,

    "q95_incremental_dedup" -> (LshPairsSql +
      """,
        |scored AS (
        |  SELECT CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS doc_id,
        |         CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS ref_doc,
        |         CAST(common * 1000000 // (ca.n + cb.n - common) AS BIGINT)
        |           AS jac_ppm
        |  FROM common JOIN cnt ca ON doc_a = ca.doc_id
        |              JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)),
        |kept AS (SELECT * FROM scored WHERE jac_ppm >= 300000),
        |best AS (
        |  SELECT doc_id, ref_doc, jac_ppm, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY jac_ppm DESC, ref_doc) AS rn
        |  FROM kept),
        |aggm AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.n_matches, 0) AS n_matches,
        |  COALESCE(b.ref_doc, -1) AS best_ref,
        |  COALESCE(b.jac_ppm, 0) AS best_jac_ppm,
        |  COALESCE(a.n_matches, 0) > 0 AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
        |LEFT JOIN aggm a USING (doc_id)
        |LEFT JOIN (SELECT doc_id, ref_doc, jac_ppm FROM best WHERE rn = 1) b
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "q178_linkage_scores" ->
      """WITH side AS (
        |  SELECT lang, source, doc_id, md5(text) AS sig,
        |    substr(text, 1, 16) AS pre16,
        |    CAST(length(bin(n_chars)) AS BIGINT) AS lenb
        |  FROM documents),
        |pairs AS (
        |  SELECT
        |    (CASE WHEN a.sig = b.sig THEN 16 ELSE 0 END
        |     + CASE WHEN a.pre16 = b.pre16 THEN 8 ELSE 0 END
        |     + CASE WHEN a.lenb = b.lenb THEN 4 ELSE 0 END) AS score,
        |    a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM side a JOIN side b
        |    ON a.lang = b.lang AND a.source = b.source
        |    AND a.doc_id < b.doc_id)
        |SELECT CAST(score AS BIGINT) AS score,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_left_docs,
        |  CAST(MIN(id_a * 1000000000 + id_b) // 1000000000 AS BIGINT)
        |    AS witness_a,
        |  CAST(MIN(id_a * 1000000000 + id_b) % 1000000000 AS BIGINT)
        |    AS witness_b
        |FROM pairs GROUP BY score ORDER BY score DESC""".stripMargin,

    "q322_source_overlap" ->
      """WITH fp AS (SELECT DISTINCT md5(text) AS fp, source FROM documents),
        |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ndv
        |       FROM fp GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    a.ndv AS ndv_a, b.ndv AS ndv_b
        |  FROM nd a JOIN nd b ON a.source < b.source)
        |SELECT g.src_a, g.src_b, g.ndv_a, g.ndv_b,
        |  CAST(COALESCE(sh.shared, 0) AS BIGINT) AS shared_fps,
        |  CAST(COALESCE(sh.shared, 0) * 1000000
        |    // (g.ndv_a + g.ndv_b - COALESCE(sh.shared, 0)) AS BIGINT)
        |    AS jaccard_ppm
        |FROM grid g LEFT JOIN sh ON g.src_a = sh.src_a AND g.src_b = sh.src_b
        |ORDER BY g.src_a, g.src_b""".stripMargin,

    "q329_dedup_drift" ->
      """WITH docs AS (
        |  SELECT doc_id, source, md5(text) AS fp FROM documents),
        |surv AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS after FROM (
        |    SELECT source FROM (
        |      SELECT source, row_number() OVER
        |        (PARTITION BY fp ORDER BY doc_id) AS rn FROM docs)
        |    WHERE rn = 1) GROUP BY 1),
        |bef AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS before
        |        FROM docs GROUP BY 1),
        |tb AS (SELECT SUM(before) AS tb FROM bef),
        |ta AS (SELECT SUM(after) AS ta FROM surv)
        |SELECT bef.source, before AS docs_before,
        |  CAST(COALESCE(after, 0) AS BIGINT) AS docs_after,
        |  CAST(before * 1000000 // tb.tb AS BIGINT) AS before_ppm,
        |  CAST(COALESCE(after, 0) * 1000000 // ta.ta AS BIGINT) AS after_ppm,
        |  CAST(ABS(CAST(COALESCE(after, 0) * 1000000 // ta.ta AS BIGINT)
        |    - CAST(before * 1000000 // tb.tb AS BIGINT)) AS BIGINT)
        |    AS delta_abs_ppm
        |FROM bef LEFT JOIN surv USING (source)
        |CROSS JOIN tb CROSS JOIN ta ORDER BY bef.source""".stripMargin,

    "q332_threshold_retention" -> (LshPairsSql +
      """,
        |pr AS (
        |  SELECT c.doc_a, c.doc_b, c.common,
        |    ca.n + cb.n - c.common AS un
        |  FROM common c JOIN cnt ca ON ca.doc_id = c.doc_a
        |                JOIN cnt cb ON cb.doc_id = c.doc_b),
        |taus AS (SELECT CAST(t.t * 10 AS BIGINT) AS tau_pct
        |         FROM UNNEST(generate_series(3, 9)) AS t(t)),
        |hit AS (
        |  SELECT tau_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_pruned
        |  FROM pr CROSS JOIN taus WHERE common * 100 >= tau_pct * un
        |  GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT taus.tau_pct,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_pruned, 0) AS BIGINT) AS n_pruned,
        |  CAST(n_docs - COALESCE(n_pruned, 0) AS BIGINT) AS n_retained,
        |  CAST(COALESCE(n_pruned, 0) * 1000000 // n_docs AS BIGINT)
        |    AS pruned_ppm
        |FROM taus LEFT JOIN hit USING (tau_pct) CROSS JOIN nd
        |ORDER BY taus.tau_pct""".stripMargin),

    "q424_lsh_band_plan" -> (LshPairsSql +
      """,
        |plans AS (
        |  SELECT CAST(16 // (1 << t.t) AS BIGINT) AS b,
        |    CAST((1 << t.t) AS BIGINT) AS r
        |  FROM UNNEST(generate_series(0, 3)) AS t(t)),
        |slots AS (
        |  SELECT c.doc_a, c.doc_b, sa.i,
        |    CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END AS m
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
        |              JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i),
        |bandm AS (
        |  SELECT s.doc_a, s.doc_b, p.b, p.r, s.i // p.r AS band,
        |    CASE WHEN SUM(s.m) = p.r THEN 1 ELSE 0 END AS allm
        |  FROM slots s CROSS JOIN plans p
        |  GROUP BY s.doc_a, s.doc_b, p.b, p.r, s.i // p.r),
        |coll AS (SELECT doc_a, doc_b, b, r, MAX(allm) AS collided
        |         FROM bandm GROUP BY 1, 2, 3, 4),
        |ex AS (
        |  SELECT c.doc_a, c.doc_b,
        |    c.common * 1000000 // (ca.n + cb.n - c.common) AS exact_ppm
        |  FROM common c JOIN cnt ca ON ca.doc_id = c.doc_a
        |                JOIN cnt cb ON cb.doc_id = c.doc_b),
        |binned AS (
        |  SELECT coll.b, coll.r, ex.exact_ppm // 100000 AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(coll.collided) AS BIGINT) AS n_collide
        |  FROM coll JOIN ex ON ex.doc_a = coll.doc_a AND ex.doc_b = coll.doc_b
        |  GROUP BY 1, 2, 3),
        |e0 AS (SELECT *, least(decile * 100 + 50, 1000) AS s_pm FROM binned),
        |e1 AS (SELECT *, s_pm * s_pm // 1000 AS p2 FROM e0),
        |e2 AS (SELECT *, p2 * p2 // 1000 AS p4 FROM e1),
        |e3 AS (SELECT *, p4 * p4 // 1000 AS p8 FROM e2),
        |e4 AS (SELECT *, 1000 - CASE r WHEN 1 THEN s_pm WHEN 2 THEN p2
        |  WHEN 4 THEN p4 ELSE p8 END AS q1 FROM e3),
        |e5 AS (SELECT *, q1 * q1 // 1000 AS q2 FROM e4),
        |e6 AS (SELECT *, q2 * q2 // 1000 AS q4 FROM e5),
        |e7 AS (SELECT *, q4 * q4 // 1000 AS q8 FROM e6),
        |e8 AS (SELECT *, q8 * q8 // 1000 AS q16 FROM e7)
        |SELECT b AS bands, r AS rows_per_band, CAST(decile AS BIGINT) AS decile,
        |  n_pairs, n_collide,
        |  CAST(n_collide * 1000000 // n_pairs AS BIGINT) AS measured_ppm,
        |  CAST((1000 - CASE b WHEN 2 THEN q2 WHEN 4 THEN q4
        |    WHEN 8 THEN q8 ELSE q16 END) * 1000 AS BIGINT) AS expected_ppm
        |FROM e8 ORDER BY bands, decile""".stripMargin),

    "q426_cdc_chunks" ->
      """WITH d AS (
        |  SELECT source, doc_id, text FROM documents WHERE length(text) >= 8),
        |cutl AS (
        |  SELECT source, doc_id, list_sort(list(i)) AS cuts
        |  FROM (SELECT source, doc_id, i
        |        FROM d, UNNEST(generate_series(8, length(text) - 1)) AS g(i)
        |        WHERE ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 8))::BIGINT
        |              % 64 = 0)
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT d.source, d.text,
        |    [CAST(0 AS BIGINT)]
        |      || COALESCE(c.cuts, CAST([] AS BIGINT[]))
        |      || [CAST(length(d.text) AS BIGINT)] AS bnds
        |  FROM d LEFT JOIN cutl c USING (source, doc_id)),
        |chunks AS (
        |  SELECT source,
        |    substr(text, CAST(bnds[j] + 1 AS INT),
        |      CAST(bnds[j + 1] - bnds[j] AS INT)) AS chunk
        |  FROM b, UNNEST(generate_series(1, len(bnds) - 1)) AS g(j)),
        |perchunk AS (
        |  SELECT source, md5(chunk) AS h, COUNT(*) AS n,
        |    MAX(length(chunk)) AS len
        |  FROM chunks GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_chunks,
        |    CAST(COUNT(*) AS BIGINT) AS ndv_chunks,
        |    CAST(SUM(n * len) AS BIGINT) AS total_chars,
        |    CAST(SUM(len) AS BIGINT) AS unique_chars
        |  FROM perchunk GROUP BY 1)
        |SELECT source, n_chunks, ndv_chunks, total_chars, unique_chars,
        |  CAST(unique_chars * 1000000 // total_chars AS BIGINT)
        |    AS dedup_ratio_ppm,
        |  CAST(total_chars // n_chunks AS BIGINT) AS mean_chunk_len
        |FROM agg ORDER BY source""".stripMargin
  )
}
