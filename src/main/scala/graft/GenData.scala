package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale factors the driver
  * did not ship (round-7 VERDICT "Next round #1": every magnitude-rule
  * and 100 TB-plan claim was proven only at sf ≤ 0.1 — the first thing
  * a real user does is run at sf ≥ 1).
  *
  * Faithful to the driver corpus (`TESTDATA.md`, `/root/testdata/sf*`)
  * in everything the queries consume: table set, column names/types,
  * key ranges (0-based contiguous, FK-consistent), value domains
  * (priority/status/segment/type/lang/source enumerations, 2-decimal
  * prices, the 1995-2001 order horizon with ship lag 1..121 days, the
  * 30-day Jan-2024 event window with µs timestamps, 64-dim label-
  * clustered embeddings, template-duplicated documents) and row-count
  * scaling (lineitem ≈ 6M·sf, ~4 lines/order). NOT byte-identical to
  * the driver's sf0.1 — correctness at generated SFs is judged by the
  * same Spark-vs-DuckDB compare over the SAME files, so distribution
  * equality is not required, only domain fidelity.
  *
  * Determinism: every value is pure integer arithmetic in xxhash64 of
  * (salt, key) — no RNG state, no wall clock; regenerating any SF gives
  * bitwise-identical parquet content (row order fixed by the id sort).
  *
  * Usage: `sbt "runMain graft.GenData 1.0 testdata/sf1"`.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val out = if (args.length > 1) args(1) else s"testdata/sf$sf"
    val spark = Harness.session()

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    // positive hash in [0, m) from (salt, id) — the one randomness source
    def h(salt: Int, m: Long) = pmod(xxhash64(lit(salt), col("id")), lit(m))
    def save(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).sortWithinPartitions("id").drop("id")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen] $name written")
    }
    def ids(cnt: Long) = spark.range(cnt).toDF("id")

    // region / nation: fixed dims (identical to the driver's)
    spark.range(5).toDF("id")
      .select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1).as("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")
    spark.range(25).toDF("id")
      .select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
    println("[gen] region/nation written")

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEv = n(1000000)
    val nDoc = n(50000); val nVec = n(20000); val nUser = n(15000)

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    save(ids(nCust).select(col("id"),
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      ((h(2, 1099966) - 99985).cast("double") / 100).as("c_acctbal"),
      element_at(segs, (h(3, 5) + 1).cast("int")).as("c_mktsegment")),
      "customer", math.max(1, (4 * sf).toInt))

    save(ids(nSupp).select(col("id"),
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      ((h(5, 1099966) - 99985).cast("double") / 100).as("s_acctbal")),
      "supplier", 1)

    val adjs = array(Seq("large", "hot", "blue", "red", "small", "dark",
      "pale", "round").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "screw", "washer", "nut", "cap",
      "plate", "rod").map(lit): _*)
    val ptypes = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD").map(lit): _*)
    save(ids(nPart).select(col("id"),
      col("id").as("p_partkey"),
      concat(element_at(adjs, (h(6, 8) + 1).cast("int")), lit(" "),
        element_at(nouns, (h(7, 8) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (h(8, 25) + 1)).as("p_brand"),
      element_at(ptypes, (h(9, 6) + 1).cast("int")).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      ((h(11, 9991) + 90000).cast("double") / 100).as("p_retailprice")),
      "part", math.max(1, (4 * sf).toInt))

    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val orders = ids(nOrd).select(col("id"),
      col("id").as("o_orderkey"),
      h(12, nCust).as("o_custkey"),
      element_at(statuses, (h(13, 3) + 1).cast("int")).as("o_orderstatus"),
      ((h(14, 49899128) + 100191).cast("double") / 100).as("o_totalprice"),
      // 1995-01-01 + 0..2403 days (the driver horizon)
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        h(15, 2404).cast("int"))).as("o_orderdate"),
      element_at(prios, (h(16, 5) + 1).cast("int")).as("o_orderpriority"))
    save(orders, "orders", math.max(1, (8 * sf).toInt))

    // lineitem: 1..7(+) lines per order, mean ≈ 4 — explode a per-order
    // sequence; ship lag 1..121 days after the order date
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val lstat = array(Seq("F", "O").map(lit): _*)
    val li = ids(nOrd)
      .select(col("id"), (h(17, 4) + h(18, 4) + 1).cast("int").as("nl"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          h(15, 2404).cast("int"))).as("odate"))
      .select(col("id"), col("odate"),
        explode(sequence(lit(1), col("nl"))).as("l_linenumber"))
      .withColumn("lid", col("id") * 32 + col("l_linenumber"))
      .select(col("id"),
        col("id").as("l_orderkey"),
        pmod(xxhash64(lit(19), col("lid")), lit(nPart)).as("l_partkey"),
        pmod(xxhash64(lit(20), col("lid")), lit(nSupp)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(xxhash64(lit(21), col("lid")), lit(50)) + 1).cast("double")
          .as("l_quantity"),
        ((pmod(xxhash64(lit(22), col("lid")), lit(10409924)) + 90068)
          .cast("double") / 100).as("l_extendedprice"),
        (pmod(xxhash64(lit(23), col("lid")), lit(11)).cast("double") / 100)
          .as("l_discount"),
        (pmod(xxhash64(lit(24), col("lid")), lit(9)).cast("double") / 100)
          .as("l_tax"),
        element_at(flags, (pmod(xxhash64(lit(25), col("lid")), lit(3)) + 1)
          .cast("int")).as("l_returnflag"),
        element_at(lstat, (pmod(xxhash64(lit(26), col("lid")), lit(2)) + 1)
          .cast("int")).as("l_linestatus"),
        to_timestamp(date_add(col("odate").cast("date"),
          (pmod(xxhash64(lit(27), col("lid")), lit(121)) + 1).cast("int")))
          .as("l_shipdate"))
      .drop("odate")
    save(li, "lineitem", math.max(1, (16 * sf).toInt))

    // events: 30 days of Jan 2024, µs timestamps, 5 types, json props
    val etypes = array(Seq("click", "error", "purchase", "signup", "view")
      .map(lit): _*)
    save(ids(nEv).select(col("id"),
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01T00:00:00Z µs
        h(28, 30L * 86400 * 1000000)).as("ts"),
      h(29, nUser).as("user_id"),
      element_at(etypes, (h(30, 5) + 1).cast("int")).as("event_type"),
      (h(31, 56022).cast("double") / 100).as("value"),
      format_string("{\"k\": %d}", h(32, 100)).as("props")),
      "events", math.max(1, (8 * sf).toInt))

    // documents: 20 sources, 5 langs (en-heavy), 8..110-word texts from
    // the corpus vocabulary; every 37th doc is one of 5 verbatim
    // templates and every 41st a one-word near-variant, so exact AND
    // near-dup pipelines find real clusters at every SF
    // the driver corpus's 30 common words (its 31st, "dup", is rare —
    // we plant it in templates only, reproducing that shape); ≥ 31
    // distinct tokens also keeps q282's rank-{10,20,30} query terms
    // well-defined (they need a ≥30-token vocabulary)
    val vocabWords = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
      "query", "table", "key", "stream", "filter", "big", "merge", "the",
      "join", "window", "vector", "agg", "customer", "data", "row")
    val vocab = array(vocabWords.map(lit): _*)
    val langs = array(Seq("en", "en", "de", "es", "fr", "zh", "en", "en",
      "de", "es", "fr", "zh", "en", "en", "fr").map(lit): _*)
    val tmpl = array((0 until 5).map(t => lit(
      ((0 until 40).map(j => vocabWords((t * 17 + j * 7) % vocabWords.length))
        :+ "dup").mkString(" "))): _*)
    val docs = ids(nDoc)
      .withColumn("vv", vocab)
      .withColumn("base", array_join(
        expr(s"transform(sequence(1, 8 + CAST(pmod(xxhash64(33, id), 103) AS INT)), " +
          s"j -> element_at(vv, CAST(pmod(xxhash64(34, id * 131 + j), ${vocabWords.length}) AS INT) + 1))"),
        " "))
      .withColumn("text",
        when(col("id") % 37 === 0,
          element_at(tmpl, (pmod(expr("id DIV 37"), lit(5)) + 1).cast("int")))
        .when(col("id") % 41 === 0,
          concat(element_at(tmpl, (pmod(expr("id DIV 41"), lit(5)) + 1).cast("int")),
            lit(" "), element_at(col("vv"), (h(35, vocabWords.length) + 1).cast("int"))))
        .otherwise(col("base")))
      .select(col("id"),
        col("id").as("doc_id"), col("text"),
        element_at(langs, (h(36, 15) + 1).cast("int")).as("lang"),
        concat(lit("src"), h(37, 20)).as("source"),
        length(col("text")).as("n_chars"))
    save(docs, "documents", math.max(1, (4 * sf).toInt))

    // embeddings: 64-dim floats clustered by label (center + noise)
    val emb = ids(nVec).select(col("id"),
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), j -> CAST(
          (CAST(pmod(id, 10) * 73 + j * 37 AS DOUBLE) % 100) / 100 * 0.6 - 0.3
          + CAST(pmod(xxhash64(38, id * 64 + j), 1000) AS DOUBLE) / 1000 * 0.4 - 0.2
        AS FLOAT))""").as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))
    save(emb, "embeddings", 1)

    println(s"[gen] done: $out at sf=$sf")
    spark.stop()
  }
}
