package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local dev only): CSV of query names to run.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val loop = new Harness.Loop()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Watchdog (inside the loop): one stuck query must cost one red
      // row, not the round (round 6's artifacts were zeroed by a single
      // 1 h hang).
      loop(name) { s =>
        fn(s, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.error.foreach(msg => System.err.println(s"[verify] $name failed: $msg"))
    }
    val spark = loop.spark
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // q339 JVM-mirror oracle: zlib is not expressible in DuckDB SQL, so
    // through round 7 q339 was a declared rows-only entry. The expected
    // per-source aggregates are instead recomputed DRIVER-SIDE here — an
    // independent plain-Scala loop over the same parquet with
    // java.util.zip.Deflater (level 6, zlib wrapper; the same public
    // library the engine's codegen'd DeflateLength pins, via a separate
    // code path) — and emitted as a literal VALUES oracle, giving the
    // driver's compare the same hard rows+schema+hash verdict as every
    // SQL-expressible query. Any mirror failure falls back to omitting
    // the entry (the old rows-only behavior), never a broken oracle.
    def q339MirrorSql(): Option[String] = scala.util.Try {
      case class Acc(var n: Long, var raw: Long, var defl: Long, var susp: Long)
      val accs = scala.collection.mutable.SortedMap.empty[String, Acc]
      val it = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("source", "text").toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val a = accs.getOrElseUpdate(r.getString(0), Acc(0L, 0L, 0L, 0L))
        a.n += 1
        if (!r.isNullAt(1)) {
          val bytes = r.getString(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val d = new java.util.zip.Deflater(6, false)
          val nz = try {
            d.setInput(bytes); d.finish()
            val buf = new Array[Byte](256); var t = 0L
            while (!d.finished()) t += d.deflate(buf)
            t
          } finally d.end()
          a.raw += bytes.length; a.defl += nz
          if (nz * 4 < bytes.length) a.susp += 1
        }
      }
      require(accs.nonEmpty, "empty documents table")
      val rows = accs.map { case (src, a) =>
        s"('${src.replace("'", "''")}', CAST(${a.n} AS BIGINT), " +
          s"CAST(${a.raw} AS BIGINT), CAST(${a.defl} AS BIGINT), " +
          s"CAST(${a.susp} AS BIGINT), " +
          s"CAST(${a.defl * 1000000L / a.raw} AS BIGINT))"
      }.mkString(", ")
      "SELECT * FROM (VALUES " + rows + ") AS t(source, n_docs, raw_bytes," +
        " deflate_bytes, n_suspicious, ratio_ppm) ORDER BY source"
    }.toOption
    // JVM-mirror oracles for the DuckDB-resource-bound legs (round-9
    // VERDICT ask #2): opt-in via SPARK_GRAFT_MIRRORS — the default
    // (driver) runs keep the DuckDB SQL oracles so the cross-engine
    // check stays primary at sf0.01; the sf1/sf10 gates flip the flag
    // where DuckDB cannot finish (q115 triangle census, q457 shingle×
    // membership census, q83's 78 GB OOM at sf10 — addendum 33).
    // "1" enables every registered mirror; a CSV of query names enables
    // only those (round 10 — keeps sf1 on the cross-engine oracle for
    // the queries DuckDB CAN still finish there).
    // values are TRIMMED (round-10 ADVICE): "a, b" with a space after the
    // comma would otherwise silently disable the second mirror and fall
    // back to a possibly capacity-dead DuckDB oracle with no error
    val mirrorSel: Option[Set[String]] = sys.env.get("SPARK_GRAFT_MIRRORS")
      .map(_.trim).filter(_.nonEmpty).map {
        case "1" => Set.empty[String] // empty = all registered
        case csv => csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    val mirrorsOn = mirrorSel.isDefined
    def mirrorWanted(k: String): Boolean =
      mirrorSel.exists(sel => sel.isEmpty || sel.contains(k))
    val dynamicOracle: Map[String, String] =
      (if (only.forall(_.contains("q339_gzip_quality")))
        q339MirrorSql().map("q339_gzip_quality" -> _).toMap
      else Map.empty[String, String]) ++
      (if (mirrorsOn)
        Seq("q115_dup_triangles" -> (() => MirrorOracles.q115Sql(spark, sfDir)),
            "q457_cluster_consensus" -> (() => MirrorOracles.q457Sql(spark, sfDir)),
            "q83_kmeans_step" -> (() => MirrorOracles.q83Sql(spark, sfDir)),
            // round-10 additions: the six sf1 DuckDB-capacity rows
            // (q194 interrupt; q416-q418/q421/q428 oracle disk-full)
            // plus q65/q26 for the sf10 gate
            "q194_basket_triples" -> (() => MirrorOracles.q194Sql(spark, sfDir)),
            "q416_lloyd3_convergence" -> (() => MirrorOracles.q416Sql(spark, sfDir)),
            "q417_ivf_recall_lloyd3" -> (() => MirrorOracles.q417Sql(spark, sfDir)),
            "q418_multiprobe_lloyd3" -> (() => MirrorOracles.q418Sql(spark, sfDir)),
            "q421_personalized_pagerank" -> (() => MirrorOracles.q421Sql(spark, sfDir)),
            "q428_seed_bfs" -> (() => MirrorOracles.q428Sql(spark, sfDir)),
            "q65_dup_clusters" -> (() => MirrorOracles.q65Sql(spark, sfDir)),
            "q325_span_overlap" -> (() => MirrorOracles.q325Sql(spark, sfDir)),
            // the remaining CC-consumer family (sf10 gate, round 10)
            "q445_star_components" -> (() => MirrorOracles.q445Sql(spark, sfDir)),
            "q76_split_leakage" -> (() => MirrorOracles.q76Sql(spark, sfDir)),
            "q136_cluster_split" -> (() => MirrorOracles.q136Sql(spark, sfDir)),
            "q106_effective_tokens" -> (() => MirrorOracles.q106Sql(spark, sfDir)),
            "q160_drop_reasons" -> (() => MirrorOracles.q160Sql(spark, sfDir)),
            "q491_license_propagation" -> (() => MirrorOracles.q491Sql(spark, sfDir)),
            "q504_twin_census" -> (() => MirrorOracles.q504Sql(spark, sfDir)),
            "q26_minhash_lsh" -> (() => MirrorOracles.q26Sql(spark, sfDir)))
          .collect { case (k, mk)
              if only.forall(_.contains(k)) && mirrorWanted(k) =>
            mk().map(k -> _) }.flatten.toMap
      else Map.empty)
    val json = (SparkEntry.oracleSql ++ dynamicOracle)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Shared-prefix prelude for the cached-CTE compare harness: the
    // LSH-family oracles all open with the same candidate-pair CTE chain;
    // exporting it as ordered (name, select) stages lets tools/compare.py
    // materialize each stage ONCE per run instead of re-deriving it per
    // query (at sf1 that prefix is minutes of DuckDB work × ~12 oracles).
    // The oracles themselves stay self-contained — a harness without
    // prelude support (the driver's) ignores this file entirely.
    val preludeJson = graft.ops.Dedup.oraclePreludes
      .map { case (k, prefix, stages) =>
        s"""{"key": ${q(k)}, "prefix": ${q(prefix)}, "stages": [""" +
          stages.map { case (n, sql) => s"[${q(n)}, ${q(sql)}]" }
            .mkString(", ") + "]}"
      }.mkString("[", ", ", "]")
    Files.writeString(Paths.get(s"$outDir/oracle_prelude.json"), preludeJson)
    loop.stop()
  }
}
