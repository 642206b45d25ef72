package graft
import java.nio.file.{Files, Paths}
import graft.core.Session
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session(confs = Session.verify)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q95_...,q96_... re-dumps a subset into an existing
    // outDir (iteration aid, mirrors Bench's env var; oracle_sql.json is
    // always written in full so check.py still covers every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A subset dump leaves every unlisted query's parquet untouched while
    // oracle_sql.json is rewritten in full — exactly the stale-dump shape
    // the round-2 lesson warns about. Leave a marker so check.py (and a
    // human) can never mistake this outDir for a full gate run. A full run
    // clears it only AFTER completing — deleting up front would reopen the
    // window if the full run dies halfway with subset-era dumps in place.
    val markerPath = Paths.get(s"$outDir/SUBSET_RUN")
    if (only.isDefined) {
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY subset run — unlisted queries in " +
          s"$outDir keep stale dumps; this is NOT a full gate run")
      Files.writeString(markerPath,
        s"SPARK_GRAFT_ONLY=${sys.env("SPARK_GRAFT_ONLY")}\n")
    }
    // canonicalized plan hash per query (r16 verdict item 7: coverage
    // beyond the 21 bench headliners) — written as a sidecar;
    // check.py warns on drift against the committed per-SF baseline.
    // Every query is built after the previous one's caches are released,
    // so a hash does not depend on which queries ran before it: full,
    // subset and incremental runs give the same hash per query.
    val planHashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_INCREMENTAL=1 (r16 verdict item 8 — the sf1 grind):
    // reuse the PREVIOUS dump in this outDir for any query whose
    // canonicalized plan hash is unchanged AND whose plan is PURE — it
    // reads only static files (no tmp-dir scans, no driver-computed
    // LogicalRDD/LocalTableScan leaves, whose content comes from
    // build-time execution). Same plan + same input data ⇒ same dump,
    // so check.py's compare stays sound; impure queries always re-dump
    // (their build-time side effects already ran to produce the frame).
    // Iteration aid only — keep one full-fidelity run per round.
    val incremental = sys.env.get("SPARK_GRAFT_INCREMENTAL").contains("1")
    val prevHashes: Map[String, String] =
      if (!incremental) Map.empty
      else {
        val p = Paths.get(s"$outDir/plan_hashes.json")
        if (!Files.exists(p)) Map.empty
        else {
          // minimal flat {"k": "v", ...} parse — the file is our own dump
          val re = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
          re.findAllMatchIn(Files.readString(p))
            .map(m => m.group(1) -> m.group(2)).toMap
        }
      }
    val tmpdir = sys.props("java.io.tmpdir")
    var nSkipped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val hash = graft.core.PlanHash.of(df)
        planHashes(name) = hash
        val planStr = df.queryExecution.sparkPlan.toString
        val pure = !planStr.contains(tmpdir) &&
          !planStr.contains("LocalTableScan") &&
          !planStr.contains("ExistingRDD") && !planStr.contains("LogicalRDD")
        val canSkip = incremental && pure &&
          prevHashes.get(name).contains(hash) &&
          Files.exists(Paths.get(s"$outDir/$name"))
        if (canSkip) nSkipped += 1
        else df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any dump from a previous run: a stale result must fail
        // the compare, not silently pass it
        graft.sources.FsOps.delete(spark, s"$outDir/$name")
      }
      // queries run sequentially and the dump above is a full
      // materialization: end the query's caches and checkpoints with it,
      // so the next query neither reuses them nor finds them in memory
      finally graft.core.Checkpoints.releaseAll(spark)
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full registered-query manifest: check.py FAILs any registered name
    // with no oracle AND any oracle-listed name with no dump, so a query
    // can never silently drop out of the gate (round-9 lesson: 18 events
    // queries erred and the artifact showed 112/112 "all green").
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // "_conf" records the applied SPARK_GRAFT_CONF: a conf-tainted run is
    // never drift-compared, so it can never be reseeded as the baseline
    val conf = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    Files.writeString(Paths.get(s"$outDir/plan_hashes.json"),
      (Seq(s"${q("_conf")}: ${q(conf)}") ++
        planHashes.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }).mkString("{", ",", "}"))
    if (nSkipped > 0)
      System.err.println(s"[verify] incremental: reused $nSkipped " +
        "unchanged-plan dumps")
    // full run completed: every query's dump is fresh, clear the marker
    if (only.isEmpty) Files.deleteIfExists(markerPath)
    spark.stop()
  }
}
