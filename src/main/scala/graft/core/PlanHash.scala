package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Canonicalized physical-plan fingerprint. The bench emits one hash per
  * headline query so a timing drift is decidable as noise-vs-plan-change
  * in one look: same hash as last round → the plan did not move, the time
  * did (environment); different hash → a real plan change to audit.
  *
  * Hashes the PRE-AQE `sparkPlan`: it is fully determined by the query,
  * the optimizer, and the input schema/layout — unlike `executedPlan`,
  * which AQE rewrites per run from observed runtime statistics (that
  * nondeterminism is exactly the noise this fingerprint must ignore).
  * Run-specific tokens are normalized away so the hash is stable across
  * JVMs and checkouts: expression IDs, plan IDs, per-session temp/dir
  * paths, the checkout path of in-repo fixtures, exchange/subquery IDs,
  * broadcast ids, and file-listing byte counts.
  *
  * Cache context: Spark substitutes any logical subtree that matches a
  * live cache entry, so a frame built while another query's caches are
  * still held can hash differently. Verify releases every query's caches
  * before building the next one (`Checkpoints.releaseAll`), which makes
  * each query's hash independent of the queries run before it — a full
  * run, a reversed run and a SPARK_GRAFT_ONLY run agree.
  */
object PlanHash {

  /** Strip run-varying tokens from a plan string. */
  def canonicalize(plan: String): String =
    plan
      // expression IDs: revenue#123L → revenue#xL (letter suffix kept —
      // a dtype change should change the hash)
      .replaceAll("#\\d+", "#x")
      // JVM identity hashes: a collected-literal array folded into the
      // plan (vector-search probes) prints as [D@1f2a3b — new object,
      // new token, every build
      .replaceAll("@[0-9a-f]{4,}", "@x")
      // higher-order-function lambda variables carry a session-global
      // counter: `lambda x_1` on first build, `lambda x_16` on the next
      .replaceAll("lambda ([A-Za-z]+)_\\d+", "lambda $1_n")
      // With-expression CSE aliases (RewriteWithExpression — e.g. the
      // expansion of nullif) carry the same kind of global counter:
      // `_common_expr_0` on first build, `_common_expr_1` on a rebuild
      // in the same JVM (r20: q39's barrier projection surfaced one as
      // a materialized Project alias)
      .replaceAll("_common_expr_\\d+", "_common_expr_n")
      // typed-API nodes (MapPartitions / typed map barriers) render the
      // closure's JVM lambda CLASS: `Multimodal$$$Lambda$2340/
      // 0x00007fc6e0cbed70@x` — both the counter and the hex address
      // are per-JVM (r19 diagnosis: this alone made the 12-query media/
      // typed set re-hash on every run; the @hex rule above only caught
      // the trailing identity hash)
      .replaceAll("\\$\\$?Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda")
      // plan / exchange / subquery identifiers
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#?x?\\d*\\]", "")
      .replaceAll("exchange_\\d+", "exchange_x")
      .replaceAll("subquery#?\\d+", "subquery#x")
      .replaceAll("cte_\\d+", "cte_x")
      // absolute paths (sf dirs, session tmpdirs, bucketed-table dirs)
      .replaceAll("file:[^\\s,\\]\\)]+", "path")
      .replaceAll("/[A-Za-z0-9_./-]*(?:testdata|tmp|target)/[^\\s,\\]\\)]*", "path")
      // the checkout itself: in-repo fixtures are read by absolute path,
      // under the working directory (the graft-netcdf scan prints
      // <cwd>/data/rp_nc/...) or a fixed checkout path, so print every
      // path into a data/ dir relative to the repository root
      .replaceAll("/(?:[A-Za-z0-9_.-]+/)*?(data/)", "$1")
      // broadcast variables print their SparkContext-wide id
      // (ArgmaxCosine's centroid index: Broadcast(4) when its query runs
      // first, Broadcast(306) after the vector queries)
      .replaceAll("Broadcast\\(\\d+\\)", "Broadcast(x)")
      // TRUNCATED filter-metadata values (spark.sql.maxMetadataStringLength
      // cuts at 100 RAW chars, so the cut point shifts with exprId digit
      // counts — a rebuild crossing a 3→4 digit boundary hashed
      // differently): collapse any filter list whose rendering was cut
      // to a fixed token, anchored on the trailing ellipsis (r17 advice:
      // the earlier [^\]]* form could not cross a ']' INSIDE the filter
      // text — an array-index rendering like a#5[0] kept the flake
      // alive). The tempered scan (?:(?!, [A-Z]\w*: ).)*? may cross a
      // ']' but can never cross into the NEXT metadata entry (", Key: ")
      // — without that guard the non-greedy scan walked an UNTRUNCATED
      // "[]" across ", ReadSchema: struct<…" to the schema's own
      // truncation dots and collapsed half the scan line (caught by the
      // 204-query baseline compare on first run).
      .replaceAll("(DataFilters|PushedFilters|PartitionFilters): " +
        "\\[(?:(?!, [A-Z]\\w*: )[^\\n])*?\\.\\.\\.(?=[,\\]\\s]|$)",
        "$1: [<truncated>")
      // file-listing statistics vary with parquet writer buffering
      .replaceAll("\\d+ paths", "N paths")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      .replaceAll("size=[0-9.]+ *[KMGT]?i?B", "size=x")
      .replaceAll(", *\\d+ bytes", ", x bytes")

  /** Hex md5 (first 16 chars) of the canonicalized sparkPlan. A cached
    * intermediate prints its whole lineage inside its InMemoryRelation,
    * so two plans that differ only above a `.cache()` hash apart.
    */
  def of(df: DataFrame): String = {
    val canon = canonicalize(df.queryExecution.sparkPlan.toString)
    MessageDigest.getInstance("MD5").digest(canon.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
  }
}
