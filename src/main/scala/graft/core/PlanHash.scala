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

  /** Pre-checkpoint lineage digests, keyed by the checkpointed RDD's
    * id (r19 verdict item 3: a checkpoint-eager query's sparkPlan is
    * only its budget tail — q214's hash was indistinguishable from
    * q147's because the corpus-construction difference lives entirely
    * above the localCheckpoint). [[localCheckpointTracked]] records
    * the canonical digest of the plan it truncates; [[of]] folds those
    * digests back in wherever the hashed plan scans a tracked RDD.
    */
  /** Keyed by (applicationId, rdd id): RDD ids restart from 0 with a
    * new SparkContext in the same JVM, so a bare-id key could fold a
    * STALE digest from a previous context into an unrelated plan's
    * hash after a session restart (r20 review find).
    */
  private val ckDigests =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ckKey(rdd: org.apache.spark.rdd.RDD[_]): String =
    rdd.sparkContext.applicationId + ":" + rdd.id

  /** `localCheckpoint(eager=true)` that keeps the truncated lineage
    * visible to the plan fingerprint. The recorded digest hashes the
    * ANALYZED plan, not the physical one: the eager checkpoint
    * EXECUTES upstream stages whose operators register internal caches
    * (minhashDedup's shingle tables), so a REBUILD of the same query
    * in the same JVM physical-plans with InMemoryRelation
    * substitutions — the analyzed plan is pre-cache-substitution and
    * rebuild-stable (PlanHashSpec pins it). Nested tracked checkpoints
    * resolve recursively through the analyzed plan's LogicalRDD
    * leaves.
    */
  def localCheckpointTracked(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val canon = canonicalize(analyzed.toString)
    val nested = analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Option(ckDigests.get(ckKey(lr.rdd)))
    }.flatten
    val payload =
      if (nested.isEmpty) canon
      else canon + nested.mkString("\nck:[", ",", "]")
    val md = MessageDigest.getInstance("MD5")
    val digest = md.digest(payload.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    val out = df.localCheckpoint(eager = true)
    out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ckDigests.put(ckKey(lr.rdd), digest)
      case _ =>
    }
    out
  }

  /** Hex md5 (first 16 chars) of the canonicalized sparkPlan, plus —
    * ONLY when the plan scans tracked checkpoint RDDs — the recorded
    * pre-checkpoint digests in plan traversal order (hashes of plans
    * with no tracked scans are unchanged from their historical values).
    */
  def of(df: DataFrame): String = {
    val plan = df.queryExecution.sparkPlan
    val canon = canonicalize(plan.toString)
    val nested = plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        Option(ckDigests.get(ckKey(r.rdd)))
    }.flatten
    val payload =
      if (nested.isEmpty) canon
      else canon + nested.mkString("\nck:[", ",", "]")
    val md = MessageDigest.getInstance("MD5")
    md.digest(payload.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
  }
}
