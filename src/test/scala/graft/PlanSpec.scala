package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterEach

import graft.queries.Registry

/** Physical-plan regression tests for the scale-critical properties the
  * README claims (100 TB posture). These lock in the *shape* of the plan,
  * not timings: a regression that reintroduces a global-window top-k, a
  * sort-merge join against a dimension table, or an unpushed filter fails
  * here long before it would show up in a benchmark at scale.
  */
class PlanSpec extends SparkSpec with BeforeAndAfterEach {
  private val dir = "/root/testdata/sf0.001"

  // each test's query ends with the test: its caches and checkpoints
  // are released, as Verify releases them after each query
  override def afterEach(): Unit = graft.core.Checkpoints.releaseAll(spark)

  private def plan(name: String): String =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q04: dimension joins broadcast, never sort-merge") {
    val p = plan("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q60: threshold join broadcasts the small side") {
    val p = plan("q60_flood_detailed")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q11: global top-k is TakeOrderedAndProject, not a global window sort") {
    val p = plan("q11_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q40: brute-force knn top-k is TakeOrderedAndProject") {
    val p = plan("q40_knn_brute")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q02: filters and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"), p)
    // a pruned ReadSchema never mentions the wide comment column
    assert(!p.contains("l_comment"), p)
    // the scan-side pipeline is whole-stage codegen'd
    assert(p.contains("*("), p)
  }

  test("q01: grouped quantiles run with map-side partial aggregation") {
    val p = plan("q01_agg_quantiles")
    assert(p.contains("partial_"), p)
  }

  test("q37: LSH candidate generation never degenerates to a cross join") {
    val p = plan("q37_minhash_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q46: banded embedding dedup never degenerates to a cross join") {
    val p = plan("q46_embedding_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q216: language-ID inference is one shuffle-free scan") {
    // classify-the-corpus must stay a per-row projection: the fused
    // LangIdScores kernel inside the scan stage, no exchange anywhere
    val p = plan("q216_lang_id")
    assert(!p.contains("Exchange"), s"lang-id gained a shuffle:\n$p")
  }

  test("q208: BPE encode is one shuffle-free codegen'd scan") {
    // the production tokenization pass must live entirely inside the
    // scan stage: no exchange of any kind, whole-stage codegen'd
    val p = plan("q208_bpe_encode")
    assert(!p.contains("Exchange"), s"bpe encode gained a shuffle:\n$p")
    assert(p.contains("*("), s"bpe encode fell out of codegen:\n$p")
  }

  test("q161: banded dHash pairing never degenerates to a cross join") {
    // the r15 weak item: the registered lambda must BE the banded scale
    // shape — an equi-join on (band index, band value), never all-pairs
    val p = plan("q161_image_dhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }


  test("q212: substring cut stays on compact/sparse keys — no cartesian") {
    val p = plan("q212_substring_cut")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // stage-1 candidate counts must group the COMPACT hash key; the
    // literal-gram verify and the per-doc mask are the only other
    // exchanges (g / doc_id) — a window-level exchange on anything else
    // means the 100 TB shuffle grew a payload
    val exKeys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+$", "")).toSet
    assert(exKeys.subsetOf(Set("hk", "g", "doc_id")),
      s"unexpected exchange keys $exKeys:\n$p")
  }

  test("q213: quant-MLP embed is one mapPartitions pass, zero exchanges") {
    val p = plan("q213_quant_mlp_embed")
    assert(!p.contains("Exchange"),
      s"batch inference gained a shuffle:\n$p")
  }

  test("q47: KMV sketch never sorts globally (per-group window only)") {
    val p = plan("q47_kmv_sketch")
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q49: top-k per group partial-aggregates, no window sort of groups") {
    val p = plan("q49_topk_per_group")
    assert(p.contains("partial_topkby"), p)
    assert(!p.contains("Window"), p)
  }

  test("q73/q78: polygon zonal assignment broadcasts candidates, never a cartesian") {
    for (name <- Seq("q73_polygon_zonal", "q78_shp_zonal")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: $p")
      assert(!p.contains("CartesianProduct"), s"$name: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: $p")
    }
  }

  test("q74: lead-time predicate prunes PARTITIONS at file listing, not just row groups") {
    val df = Registry.queries("q74_partition_pruned")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    val f = scans.head
    assert(f.partitionFilters.map(_.toString).exists(_.contains("leadtime_hour")),
      f.partitionFilters.mkString(", "))
    // the listing itself returns only the 3 selected lead-time directories
    val selected = f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
    assert(selected.length == 3, s"selected ${selected.length} partitions")
    // ... out of the 30 the layout holds
    val all = f.relation.location.listFiles(Nil, Nil)
    assert(all.length == 30, s"layout has ${all.length} partitions")
  }

  test("q91: IVF probe prunes unprobed cluster PARTITIONS at file listing") {
    val df = Registry.queries("q91_ivf_partitioned")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the partitioned-layout scan is the one whose location holds >1 dir
    val f = scans.find(_.relation.location.listFiles(Nil, Nil).length > 1)
      .getOrElse(fail(s"no partitioned scan in ${df.queryExecution.sparkPlan}"))
    assert(f.partitionFilters.map(_.toString).exists(_.contains("label")),
      f.partitionFilters.mkString(", "))
    val selected = f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
    assert(selected.length == 2, s"selected ${selected.length} partitions")
    val all = f.relation.location.listFiles(Nil, Nil)
    assert(all.length > 2, s"layout has only ${all.length} partitions")
  }

  test("q116: the corpus band index joins without shuffling (delta side only)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    // executedPlan (post-EnsureRequirements) carries the exchanges this
    // test counts; AQE off so it isn't hidden in an adaptive wrapper
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // building the query registers/reuses the bucketed index table
      Registry.queries("q116_incremental_dedup")(spark, dir)
      val idx = spark.table(
        spark.catalog.listTables().collect()
          .map(_.name).find(_.startsWith("graft_dedup_idx")).get)
      import org.apache.spark.sql.functions._
      val delta = spark.range(1000).select(
        xxhash64(col("id")).as("band_hash"), col("id").as("did"))
      val joined = delta.join(idx, Seq("band_hash"))
      val p = joined.queryExecution.executedPlan
      val smj = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"no SortMergeJoin in $p")
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // exactly ONE shuffle: the delta; the bucketed index's
      // hash-distribution on band_hash satisfies the join directly
      assert(exchanges.size == 1, s"expected only the delta to shuffle:\n$p")
      assert(smj.head.right.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"index side shuffles:\n${smj.head.right}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q153: the semdedup member index joins without shuffling (delta side only)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // building the query registers/reuses the bucketed member index
      Registry.queries("q153_semdedup_incremental")(spark, dir)
      val idx = spark.table(
        spark.catalog.listTables().collect()
          .map(_.name).find(_.startsWith("graft_semdedup_idx")).get)
      import org.apache.spark.sql.functions._
      val delta = spark.range(1000).select(
        pmod(col("id"), lit(10)).cast("long").as("cl"), col("id").as("did"))
      val joined = delta.join(idx, Seq("cl"))
      val p = joined.queryExecution.executedPlan
      val smj = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"no SortMergeJoin in $p")
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // exactly ONE shuffle: the delta; the bucketed index's
      // hash-distribution on cl satisfies the join directly
      assert(exchanges.size == 1, s"expected only the delta to shuffle:\n$p")
      assert(smj.head.right.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"index side shuffles:\n${smj.head.right}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q125: global running total plans WITHOUT a single-reducer window") {
    val p = plan("q125_running_total")
    // the range-partitioned two-pass sum lives in the upstream RDD
    // lineage (the plan shows its Scan ExistingRDD); what this pins is
    // that no WindowExec — the one-task funnel — ever re-enters the plan
    assert(!p.contains("Window"),
      s"global running sum fell back to a window (one-task funnel):\n$p")
    assert(p.contains("ExistingRDD"), p)
  }

  test("q93: bucketed tables join with no exchange and no sort on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val df = Registry.queries("q93_bucketed_join")(spark, dir)
      val p = df.queryExecution.sparkPlan
      val smj = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"no SortMergeJoin in $p")
      // both join inputs read bucketed scans directly: no shuffle, no sort
      smj.head.children.foreach { side =>
        assert(side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"join side shuffles: $side")
        assert(side.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }.isEmpty, s"join side sorts: $side")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q70: batch IVF broadcasts probes and scans the vector table once") {
    val p = plan("q70_ivf_batch")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_topkby"), p)
  }

  test("q101: feature-embed top-k is TakeOrderedAndProject with a broadcast query vector") {
    val p = plan("q101_feature_embed_sim")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q103: hot-key split tags both sides via broadcast, never a shuffle of the tag") {
    val p = plan("q103_hotkey_salted_join")
    // the hot-key set joins in as a broadcast on BOTH the left and right
    // splits (4 tag joins total: 2 sides x hot/cold filters share scans)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q105: SQ8 search is TakeOrderedAndProject over a broadcast query vector") {
    val p = plan("q105_sq8_ann")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q108: line-dedup winners join on the compact hash key, no cartesian") {
    val p = plan("q108_line_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // map-side partial aggregation on the min(doc,idx)-per-hash winners
    assert(p.contains("partial_min") || p.contains("partial min"), p)
  }

  test("q131: tf-idf never triggers the distinct Expand rewrite, no cartesian") {
    val p = plan("q131_tfidf")
    // df comes from a second agg over the already-distinct (doc, term)
    // pairs — a countDistinct in the same agg would plan an Expand that
    // doubles every exploded term row (the round-3 q47 trap)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the per-doc rank window must hash-partition, never range (global sort)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q132: chunking is a pure scan — zero exchanges") {
    val p = plan("q132_chunk_overlap")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p) // the chunk-id explode
  }

  test("q134: sliding windows partial-aggregate below the single exchange") {
    val p = plan("q134_sliding_window")
    // Spark plans the x4 window assignment as an Expand; the partial agg
    // must sit between it and the one hash exchange so the shuffle carries
    // (window, type) aggregates, not x4 event rows
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    assert(p.split("Exchange").length - 1 == 1, p)
  }

  test("q133: pair counts are partial-aggregated and top-k via TakeOrdered") {
    val p = plan("q133_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("q144: in-cluster dedup joins on the cluster key, never a cartesian") {
    object Plans extends AdaptiveSparkPlanHelper
    val ep = Registry.queries("q144_semdedup")(spark, dir)
      .queryExecution.executedPlan
    val p = ep.toString
    assert(!p.contains("CartesianProduct"),
      s"semdedup pair scan degenerated to a cartesian:\n$p")
    // the two Lloyd rounds (each a cross join against the broadcast
    // centroid table) run inside the a2 cache: the pair scan and the final
    // join read a2 as a cached relation, and no centroid join is left in
    // the query's own operators (the embedding cache `e` is scanned by
    // the Lloyd rounds too, so a bare InMemoryTableScan proves nothing)
    val cached = Plans.collect(ep) {
      case m: InMemoryTableScanExec => m.relation.output.map(_.name)
    }
    assert(cached.contains(Seq("vec_id", "vq", "vv", "cl")),
      s"a2 cache boundary missing (Lloyd rounds re-execute per consumer):\n$p")
    val lloyd = Plans.collect(ep) { case j: BroadcastNestedLoopJoinExec => j }
    assert(lloyd.isEmpty, s"a Lloyd round runs outside the a2 cache:\n$p")
  }

  test("q145: reprojection aggregates with map-side partials on the pixel key") {
    val p = plan("q145_reproject")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoop"), p)
  }

  test("q146: multimodal packing avoids the single-reducer window") {
    val p = plan("q146_multimodal_pack")
    assert(!p.contains("Window"),
      s"packing running total fell back to a window (one-task funnel):\n$p")
    assert(p.contains("ExistingRDD"), p)
  }

  test("q162: distributed bloom build + broadcast prefilter + broadcast verify") {
    val p = plan("q162_bloom_decontaminate")
    // the r15 weak item, closed: the bloom bit array is built IN-PLAN by
    // the mergeable BloomBits aggregator (partial per partition, OR
    // merge) — no driver-side collect — and reaches the train filter as
    // a SCALAR SUBQUERY (executed once, embedded as a runtime literal in
    // codegen; a crossJoin(broadcast) attach would copy the m/8-byte
    // array into every train gram row — measured +1 s at sf0.1).
    assert(p.toLowerCase.contains("bloombits"),
      s"bloom build left the plan (driver-side collect regression):\n$p")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"bloom attach is no longer a scalar subquery:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bloom attach regressed to a per-row join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"exact verify join stopped broadcasting the eval set:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // the TRAIN gram side still reaches the prefilter unshuffled: the
    // only hash exchanges are the eval-key distinct (gk — rendered twice
    // because the cached evalGk subtree feeds both the bloom build and
    // the verify join) and the final per-doc aggregation (doc_id);
    // everything else is the bounded round-robin bloom repartition or a
    // broadcast. Pin by distinct exchange KEY, not line count.
    val exKeys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exKeys.size <= 2, s"train gram scan gained extra shuffles ($exKeys):\n$p")
  }

  test("q163: classifier weights join is a broadcast, never a shuffle of features") {
    val p = plan("q163_quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"weights lookup degenerated to a sort-merge join:\n$p")
  }

  test("q166: projection is a pure scan; the gram pass partial-aggregates") {
    import org.apache.spark.sql.functions._
    // the returned frame (broadcast direction dot product) must be a
    // zero-exchange scan+project — the corpus is never reshuffled
    val p = plan("q166_pca_power")
    assert(!p.contains("Exchange"), s"projection pass gained a shuffle:\n$p")
    // the eager GramAgg pass (one fixed-size buffer, map-side combined)
    val g = graft.core.Tables.load(spark, dir, "embeddings")
      .select(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))")
        .as("qv"))
      .select(graft.functions.GramAgg(64)(col("qv")))
      .queryExecution.executedPlan.toString
    assert(g.contains("partial_"), s"GramAgg lost its map-side partial:\n$g")
  }

  test("q167: med/mad flagging joins broadcast the per-key tables") {
    val p = plan("q167_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q174: bm25 query terms and stats broadcast; top-k is TakeOrdered") {
    val p = plan("q174_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-20 fell back to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q185: only the single-row total carries a broadcast hint — " +
    "never the vocabulary-sized unigram table (unbounded at corpus scale)") {
    val df = Registry.queries("q185_pmi_collocations")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1, s"expected exactly the bign hint:\n$hints")
    assert(hints.head.child.output.map(_.name) == Seq("bign"),
      hints.head.toString)
  }

  test("q184: gopher repetition stats are scan-bound — zero shuffles") {
    val p = plan("q184_gopher_ngrams")
    assert(!p.contains("Exchange"), p)
  }

  /** The expressions of every plan that building and collecting `name`
    * executes, the eager checkpoints included, and of the cached plans
    * those read; each flagged whether it is a Filter condition.
    */
  private def executedExpressions(name: String): Seq[(Boolean, Expression)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Registry.queries(name)(spark, dir).collect()
      // listeners hear actions asynchronously, in order: once this
      // marker's action arrives, every earlier one has too
      val marker = spark.range(1)
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(marker.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker.queryExecution), "listener never heard the marker")
    } finally spark.listenerManager.unregister(listener)
    object Plans extends AdaptiveSparkPlanHelper
    def physical(p: SparkPlan): Seq[(Boolean, Expression)] = Plans.collect(p) {
      case m: InMemoryTableScanExec => physical(m.relation.cachedPlan)
      case f: FilterExec => Seq(true -> f.condition)
      case n => n.expressions.map(false -> _)
    }.flatten
    def logical(p: LogicalPlan): Seq[(Boolean, Expression)] = p.collect {
      case m: InMemoryRelation => physical(m.cachedPlan)
      case f: Filter => Seq(true -> f.condition)
      case n => n.expressions.map(false -> _)
    }.flatten
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.flatMap(qe => logical(qe.optimizedPlan))
  }

  test("q37/q147: no Filter re-evaluates the tokenizer or a higher-order function") {
    // a size(shingles) > 0 filter pushed under the projection once
    // inlined the whole shingle builder, tokenizer included, into an
    // interpreted predicate: one tokenization per shingle per doc
    for (name <- Seq("q37_minhash_dedup", "q147_corpus_curation")) {
      val exprs = executedExpressions(name)
      // the plans that build the shingles were among those heard
      assert(exprs.exists(_._2.exists(_.isInstanceOf[graft.functions.UnicodeTokens])), name)
      val bad = exprs.collect { case (true, c) => c }.filter(_.exists {
        case _: HigherOrderFunction | _: graft.functions.UnicodeTokens => true
        case _ => false
      })
      assert(bad.isEmpty, s"$name:\n${bad.mkString("\n")}")
    }
  }
}
