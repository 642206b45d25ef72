package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sql, Tables}
import graft.operators.Dedup

/** Composed training-data corpus pipeline + sketch surface. */
object PipelineQueries {

  /** The shared quality gate (q32 semantics): n_tokens/diversity from
    * ONE tokenizer evaluation, then quality + the >= 0.3 filter.
    *
    * Shape matters more than it looks (r20 optimization round,
    * measured): the naive two-withColumn + filter form lets
    * PushDownPredicates substitute the quality expression through the
    * projections into a scan-level Filter, re-inlining the tokenizer
    * kernel — unicodetokens(text) appeared FOUR times in the pushed
    * predicate plus once per projection (~3 evaluations/doc after
    * codegen CSE). One select evaluates the kernel once (per-project
    * CSE), and the typed map(identity) barrier (the q183/StreamDedup
    * pattern) is optimizer-opaque, so the filter stays ABOVE the
    * materialized n_tokens/diversity attributes. Quality-stage scan:
    * 0.62-0.74 → 0.38-0.55 s at sf0.1, identical output hashes.
    * At cluster scale the barrier costs one row ser/deser against two
    * saved tokenizer passes over every byte of text — strictly better.
    * Output columns: docs.* + n_tokens, diversity, quality.
    *
    * CALLER RULE (guide §2.3): the barrier is optimizer-opaque, so
    * column pruning stops at it — select exactly the columns the
    * pipeline needs BEFORE calling this (q39 initially paid a scan of
    * source/n_chars through the ser/deser for nothing).
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    val toks = graft.core.Tok.wordsCased(col("text"))
    // each name backtick-quoted (an embedded backtick doubled), so a
    // dotted column name resolves as itself against this Dataset, not as
    // a nested field reference
    val pre = docs.select(docs.columns.toSeq.map(n =>
        docs.col("`" + n.replace("`", "``") + "`")) ++ Seq(
      size(toks).cast("double").as("n_tokens"),
      (size(array_distinct(toks)).cast("double") /
        nullif(size(toks).cast("double"), lit(0.0))).as("diversity")): _*)
    pre.map(identity)(org.apache.spark.sql.Encoders.row(pre.schema))
      .withColumn("quality",
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          col("diversity") * 0.5)
      .filter(col("quality") >= 0.3)
  }

  /** The canonical pretraining-corpus pass, composed end-to-end: quality
    * gate → exact dedup → MinHash near-dup dedup → per-language corpus
    * stats. The oracle replays every stage in SQL, with the near-dup stage
    * as brute-force exact Jaccard (ground truth — see DedupQueries for why
    * the LSH path agrees exactly).
    */
  val q39CorpusPipeline = Q(
    "q39_corpus_pipeline",
    (s, dir) => {
      // project to the needed columns BEFORE the barrier (guide §2.3:
      // an opaque operator blocks column pruning — without this select
      // the scan read source/n_chars through the ser/deser for nothing)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      // quality gate (q32 semantics, keep+review) — script-aware word
      // seam; token-less docs get NULL diversity/quality and fail the
      // gate on both engines. One tokenizer pass via [[qualityGate]].
      val quality = qualityGate(docs)
      // exact dedup: survivor = min doc_id per digest
      // Materialized ONCE (r20 verdict item 4): minhashDedup consumes its
      // input twice — the shingle/signature cache build AND the final
      // left-anti probe — so without this the quality gate + tokenizer +
      // dedup window executed twice per pass (the r20 after-plan carried
      // the quality Project at both consumers). A plan-keyed, evictable
      // .cache() (the minhashCandidates posture — shared across bench
      // passes by plan equality) computes it once; at cluster scale this
      // is one fewer full tokenizer pass over every surviving byte.
      val exact = quality
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
        .cache()
      // near-dup dedup
      val deduped = Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8)
      deduped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          Sql.r(Sql.exactAvg(col("quality")), 4).as("avg_quality"))
    },
    Some("""
      WITH w0 AS (
        SELECT doc_id, lang, text,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS w
        FROM documents),
      g AS (
        SELECT doc_id, lang, text,
               CAST(len(w) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(w)) AS DOUBLE)
                 / nullif(len(w), 0) AS diversity
        FROM w0),
      q AS (
        SELECT *, least(n_tokens / 100.0, 1.0) * 0.5 + diversity * 0.5 AS quality
        FROM g),
      gate AS (SELECT * FROM q WHERE quality >= 0.3),
      exact AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM gate) WHERE rn = 1),
      sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, len(t)-2)]) AS sh
        FROM (SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS t FROM exact)
        WHERE len(t) >= 3),
      """ + DedupQueries.prefixCandSql("sh") + """,
      dups AS (
        SELECT DISTINCT c.bi AS doc_id
        FROM cand c JOIN sh a ON a.doc_id = c.ai
        JOIN sh b ON b.doc_id = c.bi
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.8)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(CAST(sum(CAST(quality AS DECIMAL(27,4))) AS DOUBLE)
                   / count(quality), 4) AS avg_quality
      FROM exact
      WHERE doc_id NOT IN (SELECT doc_id FROM dups)
      GROUP BY 1"""),
    headline = true)

  /** Sketch aggregates (the approx fast path the reference lacks):
    * HyperLogLog distinct counts + quantile sketches. Sketch REGISTER
    * layouts are engine-specific, so the sketch values themselves can't
    * cross the oracle — instead the job emits the exact answers plus
    * in-tolerance flags for each sketch (HLL and t-digest are
    * deterministic for fixed data, so the flags are stable), and the
    * oracle recomputes the exact side and expects every flag TRUE. A
    * sketch regression now breaks the hash gate instead of hiding behind
    * a rows-only check. Tolerances: 10% = 5× the rsd=0.02 HLL standard
    * error; the approx median must land between the exact p40 and p60.
    */
  val q43Sketches = Q(
    "q43_sketches",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // one distinct key per aggregation: Spark rewrites two distinct
      // keys in one agg into an Expand whose group order follows the
      // keys' expression-id hashes, so the plan (and its hash) changed
      // with how many expressions the JVM had made before the build
      val parts = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_ap"),
          countDistinct(col("l_partkey")).as("exact_parts"))
      li.groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("_ao"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("_amed"),
          percentile(col("l_extendedprice"), lit(0.4)).as("_p40"),
          percentile(col("l_extendedprice"), lit(0.6)).as("_p60"))
        .join(broadcast(parts), "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("_ao") - col("exact_orders")) <=
            col("exact_orders") * 0.10).as("orders_within_10pct"),
          (abs(col("_ap") - col("exact_parts")) <=
            col("exact_parts") * 0.10).as("parts_within_10pct"),
          col("_amed").between(col("_p40"), col("_p60"))
            .as("median_in_p40_p60"))
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_orderkey) AS exact_orders,
             count(DISTINCT l_partkey) AS exact_parts,
             TRUE AS orders_within_10pct,
             TRUE AS parts_within_10pct,
             TRUE AS median_in_p40_p60
      FROM lineitem GROUP BY 1"""))

  /** KMV (k-minimum-values) distinct-count sketch, k=256: a
    * cross-engine-deterministic sketch (unlike HLL, whose register layout
    * is engine-specific) built from the shared md5-derived 60-bit hash,
    * computed by the mergeable bounded-state `KmvSketch` Aggregator —
    * partials of at most k longs merge associatively map-side, so the
    * group shuffle carries k values, not every distinct hash (the
    * window/row_number formulation funnels them all to one task per
    * group). Estimate = (k-1) * 2^60 / h_(k); the exact distinct count
    * alongside shows the sketch error.
    */
  val q47KmvSketch = Q(
    "q47_kmv_sketch",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // pre-distinct the (group, key) pairs ONCE, then one partial-agged
      // pass computes sketch + exact count together. Mixing countDistinct
      // with a typed UDAF in a single agg forces Spark's distinct-rewrite
      // (Expand doubles every input row and the sketch loses its map-side
      // partial) — measured 4× slower than this two-shuffle shape.
      li.select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag")
        .agg(
          graft.functions.KmvSketch(256)(
            Dedup.md5Hash64(col("l_orderkey").cast("string")))
            .as("kmv_distinct_orders"),
          count(lit(1)).as("exact_distinct_orders"))
    },
    Some("""
      WITH h AS (
        SELECT DISTINCT l_returnflag,
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 18, 15))
                    AS BIGINT) AS h
        FROM lineitem),
      r AS (
        SELECT l_returnflag, h,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        FROM h),
      kth AS (
        SELECT l_returnflag,
               255.0 * 1152921504606846976.0 / CAST(h AS DOUBLE)
                 AS kmv_distinct_orders
        FROM r WHERE rn = 256),
      ex AS (
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS exact_distinct_orders
        FROM lineitem GROUP BY 1)
      SELECT ex.l_returnflag,
             COALESCE(kmv_distinct_orders,
                      CAST(exact_distinct_orders AS DOUBLE)) AS kmv_distinct_orders,
             exact_distinct_orders
      FROM ex LEFT JOIN kth ON kth.l_returnflag = ex.l_returnflag"""),
    headline = true)

  /** Content-defined chunking (the large-document dedup primitive):
    * chunk boundaries fall where a token's hash meets a modulus
    * condition, so insertions shift at most the neighboring chunks —
    * unlike fixed-size chunking where one edit reflows every boundary.
    * Emits per-doc chunk stats; chunk digests would feed q34-style exact
    * dedup at chunk granularity. Boundary hash is the shared md5-derived
    * hash → fully oracle-checked.
    */
  val q48CdcChunks = Q(
    "q48_cdc_chunks",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val n = size(col("toks"))
      // boundary AFTER position i when hash(tok_i) % 32 == 0
      val bounds = concat(
        array(lit(0)),
        filter(sequence(lit(1), n),
          i => Dedup.md5Hash64(element_at(col("toks"), i)) % 32L === 0L),
        array(n))
      val gaps = filter(
        transform(sequence(lit(1), size(col("bounds")) - 1),
          i => element_at(col("bounds"), i + 1) - element_at(col("bounds"), i)),
        g => g > 0)
      Tables.load(s, dir, "documents")
        .withColumn("toks", toks)
        .filter(size(col("toks")) > 0)
        .withColumn("bounds", bounds)
        .withColumn("gaps", gaps)
        .select(col("doc_id"),
          size(col("gaps")).cast("long").as("n_chunks"),
          array_max(col("gaps")).cast("long").as("max_chunk_tokens"),
          array_min(col("gaps")).cast("long").as("min_chunk_tokens"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS toks
        FROM documents),
      b AS (
        SELECT doc_id, toks,
               [0] ||
               list_filter(generate_series(1, len(toks)),
                 i -> CAST(('0x' || substr(md5(toks[i]), 18, 15)) AS BIGINT) % 32 = 0) ||
               [len(toks)] AS bounds
        FROM t WHERE len(toks) > 0),
      g AS (
        SELECT doc_id,
               list_filter(
                 [bounds[i + 1] - bounds[i]
                  for i in generate_series(1, len(bounds) - 1)],
                 x -> x > 0) AS gaps
        FROM b)
      SELECT doc_id,
             CAST(len(gaps) AS BIGINT) AS n_chunks,
             CAST(list_max(gaps) AS BIGINT) AS max_chunk_tokens,
             CAST(list_min(gaps) AS BIGINT) AS min_chunk_tokens
      FROM g"""))

  /** Top-3 orders per market segment through the mergeable bounded-state
    * `TopKBy` Aggregator — the scale form of `row_number() <= k`: the
    * group shuffle carries k rows per partial instead of window-sorting
    * whole groups on single tasks. Deterministic tie order (price desc,
    * orderkey asc) makes it oracle-exact against QUALIFY row_number.
    */
  val q49TopkPerGroup = Q(
    "q49_topk_per_group",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val topk = udaf(new graft.functions.TopKBy(3))
      val top = orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(topk(col("o_totalprice"), col("o_orderkey").cast("long")).as("top"))
      top.select(col("c_mktsegment"),
          posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("c_mktsegment"),
          (col("pos") + 1).cast("long").as("rank"),
          col("t.score").as("o_totalprice"),
          col("t.id").as("o_orderkey"))
    },
    Some("""
      SELECT c_mktsegment,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank,
             o_totalprice,
             CAST(o_orderkey AS BIGINT) AS o_orderkey
      FROM orders JOIN customer ON o_custkey = c_custkey
      QUALIFY rank <= 3"""))

  /** Work-item fan-out under the hash gate (reference: the sentinel GPU
    * upscaling fan-out, upscaling.py:16-61 via client.submit,
    * dask_resource.py:34-38). A work-item table — one id per distinct
    * part brand:type/size, standing in for one id per Sentinel-2 tile —
    * goes through WorkItems.fanOut at parallelism 32, where the task
    * body is the external-tool seam: here a deterministic pure-JVM
    * stand-in (md5 of the item id, as an output-artifact digest), with
    * items of one type class throwing to exercise the per-item failure
    * capture the reference gets from op-level retries (jobs.py:9-11).
    * The oracle replays both the digest and the captured failure rows in
    * SQL, so the fan-out runtime path itself is hash-gated.
    */
  val q109WorkItems = Q(
    "q109_work_items",
    (s, dir) => {
      import s.implicits._
      val items = Tables.load(s, dir, "part")
        .select(concat(col("p_brand"), lit(":"), col("p_type"), lit("/"),
          col("p_size").cast("string")).as("item"))
        .distinct()
        .as[String]
      graft.operators.WorkItems.fanOut(items, parallelism = 32) { item =>
        if (item.contains("BURNISHED"))
          throw new RuntimeException(s"no codec for BURNISHED finish: $item")
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(item.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }.toDF()
    },
    Some("""
      SELECT item,
             NOT contains(item, 'BURNISHED') AS ok,
             CASE WHEN contains(item, 'BURNISHED') THEN ''
                  ELSE md5(item) END AS outcome,
             CASE WHEN contains(item, 'BURNISHED')
                  THEN 'no codec for BURNISHED finish: ' || item
                  ELSE '' END AS error
      FROM (SELECT DISTINCT p_brand || ':' || p_type || '/' ||
              CAST(p_size AS VARCHAR) AS item FROM part)"""))

  /** The COMPLETE corpus-curation job, composed as one DAG — every
    * hygiene stage a pretraining data pipeline actually chains, in
    * order: quality gate (q32) → exact dedup (q34) → MinHash near-dup
    * dedup (q37, banded LSH) → eval-set decontamination (q84, shared
    * 3-grams on hashed keys) → token-budget selection (q137, quality
    * rank through the distributed PrefixSum, keep the best 50% of
    * tokens). Output is the final training manifest. Each stage's
    * scale shape is individually pinned by its own query; this gate
    * proves the COMPOSITION (survivor sets feeding each other) against
    * an oracle that replays all five stages in SQL with the near-dup
    * stage as brute-force exact Jaccard ground truth.
    */
  /** The COMPLETE five-stage curation DAG over any (doc_id, lang, text)
    * frame — q147's registered plan, shared with the CJK-suffixed q214
    * (the r17 verdict's adoption gate: the SAME production pipeline must
    * do real work on a mixed-script corpus), with an explicit EVAL-SPLIT
    * predicate. There is deliberately NO default split: the fixed %199
    * form the family used through r19 saturates gram containment on the
    * small-vocab fixture at sf1 (~250 eval docs cover ~30% of the gram
    * space; the manifest degenerates to ~1 row and the gate goes
    * vacuous) — every caller must pass [[hashEvalPred]] or an
    * equivalently non-degenerate predicate.
    */
  def curationPipeline(docs: DataFrame,
      evalPred: Column): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // 1: quality gate (q39's exact semantics; one tokenizer pass via
      // the shared [[qualityGate]] barrier shape)
      val quality = qualityGate(docs)
      // 2: exact dedup — survivor = min doc_id per digest
      // .cache(): minhashDedup consumes `exact` twice (shingle table
      // build + left-anti probe) — without it the quality gate +
      // tokenizer + dedup window ran twice per pass (r20 verdict item 4;
      // same fix as q39). Plan-keyed and evictable, exactly like the
      // shingle/signature caches minhashCandidates already registers.
      val exact = quality
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
        .cache()
      // 3: near-dup dedup (banded MinHash LSH). Cached: the survivor
      // set feeds BOTH the decontamination gram scan and the final
      // left-anti join — without it the whole quality→exact→LSH prefix
      // re-executes per consumer (measured 26.4 → 12.1 s at sf0.1)
      val near = Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8)
        .cache()
      // 4: decontamination — eval split = doc_id % 199 == 0 of the RAW
      // corpus (an eval set is external; it never went through the gate)
      def grams(df: org.apache.spark.sql.DataFrame) =
        Dedup.wordGramKeys(df, "doc_id", "text")
      val evalGrams = grams(docs.filter(evalPred))
        .select("gk").distinct()
      val trainSide = near.filter(!evalPred)
      val contaminated = grams(trainSide).join(evalGrams, "gk")
        .select("doc_id").distinct()
      // consumed by PrefixSum staging AND the total-tokens aggregate
      val clean = trainSide.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"))
        .cache()
      // 5: token budget — best-quality docs until 50% of surviving tokens
      val withCum = graft.operators.PrefixSum.runningSum(
        clean, Seq(col("quality").desc, col("doc_id").asc),
        col("n_tokens"), "cum_tokens")
      // summed from `clean`, not from the running sum (same value): the
      // running sum is a checkpoint, and this scan is what keeps the
      // curation lineage in the final plan and so in its fingerprint
      val total = clean.agg(sum("n_tokens").as("total_tokens"))
      withCum.crossJoin(broadcast(total))
        .filter(col("cum_tokens") * 2 <= col("total_tokens"))
        .select(col("doc_id"), col("lang"),
          round(col("quality"), 6).as("quality"),
          col("n_tokens"), col("cum_tokens"))
  }

  /** The q147 oracle parameterized over the corpus relation — shared
    * with q214's CJK-suffixed corpus. `docsSql` must yield
    * (doc_id, lang, text).
    *
    * sf1 oracle-cost posture (r18 verdict item 8 — measured on the
    * CJK-suffixed q214 corpus at sf1): tokenize ONCE into a
    * MATERIALIZED CTE (the raw form re-ran the regex 4×), and compare
    * shingles/grams as md5Hash64 BIGINTs instead of literal CJK
    * strings — the 6.4M-candidate exact-Jaccard verify dominated at
    * 862 s with per-pair string-list intersects, 319 s with hashed
    * lists, ~190 s with the RELATIONAL verify below (unnest + two hash
    * joins + group — identical dups set, measured) — and the hashed
    * key is exactly the ENGINE's own shingle/gram key
    * (Dedup.md5Hash64), the q156/q84 oracle posture.
    */
  /** The oracle with an explicit eval-split predicate over doc_id
    * (must be the SQL twin of the Spark predicate; no %199 default —
    * see [[curationPipeline]]).
    */
  def curationOracleSql(docsSql: String, evalPredSql: String): String = {
    val gm60 = "CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || " +
      "w[i+2]), 18, 15) AS BIGINT)"
    """
      WITH docs0 AS MATERIALIZED (""" + docsSql + """),
      tok0 AS MATERIALIZED (
        SELECT doc_id, lang, text,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS wcs,
               """ + graft.core.Tok.sqlWords("text") + """ AS wlo
        FROM docs0),
      g AS (
        SELECT doc_id, lang, text,
               CAST(len(wcs) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(wcs)) AS DOUBLE)
                 / nullif(len(wcs), 0) AS diversity
        FROM tok0),
      q AS (
        SELECT *, least(n_tokens / 100.0, 1.0) * 0.5 + diversity * 0.5 AS quality
        FROM g),
      gate AS (SELECT * FROM q WHERE quality >= 0.3),
      exact AS MATERIALIZED (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM gate) WHERE rn = 1),
      sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([CAST('0x' || substr(md5(
                                array_to_string(t[i:i+2], ' ')), 18, 15)
                                AS BIGINT)
                              for i in generate_series(1, len(t)-2)]) AS sh
        FROM (SELECT e.doc_id, k.wlo AS t
              FROM exact e JOIN tok0 k USING (doc_id))
        WHERE len(t) >= 3),
      """ + DedupQueries.prefixCandSql("sh") + """,
      ex2 AS (SELECT doc_id, unnest(sh) AS h FROM sh),
      pairg AS (
        SELECT c.ai, c.bi, count(*) AS inter
        FROM cand c
        JOIN ex2 a ON a.doc_id = c.ai
        JOIN ex2 b ON b.doc_id = c.bi AND b.h = a.h
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
      dups AS (
        SELECT DISTINCT p.bi AS doc_id
        FROM pairg p JOIN sizes x ON x.doc_id = p.ai
        JOIN sizes y ON y.doc_id = p.bi
        WHERE CAST(p.inter AS DOUBLE) / (x.n + y.n - p.inter) >= 0.8),
      near AS MATERIALIZED (
        SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
      evg AS (
        SELECT DISTINCT unnest(list_distinct(
                 [""" + gm60 + """
                  for i in range(1, len(w) - 1)])) AS gm
        FROM (SELECT wlo AS w FROM tok0 WHERE """ + evalPredSql + """)
        WHERE len(w) >= 3),
      cont AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id, unnest(list_distinct(
                   [""" + gm60 + """
                    for i in range(1, len(w) - 1)])) AS gm
          FROM (SELECT n.doc_id, k.wlo AS w
                FROM near n JOIN tok0 k USING (doc_id)
                WHERE NOT (""" + evalPredSql + """))
          WHERE len(w) >= 3)
        WHERE gm IN (SELECT gm FROM evg)),
      clean AS (
        SELECT doc_id, lang, quality, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM near
        WHERE NOT (""" + evalPredSql + """) AND doc_id NOT IN (SELECT doc_id FROM cont)),
      c AS (
        SELECT doc_id, lang, quality, n_tokens,
               sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM clean)
      SELECT doc_id, lang, round(quality, 6) AS quality, n_tokens,
             CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c WHERE cum_tokens * 2 <= (SELECT sum(n_tokens) FROM clean)"""
  }

  /** The q221-style SIZE-ADAPTIVE eval split, now the curation
    * family's default (r20, verdict item 2): the fixed %199 split's
    * eval-doc count grows linearly with the corpus and saturates gram
    * containment on the small-vocab fixture at sf1 (~250 eval docs ≈
    * 30% of the gram space ⇒ every train doc contaminated ⇒ a ~1-row
    * manifest — a vacuous gate). This split targets a CONSTANT ~10
    * eval docs at any corpus size: doc joins the eval set iff
    * md5Hash64(doc_id·'_ev') % 2^20 < ceil(10·2^20 / n). For an
    * integer x, x < ceil(A / n) holds exactly when x·n < A, so the plan
    * tests x·n < 10·2^20 with n a scalar subquery over the documents
    * table (the q162 `bloom.scalar()` pattern), and x < 2^20 keeps the
    * product a long for n < 2^43. No driver-side count is kept: every
    * physical plan that evaluates the predicate runs the count as its
    * own subquery (ReuseSubquery shares it within one plan), so a
    * curation build runs the count once in each cached plan that
    * evaluates it.
    */
  def hashEvalPred(n: Column): Column =
    pmod(graft.operators.Dedup.md5Hash64(
      concat(col("doc_id").cast("string"), lit("_ev"))),
      lit(1048576L)) * n < 10L * 1048576L

  /** Row count of the documents table as a scalar-subquery column. */
  def nDocuments(s: SparkSession, dir: String): Column =
    Tables.load(s, dir, "documents").select(count(lit(1))).scalar()

  /** SQL twin of [[hashEvalPred]] with n as a scalar subquery over the
    * raw documents table (the docs relation every curation corpus here
    * derives from 1:1, so the counts agree by construction).
    */
  val hashEvalPredSql: String =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_ev'), 18, 15) " +
      "AS BIGINT) % 1048576 < (10 * 1048576 + " +
      "(SELECT count(*) FROM documents) - 1) // " +
      "(SELECT count(*) FROM documents)"

  /** The COMPLETE corpus-curation job, composed as one DAG — every
    * hygiene stage a pretraining data pipeline actually chains, in
    * order: quality gate (q32) → exact dedup (q34) → MinHash near-dup
    * dedup (q37, banded LSH) → eval-set decontamination (q84, shared
    * 3-grams on hashed keys) → token-budget selection (q137, quality
    * rank through the distributed PrefixSum, keep the best 50% of
    * tokens). Output is the final training manifest. Each stage's
    * scale shape is individually pinned by its own query; this gate
    * proves the COMPOSITION (survivor sets feeding each other) against
    * an oracle that replays all five stages in SQL with the near-dup
    * stage as brute-force exact Jaccard ground truth.
    *
    * Since r20 the eval split is the size-adaptive hash split (it was
    * the fixed %199 — vacuous at sf1, see [[hashEvalPred]]); this
    * absorbs r19's q221_curation_hashsplit, which existed only to
    * carry the fixed split's non-degenerate twin and became identical
    * to the migrated q147.
    */
  val q147CorpusCuration = Q(
    "q147_corpus_curation",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      curationPipeline(docs, hashEvalPred(nDocuments(s, dir)))
    },
    Some(curationOracleSql(
      "SELECT doc_id, lang, text FROM documents", hashEvalPredSql)),
    headline = true)

  /** r19's q221 restored as an explicit registry alias of q147's code
    * path (r20 verdict item 1): once the whole curation family migrated
    * to the size-adaptive hash split, the fixed-%199 twin this query
    * existed to carry became byte-identical to q147 and the name was
    * retired — but the verified registry is a CONTRACT, and a name that
    * passed in one round must not vanish from the next. Same lambda,
    * same oracle text (an oracle-cache hit by construction); not
    * headline — q147 carries the bench slot for this plan.
    */
  val q221CurationHashsplit = Q(
    "q221_curation_hashsplit",
    q147CorpusCuration.run,
    q147CorpusCuration.oracle)

  /** The SAME five-stage curation pipeline over the CJK-suffixed
    * mixed-script corpus (q210's synthesized fixture — deterministic
    * Han/Hiragana/Katakana/Thai suffixes keyed by doc_id % 5): the r17
    * verdict's adoption gate. Under the legacy `\s+` seam each suffix
    * was ONE token and the dedup shingles / decontamination grams /
    * quality diversity silently ignored it; with the script-aware
    * default seam the suffixes contribute real singleton-token grams on
    * BOTH engines — the oracle replays tokenization, LSH ground truth,
    * gram containment and the budget over the same synthesized text.
    */
  val q214UnicodeCuration = Q(
    "q214_unicode_curation",
    (s, dir) => {
      // Only TRAIN-side docs carry a CJK suffix; the eval split stays
      // plain — it models an EXTERNAL plain-text benchmark set. With
      // suffixed eval docs the 5 shared snippets made decontamination
      // ALL-CATCHING once the eval ids covered all 5 suffix classes
      // (≥ sf0.1), collapsing the manifest to 0 rows at exactly the
      // SFs that matter (r19 find — both engines agreed, so the gate
      // passed vacuously). Since r20 the split is the size-adaptive
      // hash split (hashEvalPred — the %199 form was vacuous at sf1).
      val sn = array(TextOps.unicodeSnippets.map(lit): _*)
      val docs = Tables.load(s, dir, "documents")
      val ev = hashEvalPred(nDocuments(s, dir))
      curationPipeline(docs
        .select(col("doc_id"), col("lang"),
          when(ev, col("text"))
            .otherwise(concat(col("text"), lit(" "),
              element_at(sn, (col("doc_id") % 5).cast("int") + 1)))
            .as("text")),
        ev)
    },
    Some(curationOracleSql(
      s"SELECT doc_id, lang, CASE WHEN $hashEvalPredSql THEN text " +
        "ELSE text || ' ' || (" + TextOps.unicodeSnippetSqlArray +
        ")[CAST(doc_id % 5 AS INT) + 1] END AS text FROM documents",
      hashEvalPredSql)),
    // headline since r19 (verdict item 7): the bench set's script-aware-
    // seam canary — the full curation DAG over the mixed-script corpus
    headline = true)

  /** The curation DAG with the UNALIGNED exact-substring cut composed in
    * (q212 → production posture, the r17 verdict item): quality gate →
    * exact dedup → MinHash near-dup dedup → corpus-wide ≥24-char
    * substring-cut stats over the SURVIVORS (dedup first, so exact
    * copies don't inflate substring counts) → eval-gram decontamination
    * → per-lang funnel manifest. A survivor is accepted when its cut
    * coverage stays ≤ 20% of its chars (exact integers: ncc·5 ≤ chars)
    * AND it carries no eval gram. The oracle replays every stage —
    * brute-force exact Jaccard ground truth for the LSH stage, literal
    * 24-gram counts/owners for the cut — so the composition itself is
    * hash-gated. Scale shape: each stage is individually pinned (q39 /
    * q34 / q37 / q212 / q84); the composition adds only sparse per-doc
    * left joins on doc_id.
    */
  /** 4-stage funnel counts (arrived → quality gate → exact dedup →
    * MinHash near-dup) over a docs relation, as ONE row — wrapped in
    * its own parenthesized WITH so two corpus variants can union in a
    * single oracle statement (CTE names scope per subquery).
    */
  // MAINTENANCE COUPLING: the stage CTEs below (quality gate → exact
  // dedup → LSH ground truth) textually mirror the prefix of
  // curationOracleSql — a semantics change to the curation stages must
  // land in BOTH builders (q225's 2·nfc=raw closed form is invariant
  // to many such drifts, so a one-sided edit would NOT necessarily
  // trip its gate). Not factored because the emitted texts are
  // oracle-cache keys: rewriting curationOracleSql's text invalidates
  // every cached curation oracle at every SF.
  private def funnelCountsSql(docsSql: String): String = """
      (WITH docs0 AS MATERIALIZED (""" + docsSql + """),
      tok0 AS MATERIALIZED (
        SELECT doc_id, text,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS wcs,
               """ + graft.core.Tok.sqlWords("text") + """ AS wlo
        FROM docs0),
      g AS (
        SELECT doc_id, text,
               CAST(len(wcs) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(wcs)) AS DOUBLE)
                 / nullif(len(wcs), 0) AS diversity
        FROM tok0),
      q AS (
        SELECT *, least(n_tokens / 100.0, 1.0) * 0.5 + diversity * 0.5 AS quality
        FROM g),
      gate AS (SELECT * FROM q WHERE quality >= 0.3),
      exact AS MATERIALIZED (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM gate) WHERE rn = 1),
      sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([CAST('0x' || substr(md5(
                                array_to_string(t[i:i+2], ' ')), 18, 15)
                                AS BIGINT)
                              for i in generate_series(1, len(t)-2)]) AS sh
        FROM (SELECT e.doc_id, k.wlo AS t
              FROM exact e JOIN tok0 k USING (doc_id))
        WHERE len(t) >= 3),
      """ + DedupQueries.prefixCandSql("sh") + """,
      ex2 AS (SELECT doc_id, unnest(sh) AS h FROM sh),
      pairg AS (
        SELECT c.ai, c.bi, count(*) AS inter
        FROM cand c
        JOIN ex2 a ON a.doc_id = c.ai
        JOIN ex2 b ON b.doc_id = c.bi AND b.h = a.h
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
      dups AS (
        SELECT DISTINCT p.bi AS doc_id
        FROM pairg p JOIN sizes x ON x.doc_id = p.ai
        JOIN sizes y ON y.doc_id = p.bi
        WHERE CAST(p.inter AS DOUBLE) / (x.n + y.n - p.inter) >= 0.8),
      near AS (
        SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dups))
      SELECT (SELECT count(*) FROM docs0) AS n_arrived,
             (SELECT count(*) FROM gate) AS n_quality,
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM near) AS n_near)"""

  /** q225: NFC normalization made LOAD-BEARING in curation (r19
    * verdict item 4 — q218 witnessed the expression; no production
    * path normalized). Corpus: a hash-sampled quarter of `documents`,
    * each base text emitted TWICE — composed form (every 'e' →
    * U+00E9) under doc_id·2, and canonically-equivalent DECOMPOSED
    * form (every 'e' → 'e' U+0301) under doc_id·2+1 (a sentinel
    * 'zebre' token guarantees ≥1 substitution per doc). The query
    * runs the quality → exact-dedup → near-dup funnel twice — once
    * with [[graft.functions.NfcNormalize]] composed at the Tok seam,
    * once raw — and emits both funnels' counts. Closed form (spec-
    * pinned): under NFC every decomposed copy is an exact duplicate
    * of its composed twin, so 2·n_exact(nfc) = n_exact(raw) — skipping
    * NFC provably changes the funnel. The oracle replays
    * nfc_normalize-then-tokenize with DuckDB's utf8proc (a second
    * independent UAX #15 implementation, the q218 posture) and the
    * full LSH ground truth for both variants. Source literals are
    * \u-escaped (the r19 rule: raw decomposed text can be silently
    * recomposed by tooling).
    */
  val q225CurationNfc = Q(
    "q225_curation_nfc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(s, dir, "documents")
        .filter(pmod(graft.operators.Dedup.md5Hash64(
          concat(col("doc_id").cast("string"), lit("_nfc"))), lit(4L)) === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" zebre")).as("text"))
      val composed = base.select((col("doc_id") * 2).as("doc_id"),
        call_function("replace", col("text"), lit("e"), lit("\u00e9"))
          .as("text"))
      val decomposed = base.select((col("doc_id") * 2 + 1).as("doc_id"),
        call_function("replace", col("text"), lit("e"), lit("e\u0301"))
          .as("text"))
      val pair = composed.unionByName(decomposed)
      def funnel(docs: org.apache.spark.sql.DataFrame, tag: String) = {
        // quality: counted AND windowed; exact: counted AND consumed
        // twice by minhashDedup — cached, each stage's tokenizer/window
        // work runs once per variant (the q39/q147 r21 fix)
        val quality = qualityGate(docs).cache()
        val exact = quality
          .withColumn("rn", row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
          .filter(col("rn") === 1).drop("rn")
          .cache()
        val near = Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8)
        docs.agg(count(lit(1)).as("n_arrived"))
          .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .crossJoin(near.agg(count(lit(1)).as("n_near")))
          .select(lit(tag).as("variant"), col("n_arrived"),
            col("n_quality"), col("n_exact"), col("n_near"))
      }
      funnel(pair.withColumn("text",
          graft.functions.NfcNormalize(col("text"))), "nfc")
        .unionByName(funnel(pair, "raw"))
    },
    Some {
      val baseSql =
        "SELECT doc_id, text || ' zebre' AS text FROM documents " +
          "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || " +
          "'_nfc'), 18, 15) AS BIGINT) % 4 = 0"
      val pairSql =
        s"SELECT doc_id * 2 AS doc_id, replace(text, 'e', chr(233)) " +
          s"AS text FROM ($baseSql) " +
          "UNION ALL " +
          s"SELECT doc_id * 2 + 1 AS doc_id, replace(text, 'e', " +
          s"'e' || chr(769)) AS text FROM ($baseSql)"
      val nfcSql =
        s"SELECT doc_id, nfc_normalize(text) AS text FROM ($pairSql)"
      s"""
      SELECT 'nfc' AS variant, * FROM ${funnelCountsSql(nfcSql)}
      UNION ALL
      SELECT 'raw' AS variant, * FROM ${funnelCountsSql(pairSql)}"""
    })

  val q215CurationSubstr = Q(
    "q215_curation_substr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // eval split (doc_id % 199 == 0) is external — never part of the
      // arriving corpus, only the decontamination reference
      val all = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val docs = all.filter(col("doc_id") % 199 =!= 0)
      // quality feeds the exact-dedup window AND the funnel's left join
      // (:835); exact feeds minhashDedup's two consumers — cache both so
      // the tokenizer pass and the dedup window each run ONCE per
      // invocation (r20 verdict item 4, the q39/q147 fix; previously 3
      // full tokenize executions per pass)
      val quality = qualityGate(docs).cache()
      val exact = quality
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
        .cache()
      // survivor set feeds the cut scan, the gram scan AND the final
      // joins — cache it (the q147 lesson)
      val near = Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"), col("lang"), col("text"))
        .cache()
      val cutStats = graft.operators.SubstrDedup.cutStats(near, "doc_id", "text")
        .select(col("doc_id"), col("n_chars_cut"))
      val evalGrams = Dedup.wordGramKeys(
          all.filter(col("doc_id") % 199 === 0), "doc_id", "text")
        .select("gk").distinct()
      val contaminated = Dedup.wordGramKeys(near, "doc_id", "text")
        .join(evalGrams, "gk")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"))
        .join(quality.select(col("doc_id"), lit(true).as("q")), Seq("doc_id"), "left")
        .join(near.select(col("doc_id"), lit(true).as("uniq")), Seq("doc_id"), "left")
        .join(cutStats, Seq("doc_id"), "left")
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("lang"),
          coalesce(col("q"), lit(false)).as("q"),
          coalesce(col("uniq"), lit(false)).as("uniq"),
          (coalesce(col("n_chars_cut"), lit(0L)) * 5 <= col("n_chars"))
            .as("lowcut"),
          coalesce(col("contaminated"), lit(false)).as("cont"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_arrived"),
          sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"),
          sum(when(col("uniq") && col("lowcut"), 1L).otherwise(0L))
            .as("n_lowcut"),
          sum(when(col("uniq") && col("lowcut") && !col("cont"), 1L)
            .otherwise(0L)).as("n_accepted"))
    },
    Some("""
      WITH w0 AS (
        SELECT doc_id, lang, text,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS w
        FROM documents WHERE doc_id % 199 <> 0),
      g AS (
        SELECT doc_id, lang, text,
               CAST(len(w) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(w)) AS DOUBLE)
                 / nullif(len(w), 0) AS diversity
        FROM w0),
      q AS (
        SELECT *, least(n_tokens / 100.0, 1.0) * 0.5 + diversity * 0.5 AS quality
        FROM g),
      gate AS (SELECT * FROM q WHERE quality >= 0.3),
      exact AS MATERIALIZED (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM gate) WHERE rn = 1),
      sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([CAST('0x' || substr(md5(
                                array_to_string(t[i:i+2], ' ')), 18, 15)
                                AS BIGINT)
                              for i in generate_series(1, len(t)-2)]) AS sh
        FROM (SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS t FROM exact)
        WHERE len(t) >= 3),
      """ + DedupQueries.prefixCandSql("sh") + """,
      ex2 AS (SELECT doc_id, unnest(sh) AS h FROM sh),
      pairg AS (
        SELECT c.ai, c.bi, count(*) AS inter
        FROM cand c
        JOIN ex2 a ON a.doc_id = c.ai
        JOIN ex2 b ON b.doc_id = c.bi AND b.h = a.h
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
      dups AS (
        SELECT DISTINCT p.bi AS doc_id
        FROM pairg p JOIN sizes x ON x.doc_id = p.ai
        JOIN sizes y ON y.doc_id = p.bi
        WHERE CAST(p.inter AS DOUBLE) / (x.n + y.n - p.inter) >= 0.8),
      near AS MATERIALIZED (
        SELECT doc_id, lang, text FROM exact
        WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
      pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 22, 1))) AS i
        FROM near),
      wins AS (
        SELECT doc_id, i AS p, substr(text, CAST(i AS INT), 24) AS g24
        FROM pos),
      ver AS MATERIALIZED (
        SELECT g24, min(doc_id * 1048576 + p) AS owner
        FROM wins GROUP BY g24 HAVING count(*) >= 2),
      cuts AS (
        SELECT w.doc_id, w.p FROM wins w JOIN ver v ON w.g24 = v.g24
        WHERE w.doc_id * 1048576 + w.p <> v.owner),
      cov AS (
        SELECT doc_id,
               len(list_distinct(flatten(list_transform(list(p),
                 p -> range(p, p + 24))))) AS ncc
        FROM cuts GROUP BY doc_id),
      evg AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(gm), 18, 15)) AS BIGINT) AS gk
        FROM (
          SELECT unnest(list_distinct(
                   [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                    for i in range(1, len(w) - 1)])) AS gm
          FROM (SELECT """ + graft.core.Tok.sqlWords("text") + """ AS w
                FROM documents WHERE doc_id % 199 = 0)
          WHERE len(w) >= 3)),
      cont AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(gm), 18, 15)) AS BIGINT) AS gk
          FROM (
            SELECT doc_id, unnest(list_distinct(
                     [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                      for i in range(1, len(w) - 1)])) AS gm
            FROM (SELECT doc_id,
                         """ + graft.core.Tok.sqlWords("text") + """ AS w
                  FROM near)
            WHERE len(w) >= 3))
        WHERE gk IN (SELECT gk FROM evg)),
      m AS (
        SELECT d.doc_id, d.lang,
               gt.doc_id IS NOT NULL AS q,
               n.doc_id IS NOT NULL AS uniq,
               coalesce(c.ncc, 0) * 5 <= length(d.text) AS lowcut,
               ct.doc_id IS NOT NULL AS cont
        FROM w0 d
        LEFT JOIN gate gt ON gt.doc_id = d.doc_id
        LEFT JOIN near n ON n.doc_id = d.doc_id
        LEFT JOIN cov c ON c.doc_id = d.doc_id
        LEFT JOIN cont ct ON ct.doc_id = d.doc_id)
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_arrived,
             CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             CAST(sum(CASE WHEN uniq AND lowcut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lowcut,
             CAST(sum(CASE WHEN uniq AND lowcut AND NOT cont
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
      FROM m GROUP BY 1"""))

  /** Training-mixture apportionment: a global token budget (half the
    * corpus) split across sources in EXACT proportion to their token
    * mass by the largest-remainder (Hamilton) method — floor the scaled
    * quota, then award the leftover +1s by descending remainder with a
    * deterministic source tiebreak — and then filled within each source
    * by quality rank until the per-source allocation is exhausted. This
    * is the "data mixing" step of corpus assembly (per-source sampling
    * ratios), done in exact integer arithmetic so the allocation is
    * bit-replayable: quotas are B·T_s div T with exact long remainders,
    * never floating shares. Scale shape: one per-source aggregate (20
    * rows) drives everything; the apportionment happens on that tiny
    * broadcast table, and the per-source fill is a partitioned window
    * (sort within source), so the corpus is scanned twice and shuffled
    * once — no global sort, no driver loop.
    */
  val q168MixtureBudget = Q(
    "q168_mixture_budget",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(graft.core.Tok.words(col("text"))).cast("long").as("n_tokens"),
          pmod(Dedup.md5Hash64(concat(lit("q_"), col("doc_id").cast("string"))),
            lit(1000L)).as("quality"))
      val bySrc = d.groupBy("source").agg(sum("n_tokens").as("t_s"))
      val tot = bySrc.agg(sum("t_s").as("t"))
      val withTot = bySrc.crossJoin(broadcast(tot))
        .withColumn("b", expr("t div 2"))
        .withColumn("base", expr("(b * t_s) div t"))
        .withColumn("rem", expr("b * t_s - ((b * t_s) div t) * t"))
      val lft = withTot.agg((max("b") - sum("base")).as("l"))
      val alloc = withTot.crossJoin(broadcast(lft))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"),
          (col("base") + when(col("rk") <= col("l"), 1L).otherwise(0L))
            .as("alloc_tokens"))
      val takenAgg = d.join(broadcast(alloc), "source")
        .withColumn("cum", sum("n_tokens").over(
          Window.partitionBy("source")
            .orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= col("alloc_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_taken"), sum("n_tokens").as("tokens_taken"))
      alloc.join(takenAgg, Seq("source"), "left")
        .select(col("source"), col("alloc_tokens"),
          coalesce(col("n_docs_taken"), lit(0L)).as("n_docs_taken"),
          coalesce(col("tokens_taken"), lit(0L)).as("tokens_taken"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(""" + graft.core.Tok.sqlWords("text") + """) AS BIGINT) AS n_tokens,
               CAST('0x' || substr(md5('q_' || doc_id), 18, 15) AS BIGINT)
                 % 1000 AS quality
        FROM documents),
      bysrc AS (SELECT source, sum(n_tokens) AS t_s FROM d GROUP BY 1),
      tot AS (SELECT sum(t_s) AS t FROM bysrc),
      wt AS (
        SELECT source, t_s, t, t // 2 AS b,
               ((t // 2) * t_s) // t AS base,
               (t // 2) * t_s - (((t // 2) * t_s) // t) * t AS rem
        FROM bysrc, tot),
      lft AS (SELECT max(b) - sum(base) AS l FROM wt),
      ranked AS (
        SELECT source, base, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM wt),
      alloc AS (
        SELECT r.source,
               CAST(r.base + CASE WHEN r.rk <= l.l THEN 1 ELSE 0 END AS BIGINT)
                 AS alloc_tokens
        FROM ranked r, lft l),
      cum AS (
        SELECT d.doc_id, d.source, d.n_tokens, a.alloc_tokens,
               sum(d.n_tokens) OVER (
                 PARTITION BY d.source ORDER BY d.quality DESC, d.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d JOIN alloc a ON d.source = a.source),
      takenagg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs_taken,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_taken
        FROM cum WHERE cum <= alloc_tokens GROUP BY 1)
      SELECT a.source, a.alloc_tokens,
             coalesce(t.n_docs_taken, 0) AS n_docs_taken,
             coalesce(t.tokens_taken, 0) AS tokens_taken
      FROM alloc a LEFT JOIN takenagg t USING (source)"""))

  /** Temperature-flattened training mixture (τ = 1/2) with
    * data-constrained epoch counts — the sampling-weight scheme the
    * Gopher/Pile recipes use to keep huge sources from drowning small
    * ones: source weights are tokens^τ rather than tokens. τ = 1/2 is
    * chosen because it is EXACT cross-engine: w_s = floor(sqrt(T_s)) —
    * IEEE-754 requires sqrt to be correctly rounded, so both engines
    * compute the identical double and the identical floor (T_s ≪ 2^52).
    * The budget (half the corpus) then apportions over the flattened
    * weights by the same largest-remainder method as q168, and each
    * source reports its repeat factor epochs_milli = alloc·1000 div T_s
    * (>1000 ⇔ the source must be repeated — the data-constrained-
    * scaling signal; Muennighoff et al. 2023). Exactness bound: B·w
    * must stay below 2^63 — the τ = 1/2 flattening widens q168's own
    * B·T_s bound by the sqrt, to ~10¹² source tokens at a half-corpus
    * budget. Scale shape: ONE per-source aggregate drives everything;
    * the apportionment runs on that tiny table.
    */
  /** The q205 plan over any (source, text) frame — shared with
    * TextMacroBench's temperature_mix arm so the macro exercises the
    * REGISTERED pipeline at 3M docs.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("source"),
        size(graft.core.Tok.words(col("text"))).cast("long").as("n_tokens"))
    val bySrc = d.groupBy("source").agg(sum("n_tokens").as("t_s"))
    val tot = bySrc.agg(sum("t_s").as("t"))
    val wts = bySrc
      .withColumn("w", floor(sqrt(col("t_s").cast("double"))).cast("long"))
    val wtot = wts.agg(sum("w").as("wsum"))
    val withTot = wts.crossJoin(broadcast(tot)).crossJoin(broadcast(wtot))
      .withColumn("b", expr("t div 2"))
      .withColumn("base", expr("(b * w) div wsum"))
      .withColumn("rem", expr("b * w - ((b * w) div wsum) * wsum"))
    val lft = withTot.agg((max("b") - sum("base")).as("l"))
    withTot.crossJoin(broadcast(lft))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("t_s").as("n_tokens"),
        col("w").as("weight"),
        (col("base") + when(col("rk") <= col("l"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      // nullif guards the all-empty-documents source (t_s = 0, weight
      // 0): NULL epochs instead of an ANSI divide-by-zero crash on
      // Spark / `// 0` error on DuckDB (r15 advice) — data-dependent
      // totality, not a fixture assumption
      .withColumn("epochs_milli",
        expr("(alloc_tokens * 1000) div nullif(n_tokens, 0)"))
  }

  val q205TemperatureMix = Q(
    "q205_temperature_mix",
    (s, dir) => temperatureMix(Tables.load(s, dir, "documents")),
    Some("""
      WITH d AS (
        SELECT source,
               CAST(len(""" + graft.core.Tok.sqlWords("text") + """) AS BIGINT) AS n_tokens
        FROM documents),
      bysrc AS (SELECT source, sum(n_tokens) AS t_s FROM d GROUP BY 1),
      tot AS (SELECT sum(t_s) AS t FROM bysrc),
      wts AS (
        SELECT source, t_s,
               CAST(floor(sqrt(CAST(t_s AS DOUBLE))) AS BIGINT) AS w
        FROM bysrc),
      wtot AS (SELECT sum(w) AS wsum FROM wts),
      wt AS (
        SELECT source, t_s, w, t // 2 AS b,
               ((t // 2) * w) // wsum AS base,
               (t // 2) * w - (((t // 2) * w) // wsum) * wsum AS rem
        FROM wts, tot, wtot),
      lft AS (SELECT max(b) - sum(base) AS l FROM wt),
      ranked AS (
        SELECT source, t_s, w, base, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM wt)
      SELECT r.source, CAST(r.t_s AS BIGINT) AS n_tokens,
             CAST(r.w AS BIGINT) AS weight,
             CAST(r.base + CASE WHEN r.rk <= l.l THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_tokens,
             CAST(((r.base + CASE WHEN r.rk <= l.l THEN 1 ELSE 0 END) * 1000)
                  // nullif(r.t_s, 0) AS BIGINT) AS epochs_milli
      FROM ranked r, lft l"""))

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * corpus releases: per-source counts of added / removed / changed /
    * unchanged documents from a digest-keyed FULL OUTER join. The
    * "previous" snapshot is synthesized deterministically from the
    * current one (doc_id%23 docs missing → added, doc_id%29 extra docs
    * → removed, doc_id%17 texts mutated → changed), so both engines
    * build identical inputs. Scale shape: one shuffle on doc_id for the
    * outer join, digests computed in the scan projection — the standard
    * two-snapshot reconciliation at any corpus size (row-level CDC; the
    * content-defined-chunk variant is q48).
    */
  val q169SnapshotDiff = Q(
    "q169_snapshot_diff",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val prev = base.filter(col("doc_id") % 23 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" OLD")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            col("source"), col("text")))
      val j = base
        .select(col("doc_id"), col("source").as("src_c"),
          md5(col("text")).as("dig_c"))
        .join(prev.select(col("doc_id"), col("source").as("src_p"),
          md5(col("text")).as("dig_p")), Seq("doc_id"), "full_outer")
      val status = when(col("dig_p").isNull, "added")
        .when(col("dig_c").isNull, "removed")
        .when(col("dig_c") =!= col("dig_p"), "changed")
        .otherwise("unchanged")
      j.select(coalesce(col("src_c"), col("src_p")).as("source"),
          status.as("status"))
        .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
    },
    Some("""
      WITH base AS (SELECT doc_id, source, text FROM documents),
      prev AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 17 = 0 THEN text || ' OLD' ELSE text END
                 AS text
        FROM base WHERE doc_id % 23 <> 0
        UNION ALL
        SELECT doc_id + 5000000, source, text FROM base WHERE doc_id % 29 = 0),
      j AS (
        SELECT coalesce(c.source, p.source) AS source,
               CASE WHEN p.doc_id IS NULL THEN 'added'
                    WHEN c.doc_id IS NULL THEN 'removed'
                    WHEN md5(c.text) <> md5(p.text) THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM base c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id)
      SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
      FROM j GROUP BY 1, 2"""))

  /** Distributed triangle counting with DEGREE ORIENTATION — the
    * companion graph metric to q110's connected components (near-dup
    * graphs are audited by clustering coefficient / triangle density).
    * Every edge is oriented from its (degree, id)-smaller endpoint, so
    * each triangle is counted exactly once at its lowest-degree apex
    * and the wedge self-join fans out by OUT-degree, which the
    * orientation caps at O(√m) — the standard bound that keeps a
    * power-law hub from generating deg² wedge candidates at 100 TB
    * (id-ordered orientation, which the brute-force oracle uses, has no
    * such cap; both enumerations count the same set). Edges are
    * synthesized deterministically from doc_id over 401 nodes. Shapes:
    * two hash joins on compact (long, long) pairs, one broadcast degree
    * join — never an adjacency-list collect.
    */
  val q173TriangleCount = Q(
    "q173_triangle_count",
    (s, dir) => {
      val raw = Tables.load(s, dir, "documents")
        .select((col("doc_id") % 401).as("x"),
          ((col("doc_id") * 7 + 1) % 401).as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
      val deg = raw.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val withDeg = raw
        .join(broadcast(deg.withColumnRenamed("n", "a")
          .withColumnRenamed("deg", "dega")), "a")
        .join(broadcast(deg.withColumnRenamed("n", "b")
          .withColumnRenamed("deg", "degb")), "b")
      // orient small (deg, id) -> large; the struct compare is a total
      // order because ids are distinct
      val oriented = withDeg.select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("degb").as("degd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("dega").as("degd"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          col("e.degd").as("degd"))
      val wedges = oriented.as("o1")
        .join(oriented.as("o2"), col("o1.src") === col("o2.src"))
        .filter(struct(col("o1.degd"), col("o1.dst")) <
          struct(col("o2.degd"), col("o2.dst")))
        .select(col("o1.dst").as("v"), col("o2.dst").as("w"))
      val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
      val tri = wedges.join(closing, Seq("v", "w")).agg(
        count(lit(1)).as("n_triangles"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      val ne = raw.agg(count(lit(1)).as("n_edges"))
      nn.crossJoin(ne).crossJoin(tri)
    },
    Some("""
      WITH raw AS (
        SELECT DISTINCT least(doc_id % 401, (doc_id * 7 + 1) % 401) AS a,
               greatest(doc_id % 401, (doc_id * 7 + 1) % 401) AS b
        FROM documents
        WHERE doc_id % 401 <> (doc_id * 7 + 1) % 401)
      SELECT (SELECT count(DISTINCT n) FROM (
                SELECT a AS n FROM raw UNION ALL SELECT b FROM raw))
               AS n_nodes,
             (SELECT count(*) FROM raw) AS n_edges,
             (SELECT count(*)
              FROM raw e1
              JOIN raw e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN raw e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles"""))

  /** Systematic (equal-stratum midpoint) weighted sampling WITHOUT
    * floating randomness: k = 100 strata over the cumulative token mass
    * W, one probe position p_i = ((2i−1)·W) div (2k) per stratum, and a
    * doc is drawn once per probe landing in its cumulative interval
    * [c−w, c) — the deterministic PPS (probability-proportional-to-size)
    * downsampling a training pipeline can re-run reproducibly. Exact
    * integers end to end. Scale shape: the cumulative sums come from the
    * distributed PrefixSum (range partition + P collected partials, no
    * single-reducer window), and the 100-row probe table joins in as a
    * BroadcastNestedLoop range join — one scan, no n×n.
    */
  val q175SystematicSample = Q(
    "q175_systematic_sample",
    (s, dir) => {
      val k = 100
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(graft.core.Tok.words(col("text"))).cast("long").as("w"))
        .filter(col("w") > 0)
      val withCum = graft.operators.PrefixSum.runningSum(
        d, Seq(col("doc_id").asc), col("w"), "c")
      val tot = d.agg(sum("w").as("wtot"))
      // (2i-1)*W and 2k are positive → integer div truncation matches
      // both engines
      val probesI = s.range(1, k + 1).crossJoin(broadcast(tot))
        .select(expr(s"((2 * id - 1) * wtot) div ${2 * k}").as("p"))
      withCum.join(broadcast(probesI),
          col("p") >= col("c") - col("w") && col("p") < col("c"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("n_hits"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(len(""" + graft.core.Tok.sqlWords("text") + """) AS BIGINT) AS w
        FROM documents),
      dd AS (SELECT * FROM d WHERE w > 0),
      cum AS (
        SELECT doc_id, w,
               sum(w) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c
        FROM dd),
      tot AS (SELECT sum(w) AS wtot FROM dd),
      probes AS (
        SELECT ((2 * i - 1) * wtot) // 200 AS p
        FROM (SELECT unnest(generate_series(1, 100)) AS i), tot)
      SELECT cum.doc_id, cum.w, CAST(count(*) AS BIGINT) AS n_hits
      FROM cum JOIN probes ON probes.p >= cum.c - cum.w AND probes.p < cum.c
      GROUP BY 1, 2"""))

  /** Per-node clustering coefficient over the q173 graph — the local
    * triangle density that audits near-dup graphs for pathological
    * cliques. Same degree-oriented enumeration (each triangle found
    * once at its lowest-(deg,id) apex), then each triangle credits its
    * THREE corners and coef = 2·t·10⁶ div (deg·(deg−1)) in exact
    * integer arithmetic (positive truncating division — identical both
    * engines). Oracle recounts per-node triangles from the brute
    * id-ordered enumeration.
    */
  val q176ClusteringCoefficient = Q(
    "q176_clustering_coefficient",
    (s, dir) => {
      val raw = Tables.load(s, dir, "documents")
        .select((col("doc_id") % 401).as("x"),
          ((col("doc_id") * 7 + 1) % 401).as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
      val deg = raw.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val withDeg = raw
        .join(broadcast(deg.withColumnRenamed("n", "a")
          .withColumnRenamed("deg", "dega")), "a")
        .join(broadcast(deg.withColumnRenamed("n", "b")
          .withColumnRenamed("deg", "degb")), "b")
      val oriented = withDeg.select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("degb").as("degd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("dega").as("degd"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          col("e.degd").as("degd"))
      val wedges = oriented.as("o1")
        .join(oriented.as("o2"), col("o1.src") === col("o2.src"))
        .filter(struct(col("o1.degd"), col("o1.dst")) <
          struct(col("o2.degd"), col("o2.dst")))
        .select(col("o1.src").as("u"), col("o1.dst").as("v"),
          col("o2.dst").as("w"))
      val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
      val tri = wedges.join(closing, Seq("v", "w"))
      val perNode = tri
        .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("n_tri"))
      deg.join(perNode, Seq("n"), "left")
        .filter(col("deg") >= 2)
        .select(col("n").as("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          expr("(2 * coalesce(n_tri, 0) * 1000000) div (deg * (deg - 1))")
            .as("coef_ppm"))
    },
    Some("""
      WITH raw AS (
        SELECT DISTINCT least(doc_id % 401, (doc_id * 7 + 1) % 401) AS a,
               greatest(doc_id % 401, (doc_id * 7 + 1) % 401) AS b
        FROM documents
        WHERE doc_id % 401 <> (doc_id * 7 + 1) % 401),
      deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a AS n FROM raw UNION ALL SELECT b FROM raw)
        GROUP BY 1),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM raw e1
        JOIN raw e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN raw e3 ON e3.a = e1.b AND e3.b = e2.b),
      pernode AS (
        SELECT n, CAST(count(*) AS BIGINT) AS n_tri
        FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        GROUP BY 1)
      SELECT d.n AS node, d.deg,
             coalesce(p.n_tri, 0) AS n_tri,
             (2 * coalesce(p.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
               AS coef_ppm
      FROM deg d LEFT JOIN pernode p USING (n)
      WHERE d.deg >= 2"""))

  /** Iterative PageRank over a deterministic 1499-node crawl graph
    * synthesized from doc_id (two directed links per document) — the
    * link-centrality quality signal web-corpus curation weights
    * documents by, and the round-13 companion to the static q173/q176
    * metrics. Eight exact-integer rounds (scale 10⁹, damping 85/100,
    * truncating division both engines — see operators/PageRank.scala);
    * the oracle's 8-round CTE chain is GENERATED from the same round
    * count (the q166 suffix-parameterized pattern: programmatic SQL on
    * both sides, never hand-copied), so rank values gate by hash with
    * no tolerance. Scale shape: per round one src-hash join + one
    * partially-aggregated groupBy(dst) + a node-universe left join;
    * the edge side is repartitioned+cached once, every round
    * localCheckpoints (the BPE lineage lesson).
    */
  val q182Pagerank = Q(
    "q182_pagerank",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val e1 = docs.select((col("doc_id") % 1499).as("src"),
        ((col("doc_id") * 31 + 7) % 1499).as("dst"))
      val e2 = docs.select((col("doc_id") % 1499).as("src"),
        ((col("doc_id") * 17 + 3) % 1499).as("dst"))
      val edges = e1.union(e2).filter(col("src") =!= col("dst")).distinct()
      graft.operators.PageRank.run(edges, scale = 1000000000L, rounds = 8)
    },
    Some("""
      WITH edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT doc_id % 1499 AS src, (doc_id * 31 + 7) % 1499 AS dst
          FROM documents
          UNION ALL
          SELECT doc_id % 1499, (doc_id * 17 + 3) % 1499 FROM documents)
        WHERE src <> dst),""" +
      graft.operators.PageRank.oracleRounds(8, 1000000000L) + """
      SELECT node, rank FROM r8"""))

  /** HITS hubs/authorities over a deterministic 1237-node crawl graph
    * (two unconditional links per document plus a third for every 7th
    * doc, so in/out neighborhoods differ and the hub/auth vectors
    * separate) — the directional link-quality signal q182's single
    * PageRank centrality can't give: curation up-weights authorities
    * and down-weights pure hubs (directories, link farms). Eight exact
    * integer rounds with div-by-max renormalization each half-round
    * (see operators/Hits.scala); the oracle chain is GENERATED from the
    * same round count, so hub/auth values gate by hash, no tolerance.
    */
  val q195Hits = Q(
    "q195_hits",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val e1 = docs.select((col("doc_id") % 1237).as("src"),
        ((col("doc_id") * 31 + 7) % 1237).as("dst"))
      val e2 = docs.select((col("doc_id") % 1237).as("src"),
        ((col("doc_id") * 17 + 3) % 1237).as("dst"))
      val e3 = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") % 1237).as("src"),
          ((col("doc_id") * 13 + 5) % 1237).as("dst"))
      val edges = e1.union(e2).union(e3)
        .filter(col("src") =!= col("dst")).distinct()
      graft.operators.Hits.run(edges, rounds = 8)
    },
    Some("""
      WITH edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT doc_id % 1237 AS src, (doc_id * 31 + 7) % 1237 AS dst
          FROM documents
          UNION ALL
          SELECT doc_id % 1237, (doc_id * 17 + 3) % 1237 FROM documents
          UNION ALL
          SELECT doc_id % 1237, (doc_id * 13 + 5) % 1237 FROM documents
          WHERE doc_id % 7 = 0)
        WHERE src <> dst),""" +
      graft.operators.Hits.oracleRounds(8) + """
      SELECT node, hub, auth FROM h8 JOIN a8 USING (node)"""))

  val qs: Seq[Q] = Seq(q39CorpusPipeline, q43Sketches, q47KmvSketch,
    q48CdcChunks, q49TopkPerGroup, q109WorkItems, q147CorpusCuration,
    q168MixtureBudget, q169SnapshotDiff, q173TriangleCount,
    q175SystematicSample, q176ClusteringCoefficient, q182Pagerank,
    q195Hits, q205TemperatureMix, q214UnicodeCuration, q215CurationSubstr,
    q221CurationHashsplit, q225CurationNfc)
}
