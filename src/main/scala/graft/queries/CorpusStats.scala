package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Dedup

/** Corpus-statistics curation operators beyond the reference's own
  * surface — the document-quality / collocation / cardinality / novelty
  * signals a large-scale LLM training-data pipeline computes corpus-wide:
  *
  *  - q184: Gopher-style repetition rules (Rae et al. 2021 §A1.1):
  *    characters covered by the most frequent word n-gram (n=2,3,4) and
  *    by duplicated n-grams (n=5,8), exact char accounting per doc.
  *  - q185: top-k collocations by PMI — rational form (c_xy·N)/(c_x·c_y)
  *    (log is monotone, so ranking is unchanged — the q131 rational-idf
  *    precedent); both products stay < 2^53 so the IEEE division is
  *    bit-identical cross-engine. Decimal path needed past ~10^8 tokens.
  *  - q186: HyperLogLog registers (Flajolet et al. 2007) over 3-gram
  *    shingle hashes — the mergeable 64-register sketch, rho computed
  *    exactly via binary-string length (no float log), plus the exact
  *    distinct count for comparison.
  *  - q187: n-gram novelty — per doc, how many of its distinct 8-gram
  *    shingles first appear in it (min-doc_id attribution): the
  *    "new content" curve an ingest pipeline tracks. Two grouped
  *    passes + per-doc joins; the corpus-wide shingle table never
  *    self-joins.
  *  - q188: bounded k-core peeling (k=4, 4 rounds) on a deterministic
  *    doc-derived graph — the degeneracy-core graph signal; the oracle
  *    is the IDENTICAL round chain generated as unrolled CTEs (the
  *    q166 generate-never-hand-copy pattern).
  *  - q189: count-min sketch (Cormode & Muthukrishnan 2005), d=4 rows ×
  *    w=256 buckets over corpus trigram counts, verified by probing the
  *    top-5 trigrams (min over rows >= exact count, never undercounts).
  *
  * Scale shapes: every operator is a scan + hash-shuffle on compact keys
  * (grams, shingle hashes, node ids); sketches are bounded-state (64
  * registers / 1024 counters) and mergeable; the k-core alive set is
  * O(nodes) and broadcast into semi-joins. No doc×doc stage anywhere.
  */
object CorpusStats {

  private def t(s: SparkSession, dir: String)(n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Word tokens of lower(text) — the script-aware default seam
    * (graft.core.Tok, r18). */
  private def toksCol: Column = graft.core.Tok.words(col("text"))

  /** DuckDB twin of [[toksCol]] (generated from the kernel's own RE2
    * pattern constant). */
  private val toksSql =
    "SELECT doc_id, " + graft.core.Tok.sqlWords("text") + """ AS tk
       FROM documents"""

  /** Generic-n twin of the DedupQueries shinglesSql (distinct grams —
    * mirrors Dedup.shingles exactly, script-aware tokens).
    */
  private def shNSql(n: Int): String =
    """SELECT doc_id,
           list_distinct([array_to_string(t[i:i+""" + (n - 1) +
      """], ' ')
                          for i in generate_series(1, len(t)-""" + (n - 1) +
      """)]) AS sh
       FROM (SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS t
             FROM documents)
       WHERE len(t) >= """ + n

  // -------------------------------------------------------------------
  // q184: Gopher repetition rules — char coverage of top/duplicated
  // word n-grams, exact integer accounting.
  // -------------------------------------------------------------------
  /** The q184 plan over any (doc_id, text) frame — shared with
    * TextMacroBench's `gopher` scale arm. Since round 14 this is ONE
    * scan + the fused per-document [[graft.functions.GopherStats]]
    * kernel (all six outputs in a single unboxed pass): the previous
    * explode → groupBy(doc,n,gram) → coverage explode → global distinct
    * → join-back → pivot plan shipped ~5 exploded copies of the corpus
    * through the shuffle for a purely per-document statistic (the r13
    * verdict's top item; TextMacroBench gopher arm was 392 s / 3M docs).
    * The `size(tk) >= 1` filter preserves the original contract that
    * token-less docs are absent from the output. Oracle unchanged. */
  def gopherNgrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toksCol.as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"),
        graft.functions.GopherStats(col("tk")).as("g"))
      .select(col("doc_id"), col("g.total_chars").as("total_chars"),
        col("g.top2_chars").as("top2_chars"),
        col("g.top3_chars").as("top3_chars"),
        col("g.top4_chars").as("top4_chars"),
        col("g.dup5_chars").as("dup5_chars"),
        col("g.dup8_chars").as("dup8_chars"))

  /** The q184 oracle text — also embedded verbatim as a CTE by q194's
    * composed-policy oracle. */
  private val gopherSql = ("""
      WITH toks AS (""" + toksSql + """),
      pos AS (
        SELECT doc_id, unnest(generate_series(1, len(tk))) AS p,
               unnest(list_transform(tk, x -> len(x))) AS lw
        FROM toks),
      total AS (
        SELECT doc_id, CAST(sum(lw) AS BIGINT) AS total_chars
        FROM pos GROUP BY 1),
      occ AS (
        SELECT doc_id, n, unnest(generate_series(1, len(tk) - n + 1)) AS i
        FROM toks CROSS JOIN (VALUES (2),(3),(4),(5),(8)) v(n)
        WHERE len(tk) >= n),
      occg AS (
        SELECT o.doc_id, o.n, o.i,
               array_to_string(list_slice(t2.tk, o.i, o.i + o.n - 1), ' ')
                 AS gram
        FROM occ o JOIN toks t2 ON t2.doc_id = o.doc_id),
      counted AS (
        SELECT doc_id, n, gram, count(*) AS c, list(i) AS ii
        FROM occg GROUP BY 1, 2, 3),
      topg AS (
        SELECT doc_id, n, ii FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                       ORDER BY c DESC, gram) AS rk
          FROM counted WHERE n IN (2, 3, 4)) WHERE rk = 1),
      dupg AS (
        SELECT doc_id, n, ii FROM counted WHERE n IN (5, 8) AND c >= 2),
      qual AS (SELECT * FROM topg UNION ALL SELECT * FROM dupg),
      covered AS (
        SELECT DISTINCT doc_id, n, i + off AS p
        FROM (SELECT doc_id, n, unnest(ii) AS i FROM qual)
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off) o
        WHERE off < n),
      cov AS (
        SELECT c.doc_id, c.n, CAST(sum(p2.lw) AS BIGINT) AS cv
        FROM covered c
        JOIN pos p2 ON p2.doc_id = c.doc_id AND p2.p = c.p
        GROUP BY 1, 2)
      SELECT t.doc_id, t.total_chars,
        CAST(coalesce(max(CASE WHEN c.n = 2 THEN c.cv END), 0) AS BIGINT)
          AS top2_chars,
        CAST(coalesce(max(CASE WHEN c.n = 3 THEN c.cv END), 0) AS BIGINT)
          AS top3_chars,
        CAST(coalesce(max(CASE WHEN c.n = 4 THEN c.cv END), 0) AS BIGINT)
          AS top4_chars,
        CAST(coalesce(max(CASE WHEN c.n = 5 THEN c.cv END), 0) AS BIGINT)
          AS dup5_chars,
        CAST(coalesce(max(CASE WHEN c.n = 8 THEN c.cv END), 0) AS BIGINT)
          AS dup8_chars
      FROM total t LEFT JOIN cov c ON c.doc_id = t.doc_id
      GROUP BY 1, 2""")

  val q184GopherNgrams = Q(
    "q184_gopher_ngrams",
    (s, dir) => gopherNgrams(t(s, dir)("documents")),
    Some(gopherSql))

  // -------------------------------------------------------------------
  // q185: PMI collocations — top-50 adjacent word pairs by the rational
  // PMI core (c_xy·N)/(c_x·c_y), exact long products, one IEEE division.
  // -------------------------------------------------------------------
  /** The q185 plan over any (doc_id, text) frame — shared with
    * TextMacroBench's `pmi` scale arm. */
  def pmiCollocations(docs: DataFrame): DataFrame = {
      val base = docs.select(toksCol.as("tk")).filter(size(col("tk")) >= 2)
      val big = base.select(
        explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cxy = big.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      val uni = docs.select(explode(toksCol).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
      val n = cxy.agg(sum("cxy").as("bign"))
      // bigN sums over ALL pairs; the survivor filter applies after.
      // No broadcast hint on `uni`: it is vocabulary-sized (unbounded in
      // corpus scale — the r13 verdict's q185 flag); the cxy>=5 filter
      // prunes the probe side first and AQE picks the join strategy
      // (these are healthy shuffle joins on well-distributed token keys;
      // only the single-row total is broadcast).
      cxy
        .filter(col("cxy") >= 5)
        .join(uni.select(col("w").as("w1"), col("cu").as("cx")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cu").as("cy")), Seq("w2"))
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
          ((col("cxy") * col("bign")).cast("double") /
            (col("cx") * col("cy")).cast("double")).as("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
        .limit(50)
  }

  val q185PmiCollocations = Q(
    "q185_pmi_collocations",
    (s, dir) => pmiCollocations(t(s, dir)("documents")),
    Some("""
      WITH toks AS (""" + toksSql + """),
      big AS (
        SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT tk, unnest(generate_series(1, len(tk)-1)) AS i
              FROM toks WHERE len(tk) >= 2)),
      cxy AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY 1, 2),
      cu AS (SELECT w, count(*) AS cu
             FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
      nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS bign FROM cxy)
      SELECT c.w1, c.w2, c.cxy, a.cu AS cx, b.cu AS cy,
             CAST(c.cxy * bign AS DOUBLE) / CAST(a.cu * b.cu AS DOUBLE)
               AS pmi_ratio
      FROM cxy c
      JOIN cu a ON a.w = c.w1
      JOIN cu b ON b.w = c.w2
      CROSS JOIN nn
      WHERE c.cxy >= 5
      ORDER BY pmi_ratio DESC, c.w1, c.w2
      LIMIT 50"""))

  // -------------------------------------------------------------------
  // q186: HyperLogLog registers over 3-shingle hashes. bucket = low 6
  // hash bits, rho = leading-zero rank of the remaining 54 bits computed
  // EXACTLY via length(bin(w)) (a string op, no float log), registers
  // zero-filled over the 64-bucket universe, and the harmonic-sum
  // estimate carried as the exact long S = sum 2^(56-reg) (max 2^62).
  // -------------------------------------------------------------------
  /** (bucket, reg) registers + harmonic-sum/estimate/exact columns —
    * shared by the batch (q186) and streaming (q193) HLL forms. `exact`
    * must be a single-row frame with an `exact_distinct` column. */
  private def hllSummary(full: DataFrame, exact: DataFrame): DataFrame = {
    val summary = full
      .agg(sum(pow(lit(2.0), lit(56) - col("reg")).cast("long"))
        .as("s_scaled"))
      .crossJoin(broadcast(exact))
      .select(col("s_scaled"),
        (((lit(0.709) * lit(4096.0)) * pow(lit(2.0), lit(56))) /
          col("s_scaled").cast("double")).as("est"),
        col("exact_distinct"))
    full.crossJoin(broadcast(summary))
  }

  val q186HllDistinct = Q(
    "q186_hll_distinct",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      // explode_OUTER + isNotNull: plain explode's inferred
      // size(shingles) > 0 guard would tokenize each document twice
      val sh = docs.select(explode_outer(Dedup.shingles(col("text"), 3)).as("sh"))
        .filter(col("sh").isNotNull)
      val hashed = sh.select(Dedup.md5Hash64(col("sh")).as("h"))
      val regs = hashed
        .select((col("h") % 64).as("bucket"),
          shiftright(col("h"), 6).as("wv"))
        .select(col("bucket"),
          when(col("wv") === 0, lit(55L))
            .otherwise(lit(55L) - length(bin(col("wv"))).cast("long"))
            .as("rho"))
        .groupBy("bucket").agg(max("rho").as("reg"))
      val universe = s.range(64).select(col("id").as("bucket"))
      val full = universe.join(regs, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("reg"), lit(0L)).as("reg"))
      hllSummary(full,
        sh.agg(countDistinct(col("sh")).as("exact_distinct")))
    },
    Some("""
      WITH sh0 AS (""" + shNSql(3) + """),
      h AS (
        SELECT CAST('0x' || substr(md5(sh), 18, 15) AS BIGINT) AS h, sh
        FROM (SELECT unnest(sh) AS sh FROM sh0)),
      regs AS (
        SELECT h % 64 AS bucket,
               max(CASE WHEN h // 64 = 0 THEN 55
                        ELSE 55 - len(bin(h // 64)) END) AS reg
        FROM h GROUP BY 1),
      fullr AS (
        SELECT u.bucket, CAST(coalesce(r.reg, 0) AS BIGINT) AS reg
        FROM (SELECT unnest(generate_series(0, 63)) AS bucket) u
        LEFT JOIN regs r ON r.bucket = u.bucket),
      summary AS (
        SELECT CAST(sum(CAST(power(2, 56 - reg) AS BIGINT)) AS BIGINT)
                 AS s_scaled
        FROM fullr),
      ex AS (SELECT count(DISTINCT sh) AS exact_distinct FROM h)
      SELECT f.bucket, f.reg, s.s_scaled,
             ((0.709 * 4096.0) * power(2.0, 56))
               / CAST(s.s_scaled AS DOUBLE) AS est,
             ex.exact_distinct
      FROM fullr f, summary s, ex"""))

  // -------------------------------------------------------------------
  // q187: n-gram novelty — distinct 8-shingles per doc and how many of
  // them FIRST appear in that doc (min-doc_id attribution). Two grouped
  // passes over the compact shingle stream; no self-join.
  // -------------------------------------------------------------------
  val q187NgramNovelty = Q(
    "q187_ngram_novelty",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      val sh = docs.select(col("doc_id"),
        explode_outer(Dedup.shingles(col("text"), 8)).as("sh"))
        .filter(col("sh").isNotNull) // as in q186
      val nsh = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val nov = sh.groupBy("sh").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("novel_count"))
      docs.select(col("doc_id"))
        .join(nsh, Seq("doc_id"), "left")
        .join(nov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("novel_count"), lit(0L)).as("novel_count"))
    },
    Some("""
      WITH sh0 AS (""" + shNSql(8) + """),
      ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh0),
      nsh AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY 1),
      nov AS (
        SELECT doc_id, count(*) AS novel_count
        FROM (SELECT sh, min(doc_id) AS doc_id FROM ex GROUP BY 1)
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(n.n_shingles, 0) AS BIGINT) AS n_shingles,
             CAST(coalesce(v.novel_count, 0) AS BIGINT) AS novel_count
      FROM documents d
      LEFT JOIN nsh n ON n.doc_id = d.doc_id
      LEFT JOIN nov v ON v.doc_id = d.doc_id"""))

  // -------------------------------------------------------------------
  // q188: bounded k-core peeling (k=4, 4 rounds). Graph: three forward
  // id-offset edges per doc (two n_chars-derived, one id-derived), so
  // the node space SCALES with the corpus and local density varies with
  // the data — no modular saturation at higher SF. Spark = loop of
  // semi-joins against the alive set (O(|V|) — let AQE pick the join
  // strategy; at cluster scale this is a shuffled semi-join, not a
  // broadcast); oracle = the IDENTICAL round chain as unrolled CTEs,
  // generated from the same constants (never hand-copied).
  // -------------------------------------------------------------------
  private val KcoreK = 4
  private val KcoreRounds = 4

  val q188Kcore = Q(
    "q188_kcore",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      // b > a by construction, so edges are canonical without least/greatest
      val raw = docs.select(explode(array(
          struct(col("doc_id").as("a"),
            (col("doc_id") + 1 + (col("n_chars") % 7)).as("b")),
          struct(col("doc_id").as("a"),
            (col("doc_id") + 2 + (col("doc_id") % 5)).as("b")),
          struct(col("doc_id").as("a"),
            (col("doc_id") + 3 + ((col("n_chars") * 3) % 11)).as("b"))))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
      var edges = raw
      for (_ <- 1 to KcoreRounds) {
        val alive = edges
          .select(explode(array(col("a"), col("b"))).as("nd"))
          .groupBy("nd").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= KcoreK).select("nd")
        edges = edges
          .join(alive.withColumnRenamed("nd", "a"), Seq("a"), "left_semi")
          .join(alive.withColumnRenamed("nd", "b"), Seq("b"), "left_semi")
      }
      edges.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    },
    Some {
      val base = s"""e0 AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
          SELECT doc_id AS a, doc_id + 1 + (n_chars % 7) AS b FROM documents
          UNION ALL
          SELECT doc_id AS a, doc_id + 2 + (doc_id % 5) AS b FROM documents
          UNION ALL
          SELECT doc_id AS a, doc_id + 3 + ((n_chars * 3) % 11) AS b
          FROM documents))"""
      val rounds = (1 to KcoreRounds).map { r =>
        s""",
        d$r AS (SELECT nd, count(*) AS deg FROM (
            SELECT a AS nd FROM e${r - 1}
            UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
        a$r AS (SELECT nd FROM d$r WHERE deg >= $KcoreK),
        e$r AS MATERIALIZED (
          SELECT e.a, e.b FROM e${r - 1} e
          JOIN a$r x ON x.nd = e.a
          JOIN a$r y ON y.nd = e.b)"""
      }.mkString
      s"""WITH $base$rounds
      SELECT nd AS node, count(*) AS deg FROM (
        SELECT a AS nd FROM e$KcoreRounds
        UNION ALL SELECT b FROM e$KcoreRounds) GROUP BY 1"""
    })

  // -------------------------------------------------------------------
  // q189: count-min sketch over corpus trigram occurrence counts — d=4
  // hash rows x w=256 buckets, md5-derived row hashes, probed at the
  // top-5 trigrams: est = min over rows, provably >= the exact count.
  // -------------------------------------------------------------------
  val q189CmSketch = Q(
    "q189_cm_sketch",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      val base = docs.select(toksCol.as("tk")).filter(size(col("tk")) >= 3)
      val tri = base.select(
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i, lit(3))))).as("g"))
      val counts = tri.groupBy("g").agg(count(lit(1)).as("c"))
      def bkt(g: Column, j: Column): Column =
        Dedup.md5Hash64(concat(g, lit("_"), j.cast("string"))) % 256
      val rows = counts
        .select(col("g"), col("c"), explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("j"), bkt(col("g"), col("j")).as("bkt"), col("g"),
          col("c"))
      val sketch = rows.groupBy("j", "bkt").agg(sum("c").as("sc"))
      val probes = counts.orderBy(col("c").desc, col("g")).limit(5)
      probes
        .select(col("g"), col("c"), explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("g"), col("c"), col("j"), bkt(col("g"), col("j")).as("bkt"))
        .join(broadcast(sketch), Seq("j", "bkt"))
        .groupBy("g", "c").agg(min("sc").as("est"))
        .select(col("g").as("gram"), col("c").as("exact_c"), col("est"),
          (col("est") >= col("c")).as("no_undercount"))
    },
    Some("""
      WITH toks AS (""" + toksSql + """),
      tri AS (
        SELECT array_to_string(list_slice(tk, i, i + 2), ' ') AS g
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
              FROM toks WHERE len(tk) >= 3)),
      counts AS (SELECT g, count(*) AS c FROM tri GROUP BY 1),
      hrows AS (
        SELECT g, c, j,
               CAST('0x' || substr(md5(g || '_' || CAST(j AS VARCHAR)),
                                   18, 15) AS BIGINT) % 256 AS bkt
        FROM counts
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
      sketch AS (
        SELECT j, bkt, CAST(sum(c) AS BIGINT) AS sc
        FROM hrows GROUP BY 1, 2),
      probes AS (SELECT g, c FROM counts ORDER BY c DESC, g LIMIT 5)
      SELECT p.g AS gram, p.c AS exact_c,
             CAST(min(s.sc) AS BIGINT) AS est,
             min(s.sc) >= p.c AS no_undercount
      FROM probes p
      JOIN hrows r ON r.g = p.g
      JOIN sketch s ON s.j = r.j AND s.bkt = r.bkt
      GROUP BY 1, 2"""))

  // -------------------------------------------------------------------
  // q190: DSIR-lite importance weighting (Xie et al. 2023, hashed n-gram
  // importance resampling): bucket every distinct 2-gram into 4096
  // md5-derived buckets, estimate target (source='src0') vs raw corpus
  // bucket frequencies, and score each doc by the ADDITIVE integer
  // surrogate sum_g (target[b(g)]*10^6 div raw[b(g)]) — exact truncating
  // arithmetic both engines (all terms nonnegative), monotone in the
  // per-bucket importance ratio. Top-50 docs by score.
  // -------------------------------------------------------------------
  val q190DsirWeights = Q(
    "q190_dsir_weights",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      // explode_OUTER + isNotNull: plain explode lets
      // InferFiltersFromGenerate push a size(shingles-expr)>0 guard
      // below the projection, re-tokenizing per lambda element (the
      // Dedup.wordGramKeys lesson). Cached: the bucket stream is
      // consumed THREE times (raw, target, scoring join).
      val sh = docs.select(col("doc_id"), col("source"),
        Dedup.shingles(col("text"), 2).as("shs"))
        .select(col("doc_id"), col("source"),
          explode_outer(col("shs")).as("g"))
        .filter(col("g").isNotNull)
        .select(col("doc_id"), col("source"),
          (Dedup.md5Hash64(col("g")) % 4096).as("bkt"))
        .cache()
      val raw = sh.groupBy("bkt").agg(count(lit(1)).as("rc"))
      val tgt = sh.filter(col("source") === "src0")
        .groupBy("bkt").agg(count(lit(1)).as("tc"))
      val weights = raw.join(tgt, Seq("bkt"), "left")
        .select(col("bkt"),
          expr("coalesce(tc, 0L) * 1000000L div rc").as("w"))
      sh.join(broadcast(weights), Seq("bkt"))
        .groupBy("doc_id").agg(sum("w").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    },
    Some("""
      WITH sh0 AS (""" + shNSql(2) + """),
      ex AS (
        SELECT s0.doc_id, d.source,
               CAST('0x' || substr(md5(g), 18, 15) AS BIGINT) % 4096 AS bkt
        FROM (SELECT doc_id, unnest(sh) AS g FROM sh0) s0
        JOIN documents d ON d.doc_id = s0.doc_id),
      raw AS (SELECT bkt, count(*) AS rc FROM ex GROUP BY 1),
      tgt AS (SELECT bkt, count(*) AS tc FROM ex
              WHERE source = 'src0' GROUP BY 1),
      wts AS (
        SELECT r.bkt, (coalesce(t2.tc, 0) * 1000000) // r.rc AS w
        FROM raw r LEFT JOIN tgt t2 ON t2.bkt = r.bkt)
      SELECT e.doc_id, CAST(sum(w.w) AS BIGINT) AS score
      FROM ex e JOIN wts w ON w.bkt = e.bkt
      GROUP BY 1
      ORDER BY score DESC, e.doc_id
      LIMIT 50"""))

  // -------------------------------------------------------------------
  // q191: cross-source shingle containment — for every ordered source
  // pair, |shingles(s1) ∩ shingles(s2)| and the containment fraction of
  // s1 (exact longs; the division of two exact longs is one IEEE op,
  // bit-identical cross-engine). The join key is the compact shingle
  // stream (distinct (source, shingle) pairs); output is bounded by
  // sources², never doc×doc.
  // -------------------------------------------------------------------
  val q191SourceContainment = Q(
    "q191_source_containment",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      // explode_OUTER + isNotNull + cache: same InferFilters
      // re-inlining fix as q190; the distinct (source, shingle) stream
      // is consumed three times (sizes + both self-join sides)
      val sh = docs.select(col("source"),
        Dedup.shingles(col("text"), 3).as("shs"))
        .select(col("source"), explode_outer(col("shs")).as("sh"))
        .filter(col("sh").isNotNull)
        .distinct()
        .cache()
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = sh.as("x").join(sh.as("y"), Seq("sh"))
        .filter(col("x.source") =!= col("y.source"))
        .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("sz").as("size1"))), Seq("s1"))
        .select(col("s1"), col("s2"), col("inter"), col("size1"),
          (col("inter").cast("double") / col("size1").cast("double"))
            .as("containment"))
    },
    Some("""
      WITH sh0 AS (""" + shNSql(3) + """),
      ex AS (
        SELECT DISTINCT d.source, g AS sh
        FROM (SELECT doc_id, unnest(sh) AS g FROM sh0) s0
        JOIN documents d ON d.doc_id = s0.doc_id),
      sizes AS (SELECT source, count(*) AS sz FROM ex GROUP BY 1),
      inter AS (
        SELECT x.source AS s1, y.source AS s2, count(*) AS inter
        FROM ex x JOIN ex y ON y.sh = x.sh AND y.source <> x.source
        GROUP BY 1, 2)
      SELECT i.s1, i.s2, i.inter, z.sz AS size1,
             CAST(i.inter AS DOUBLE) / CAST(z.sz AS DOUBLE) AS containment
      FROM inter i JOIN sizes z ON z.source = i.s1"""))

  // -------------------------------------------------------------------
  // q192: Gini lexical diversity — 1 - sum_i (c_i/n)^2 carried as the
  // EXACT integer pair (n² - Σc_i², n²); the double is one division of
  // exact longs. The repetition-collapse signal Gopher's dup_word_frac
  // misses (it ignores the distribution shape among repeated words).
  // -------------------------------------------------------------------
  val q192GiniDiversity = Q(
    "q192_gini_diversity",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      docs.select(col("doc_id"), explode(toksCol).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_words"),
          sum(col("c") * col("c")).as("sum_c2"))
        .select(col("doc_id"), col("n_words"),
          (col("n_words") * col("n_words") - col("sum_c2")).as("gini_num"),
          ((col("n_words") * col("n_words") - col("sum_c2")).cast("double") /
            (col("n_words") * col("n_words")).cast("double")).as("gini"))
    },
    Some("""
      WITH toks AS (""" + toksSql + """),
      wc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(tk) AS w FROM toks) GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               CAST(sum(c * c) AS BIGINT) AS sum_c2
        FROM wc GROUP BY 1)
      SELECT doc_id, n_words,
             n_words * n_words - sum_c2 AS gini_num,
             CAST(n_words * n_words - sum_c2 AS DOUBLE)
               / CAST(n_words * n_words AS DOUBLE) AS gini
      FROM agg"""))

  // -------------------------------------------------------------------
  // q193: STREAMING distinct-count — the q186 HLL registers maintained
  // continuously over the event replay as a Complete-mode global
  // aggregate of the mergeable HllSketch Aggregator (64 longs of state,
  // elementwise-max merge: idempotent, so merge-tree- AND micro-batch-
  // order-independent; registers only grow, so the final snapshot
  // equals the batch registers over the same rows — the q148 closure
  // argument without even needing a second exact pass). The oracle
  // replays the identical register math from the batch table.
  // -------------------------------------------------------------------
  val q193StreamHll = Q(
    "q193_stream_hll",
    (s, dir) => {
      import graft.streaming.FileReplay
      val sel = t(s, dir)("events").select(
        col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"), col("value"))
      val h = Integer.toHexString(dir.hashCode)
      val srcDir = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_stream_src_${h}_hll")
      FileReplay.stageEventReplay(sel, srcDir)
      val regsRow = FileReplay.runToTable(s, srcDir, sel.schema,
        s"graft_stream_hll_$h",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { stream =>
        stream.filter(col("event_type") =!= "flush")
          .select(Dedup.md5Hash64(col("user_id").cast("string")).as("h"))
          .agg(graft.functions.HllSketch()(col("h")).as("regs"))
      }
      val full = regsRow
        .select(posexplode(col("regs")).as(Seq("b", "reg")))
        .select(col("b").cast("long").as("bucket"), col("reg"))
      hllSummary(full, t(s, dir)("events")
        .agg(countDistinct(col("user_id")).as("exact_distinct")))
    },
    Some("""
      WITH h AS (
        SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 18, 15)
                    AS BIGINT) AS h
        FROM events),
      regs AS (
        SELECT h % 64 AS bucket,
               max(CASE WHEN h // 64 = 0 THEN 55
                        ELSE 55 - len(bin(h // 64)) END) AS reg
        FROM h GROUP BY 1),
      fullr AS (
        SELECT u.bucket, CAST(coalesce(r.reg, 0) AS BIGINT) AS reg
        FROM (SELECT unnest(generate_series(0, 63)) AS bucket) u
        LEFT JOIN regs r ON r.bucket = u.bucket),
      summary AS (
        SELECT CAST(sum(CAST(power(2, 56 - reg) AS BIGINT)) AS BIGINT)
                 AS s_scaled
        FROM fullr),
      ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
      SELECT f.bucket, f.reg, s.s_scaled,
             ((0.709 * 4096.0) * power(2.0, 56))
               / CAST(s.s_scaled AS DOUBLE) AS est,
             ex.exact_distinct
      FROM fullr f, summary s, ex"""))

  // -------------------------------------------------------------------
  // q194: composed curation POLICY — the three-stage selection a corpus
  // release actually ships: (1) Gopher repetition thresholds (top-2-gram
  // < 20% of chars, duplicated 5-grams < 50%: exact integer cross-
  // multiplied comparisons, no division), (2) a per-source quality cap
  // (top 10 docs per source by total_chars, the web-curation per-domain
  // budget), (3) a deterministic md5 train/val split. One DAG; the
  // oracle embeds the q184 oracle text VERBATIM as its first CTE, so
  // the policy gate also re-verifies the signal computation it consumes.
  // -------------------------------------------------------------------
  val q194CurationPolicy = Q(
    "q194_curation_policy",
    (s, dir) => {
      val docs = t(s, dir)("documents")
      val g = gopherNgrams(docs)
      val keep = g.filter(
        col("top2_chars") * 5 <= col("total_chars") &&
          col("dup5_chars") * 2 <= col("total_chars"))
        .select(col("doc_id"), col("total_chars"))
      val w = Window.partitionBy("source")
        .orderBy(col("total_chars").desc, col("doc_id"))
      keep.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"),
          when(Dedup.md5Hash64(col("doc_id").cast("string")) % 10 < 8,
            lit("train")).otherwise(lit("val")).as("split"))
    },
    Some("""
      WITH g AS (""" + gopherSql + """),
      keep AS (
        SELECT doc_id, total_chars FROM g
        WHERE top2_chars * 5 <= total_chars
          AND dup5_chars * 2 <= total_chars),
      ranked AS (
        SELECT k.doc_id, d.source, k.total_chars,
               row_number() OVER (PARTITION BY d.source
                                  ORDER BY k.total_chars DESC, k.doc_id)
                 AS rk
        FROM keep k JOIN documents d ON d.doc_id = k.doc_id)
      SELECT doc_id, source,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           18, 15) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'val' END AS split
      FROM ranked WHERE rk <= 10"""))

  val qs: Seq[Q] = Seq(q184GopherNgrams, q185PmiCollocations,
    q186HllDistinct, q187NgramNovelty, q188Kcore, q189CmSketch,
    q190DsirWeights, q191SourceContainment, q192GiniDiversity,
    q193StreamHll, q194CurationPolicy)
}

