package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sql, Tables}

/** Text-analysis + deduplication surface over the `documents` table —
  * the training-data-pipeline operator family (language ID, quality
  * scoring, token counting, fingerprinting, exact/fuzzy dedup).
  *
  * All of these are pure column expressions (whole-stage codegen, no
  * UDFs): at 100 TB the text ops are embarrassingly parallel scans, and
  * dedup reduces to hash-shuffles on digest keys.
  */
object TextOps {

  private def t(s: SparkSession, dir: String)(n: String): DataFrame =
    Tables.load(s, dir, n)

  /** count of non-overlapping occurrences of `pat` in `c` (replace trick —
    * portable to any SQL engine). */
  private def occurrences(c: Column, pat: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast("long")

  private def occSql(c: String, pat: String): String =
    s"(length($c) - length(replace($c, '$pat', ''))) / ${pat.length}"

  /** Text statistics: char/word counts, average word length. Words come
    * from the script-aware default seam (graft.core.Tok, r18) — a CJK
    * doc reports its codepoint-token count instead of 1; on the clean
    * single-spaced ASCII fixtures the numbers equal the old
    * space-count formula exactly. Token-less docs get NULL avg length
    * on both engines (nullif guard).
    */
  val q30TextStats = Q(
    "q30_text_stats",
    (s, dir) => {
      val d = t(s, dir)("documents")
      val w = graft.core.Tok.wordsCased(col("text"))
      d.select(
        col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(w).cast("long").as("n_words"),
        round(aggregate(w, lit(0L), (a, x) => a + length(x)).cast("double") /
          nullif(size(w), lit(0)), 6).as("avg_word_len"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id, lang, length(text) AS n_chars,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS w
        FROM documents)
      SELECT doc_id, lang,
             CAST(n_chars AS BIGINT) AS n_chars_m,
             CAST(len(w) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                   / nullif(len(w), 0), 6) AS avg_word_len
      FROM w"""))

  /** Token counting: whitespace tokens, distinct tokens (vocabulary). */
  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / punctuation runs — the pre-tokenizer
    * shape BPE vocabularies are trained over).
    */
  val q31TokenCount = Q(
    "q31_token_count",
    (s, dir) => {
      val toks = graft.core.Tok.wordsCased(col("text"))
      val bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"
      t(s, dir)("documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeish), lit(0)))
          .cast("long").as("n_bpe_tokens"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id, """ + graft.core.Tok.sqlWordsCased("text") + """ AS w,
               text
        FROM documents)
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens
      FROM w"""))

  /** Quality scoring: length + lexical-diversity + stopword-ratio mix,
    * then a quality CASE ladder (keep / review / drop).
    */
  /** The q32 quality mix (length + lexical diversity + stopword ratio),
    * shared by q137's budgeted selection.
    */
  private def qualityScore: Column = {
    val toks = graft.core.Tok.wordsCased(col("text"))
    val nTokens = nullif(size(toks), lit(0)).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTokens
    val stops = (occurrences(col("text"), " the ") +
      occurrences(col("text"), " a ") + occurrences(col("text"), " of ")).cast("double")
    val stopRatio = round(stops / nTokens, 6)
    val lenScore = least(nTokens / lit(100.0), lit(1.0))
    round(lenScore * 0.4 + diversity * 0.4 + least(stopRatio * 5, lit(1.0)) * 0.2, 6)
  }

  val q32QualityScore = Q(
    "q32_quality_score",
    (s, dir) => {
      val d = t(s, dir)("documents")
      val score = qualityScore
      d.select(col("doc_id"), score.as("quality"),
        when(score >= 0.5, "keep").when(score >= 0.3, "review").otherwise("drop")
          .as("verdict"))
    },
    Some(s"""
      WITH w0 AS (
        SELECT doc_id, text,
               ${graft.core.Tok.sqlWordsCased("text")} AS w
        FROM documents),
      f AS (
        SELECT doc_id,
               CAST(nullif(len(w), 0) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(w)) AS DOUBLE) AS n_distinct,
               CAST(${occSql("text", " the ")} + ${occSql("text", " a ")}
                    + ${occSql("text", " of ")} AS DOUBLE) AS stops
        FROM w0),
      sc AS (
        SELECT doc_id,
               round(least(n_tokens / 100.0, 1.0) * 0.4
                     + (n_distinct / n_tokens) * 0.4
                     + least(round(stops / n_tokens, 6) * 5, 1.0) * 0.2, 6) AS quality
        FROM f)
      SELECT doc_id, quality,
             CASE WHEN quality >= 0.5 THEN 'keep'
                  WHEN quality >= 0.3 THEN 'review'
                  ELSE 'drop' END AS verdict
      FROM sc"""))

  /** Language ID: marker-token n-gram heuristic (argmax over per-language
    * marker counts with a deterministic tie order).
    */
  val q33LangId = Q(
    "q33_lang_id",
    (s, dir) => {
      val d = t(s, dir)("documents")
      val en = occurrences(col("text"), " the ") + occurrences(col("text"), " of ")
      val es = occurrences(col("text"), " el ") + occurrences(col("text"), " de ")
      val de = occurrences(col("text"), " der ") + occurrences(col("text"), " und ")
      val fr = occurrences(col("text"), " le ") + occurrences(col("text"), " et ")
      val best = greatest(en, es, de, fr)
      d.select(col("doc_id"), col("lang"),
        when(best === 0, "und")
          .when(en === best, "en").when(es === best, "es")
          .when(de === best, "de").otherwise("fr").as("predicted"))
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id, lang,
               ${occSql("text", " the ")} + ${occSql("text", " of ")} AS en,
               ${occSql("text", " el ")} + ${occSql("text", " de ")} AS es,
               ${occSql("text", " der ")} + ${occSql("text", " und ")} AS de,
               ${occSql("text", " le ")} + ${occSql("text", " et ")} AS fr
        FROM documents)
      SELECT doc_id, lang,
             CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                  WHEN en = greatest(en, es, de, fr) THEN 'en'
                  WHEN es = greatest(en, es, de, fr) THEN 'es'
                  WHEN de = greatest(en, es, de, fr) THEN 'de'
                  ELSE 'fr' END AS predicted
      FROM m"""))

  /** Exact dedup: md5 digest groups, canonical survivor = min doc_id
    * (hash-groupBy — one shuffle on the digest at any scale).
    */
  val q34DedupExact = Q(
    "q34_dedup_exact",
    (s, dir) => {
      val w = Window.partitionBy("digest").orderBy("doc_id")
      t(s, dir)("documents")
        .withColumn("digest", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_unique_docs"))
    },
    Some("""
      SELECT lang, count(*) AS n_unique_docs FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
      GROUP BY 1"""),
    headline = true)

  /** Document fingerprinting: order-invariant bag-of-words digest
    * (normalize → distinct tokens → sort → md5). Near-dup docs that are
    * token permutations collapse to one fingerprint.
    */
  val q35Fingerprint = Q(
    "q35_fingerprint",
    (s, dir) => {
      val toks = array_sort(array_distinct(graft.core.Tok.words(col("text"))))
      t(s, dir)("documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", toks)).as("fingerprint"))
    },
    Some("""
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               """ + graft.core.Tok.sqlWords("text") + """)), ' ')) AS fingerprint
      FROM documents"""))

  /** N-gram Jaccard similarity between successive documents (word-bigram
    * shingles, |A∩B| / |A∪B|).
    */
  val q36NgramJaccard = Q(
    "q36_ngram_jaccard",
    (s, dir) => {
      val d = t(s, dir)("documents")
      def withBigrams(df: DataFrame): DataFrame =
        df.select(col("doc_id"), graft.core.Tok.words(col("text")).as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"),
            array_distinct(expr(
              "transform(sequence(1, size(w) - 1)," +
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
              .as("bigrams"))
      val a = withBigrams(d).withColumnRenamed("bigrams", "a")
      val b = withBigrams(d).withColumnRenamed("bigrams", "b")
        .withColumnRenamed("doc_id", "doc_id_b")
      a.join(b, col("doc_id") + 1 === col("doc_id_b"))
        .select(col("doc_id"),
          round(size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b"))), 6).as("jaccard"))
    },
    Some("""
      WITH t0 AS (
        SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])) AS bigrams
        FROM t0
        WHERE len(w) >= 2)
      SELECT a.doc_id,
             round(CAST(len(list_filter(a.bigrams, x -> list_contains(b.bigrams, x))) AS DOUBLE)
                   / len(list_distinct(a.bigrams || b.bigrams)), 6) AS jaccard
      FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id"""))

  /** Rolling-hash document fingerprint (Karp-Rabin polynomial over the
    * token stream): order-SENSITIVE, complementing q35's order-invariant
    * bag-of-words digest. The 43-bit modulus (WindowFingerprints
    * .DefaultMod) keeps every intermediate < 2^63, so the fold is exact
    * in both engines' 64-bit integers; token hashes come from the
    * shared md5-derived hash.
    */
  val q57RollingFingerprint = Q(
    "q57_rolling_fingerprint",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val hashes = transform(toks,
        t => graft.operators.Dedup.md5Hash64(t) % 1000000007L)
      t(s, dir)("documents").select(
        col("doc_id"),
        aggregate(hashes, lit(0L),
          (acc, h) => (acc * 1000003L + h) % 8999999999993L).as("fingerprint"))
    },
    Some("""
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 [CAST(('0x' || substr(md5(tk), 18, 15)) AS BIGINT) % 1000000007
                  for tk in """ + graft.core.Tok.sqlWords("text") + """]),
               (acc, h) -> (acc * 1000003 + h) % 8999999999993) AS fingerprint
      FROM documents"""))

  /** PII redaction (training-data scrubbing): emails and long digit runs
    * replaced with typed placeholders, with per-doc match counts. The
    * test corpus carries no PII, so deterministic synthetic contact lines
    * are appended first — the redaction then provably fires on every row
    * (counts oracle-checked too).
    */
  val q59Redact = Q(
    "q59_redact",
    (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val numRe = "\\d{6,}"
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com ref "),
        ((col("doc_id").cast("long") + 1000000L) * 37L).cast("string"))
      t(s, dir)("documents").select(
        col("doc_id"),
        md5(regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
          numRe, "<NUM>")).as("redacted_digest"),
        size(regexp_extract_all(aug, lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(aug, lit(numRe), lit(0)))
          .cast("long").as("n_longnums"))
    },
    Some("""
      WITH aug AS (
        SELECT doc_id,
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com ref ',
                      CAST((CAST(doc_id AS BIGINT) + 1000000) * 37 AS VARCHAR)) AS t
        FROM documents)
      SELECT doc_id,
             md5(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 '\d{6,}', '<NUM>', 'g')) AS redacted_digest,
             CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t, '\d{6,}')) AS BIGINT) AS n_longnums
      FROM aug"""))

  /** Eval-set DECONTAMINATION — the standard LLM training-data hygiene
    * pass: flag every training document sharing a word-trigram with the
    * held-out set (docs with doc_id % 199 == 0 stand in for the eval
    * split). Scale design: documents explode to DISTINCT md5-derived
    * 64-bit gram keys and meet the (tiny) eval-gram set in ONE hash
    * join on compact longs — never a doc x doc comparison, and the gram
    * key space is what shuffles, so skewed grams salt/AQE-split like
    * any hot key. Output: contaminated doc + how many distinct eval
    * grams it carries.
    */
  val q84Decontaminate = Q(
    "q84_decontaminate",
    (s, dir) => {
      // shared gram builder — totality + the InferFiltersFromGenerate
      // re-inlining fix live there (see Dedup.wordGramKeys)
      val grams = graft.operators.Dedup.wordGramKeys(
        t(s, dir)("documents"), "doc_id", "text")
      val eval_ = grams.filter(col("doc_id") % 199 === 0)
        .select(col("gk")).distinct()
      grams.filter(col("doc_id") % 199 =!= 0)
        .join(eval_, "gk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_eval_grams"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  for i in range(1, len(w) - 1)])) AS g
        FROM toks WHERE len(w) >= 3),
      keyed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 18, 15)) AS BIGINT) AS gk
        FROM grams),
      ev AS (SELECT DISTINCT gk FROM keyed WHERE doc_id % 199 = 0)
      SELECT k.doc_id, count(*) AS n_eval_grams
      FROM keyed k JOIN ev USING (gk)
      WHERE k.doc_id % 199 <> 0
      GROUP BY 1"""))

  /** Deterministic hash-based train/val/test split — reproducible at any
    * scale and under any partitioning because the assignment is a pure
    * function of doc_id (md5-derived bucket), never of row order or
    * RNG state. 90/5/5.
    */
  val q85HashSplit = Q(
    "q85_hash_split",
    (s, dir) => {
      val bucket = pmod(
        graft.operators.Dedup.md5Hash64(col("doc_id").cast("string")),
        lit(100L))
      t(s, dir)("documents").select(
        col("doc_id"), bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id,
               ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                      AS BIGINT) % 100) + 100) % 100 AS bucket
        FROM documents)
      SELECT doc_id, bucket,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM b"""))

  /** Deterministic STRATIFIED sampling — the corpus-mixing op of a
    * pretraining pipeline (sample each source at its own rate to hit a
    * target mixture): accept doc when md5-bucket(doc_id) < rate(source)
    * per mille. A pure function of (doc_id, source) — reproducible under
    * any partitioning, any cluster size, and any execution order, unlike
    * rand()-based sampling; changing one source's rate leaves every
    * other source's selected set untouched (no RNG stream coupling).
    * Output: per-source selected counts + an order-free id checksum so
    * the oracle pins the exact selected SET, not just its size.
    */
  val q107StratifiedSample = Q(
    "q107_stratified_sample",
    (s, dir) => {
      // per-mille acceptance per source family (src0.. → suffix % 4);
      // TOTAL: a source without digits maps to NULL → the default rate,
      // never an ANSI cast error (ShortDocTotalitySpec pins this)
      val fam = nullif(regexp_extract(col("source"), "(\\d+)", 1), lit(""))
        .cast("long") % 4
      val rate = when(fam === 0, 250L).when(fam === 1, 900L)
        .when(fam === 2, 600L).otherwise(100L)
      val bucket = pmod(
        graft.operators.Dedup.md5Hash64(col("doc_id").cast("string")),
        lit(1000L))
      t(s, dir)("documents")
        .filter(bucket < rate)
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"),
          sum(col("doc_id") * col("doc_id")).as("id_checksum"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id, source,
               ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                      AS BIGINT) % 1000) + 1000) % 1000 AS bucket,
               CASE CAST(nullif(regexp_extract(source, '(\d+)', 1), '')
                         AS BIGINT) % 4
                    WHEN 0 THEN 250 WHEN 1 THEN 900
                    WHEN 2 THEN 600 ELSE 100 END AS rate
        FROM documents)
      SELECT source, count(*) AS n_selected,
             CAST(sum(CAST(doc_id AS BIGINT) * doc_id) AS BIGINT) AS id_checksum
      FROM b WHERE bucket < rate
      GROUP BY 1"""))

  /** Deterministic SEQUENCE PACKING — the shard-assignment step of a
    * training-data pipeline: documents are packed, in (source, doc_id)
    * order, into consecutive ~256-token shards per source (a doc opens a
    * new shard when the running token count crosses the boundary; docs
    * are not split). The running count comes from
    * operators/PrefixSum.runningSum — a range-partitioned two-pass
    * prefix sum, NOT a global window (`Window.orderBy` without a
    * partition key is a single-reducer funnel at 100 TB; per-source
    * windows are only as parallel as the source cardinality). Per-source
    * running counts are recovered from the GLOBAL running sum by
    * subtracting each source's start offset (a tiny broadcast join), so
    * parallelism stays P-way regardless of how few sources exist. The
    * oracle computes the same thing with DuckDB's window — the hash
    * match proves the two-pass sum ≡ the window exactly.
    */
  val q111SequencePack = Q(
    "q111_sequence_pack",
    (s, dir) => {
      val W = 256
      val docs = t(s, dir)("documents")
        .select(col("doc_id"), col("source"),
          size(graft.core.Tok.words(col("text"))).cast("long").as("n_tokens"))
      val cum = graft.operators.PrefixSum.runningSum(
        docs, Seq(col("source"), col("doc_id")), col("n_tokens"), "g_cum")
      // per-source start offset = global running sum just before the
      // source's first doc = min(g_cum - n_tokens) within the source
      val base = cum.groupBy("source")
        .agg(min(col("g_cum") - col("n_tokens")).as("src_base"))
      cum.join(broadcast(base), "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"(g_cum - src_base - n_tokens) DIV $W").as("shard"))
    },
    Some("""
      SELECT doc_id, source, n_tokens,
             CAST((cum - n_tokens) // 256 AS BIGINT) AS shard
      FROM (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (
          SELECT doc_id, source,
                 CAST(len(""" + graft.core.Tok.sqlWords("text") + """) AS BIGINT) AS n_tokens
          FROM documents))"""))

  /** Near-dup CLUSTERING via distributed connected components — the
    * cluster step between candidate pairs and "keep one per cluster"
    * that pairwise dedup (q37/q108) stops short of: two docs sharing no
    * chunk still land in one cluster when a third overlaps both
    * (C4/RefinedWeb recipe). Candidate edges are the q108 chunk keys
    * reduced to per-chunk STARS (min-doc hub → member, linear in
    * members, never member×member); ConnectedComponents resolves the
    * transitive clusters in O(log diameter) label-propagation rounds
    * with one compact (long,long) shuffle pair per round. The oracle
    * recomputes the same transitive closure with a recursive CTE, so
    * the fixpoint itself is hash-gated. Docs sharing nothing are their
    * own singleton component (coalesce).
    */
  val q110ComponentDedup = Q(
    "q110_component_dedup",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val chunks = t(s, dir)("documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(slice(sequence(1, greatest(cast(ceil(size(w) / 8.0) as int), 1))," +
            " 1, greatest(cast(ceil(size(w) / 8.0) as int), 0))," +
            " i -> array_join(slice(w, (i - 1) * 8 + 1, 8), ' '))"))
          .as("line"))
        .select(col("doc_id"),
          graft.operators.Dedup.md5Hash64(col("line")).as("lk"))
        .distinct()
      val hubs = chunks.groupBy("lk").agg(min("doc_id").as("hub"))
      val edges = chunks.join(hubs, "lk")
        .filter(col("doc_id") =!= col("hub"))
        .select(col("hub").as("src"), col("doc_id").as("dst"))
        .distinct()
      val comps = graft.operators.ConnectedComponents.run(edges)
      t(s, dir)("documents").select(col("doc_id"))
        .join(comps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    },
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      chunks AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(array_to_string(
                 w[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ')), 18, 15)) AS BIGINT) AS lk
        FROM toks, unnest(generate_series(1,
               CAST(ceil(len(w) / 8.0) AS INT))) AS t(i)),
      hubs AS (SELECT lk, min(doc_id) AS hub FROM chunks GROUP BY 1),
      edges AS (
        SELECT DISTINCT hub AS a, doc_id AS b
        FROM chunks JOIN hubs USING (lk) WHERE doc_id <> hub),
      sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
      SELECT node AS doc_id, min(lbl) AS component
      FROM reach GROUP BY 1"""))

  /** Leakage-safe train/val split: near-duplicate documents must land in
    * the SAME split, or held-out evaluation leaks training text (the
    * q85 hash split is per-doc and does leak across near-dup pairs).
    * Shape: the q110 shared-chunk edge graph → distributed connected
    * components → split decided by a hash of the COMPONENT label, so
    * every member of a near-dup cluster routes together and singleton
    * docs split independently. Scale: edges are compact (long,long)
    * pairs via per-chunk hub stars (never doc×doc), CC is the
    * hash-to-min + pointer-jumping operator already bounded at 10M
    * nodes, and the split itself is one expression — no extra shuffle
    * beyond the CC rounds. Oracle recomputes the closure with a
    * recursive CTE and replays the same split hash.
    */
  val q164LeakageSafeSplit = Q(
    "q164_leakage_safe_split",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val chunks = t(s, dir)("documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(slice(sequence(1, greatest(cast(ceil(size(w) / 8.0) as int), 1))," +
            " 1, greatest(cast(ceil(size(w) / 8.0) as int), 0))," +
            " i -> array_join(slice(w, (i - 1) * 8 + 1, 8), ' '))"))
          .as("line"))
        .select(col("doc_id"),
          graft.operators.Dedup.md5Hash64(col("line")).as("lk"))
        .distinct()
      val hubs = chunks.groupBy("lk").agg(min("doc_id").as("hub"))
      val edges = chunks.join(hubs, "lk")
        .filter(col("doc_id") =!= col("hub"))
        .select(col("hub").as("src"), col("doc_id").as("dst"))
        .distinct()
      val comps = graft.operators.ConnectedComponents.run(edges)
      t(s, dir)("documents").select(col("doc_id"))
        .join(comps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
        .select(col("doc_id"), col("component"),
          when(pmod(graft.operators.Dedup.md5Hash64(
            concat(lit("s_"), col("component").cast("string"))), lit(10L)) < 8,
            lit("train")).otherwise(lit("val")).as("split"))
    },
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      chunks AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(array_to_string(
                 w[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ')), 18, 15)) AS BIGINT) AS lk
        FROM toks, unnest(generate_series(1,
               CAST(ceil(len(w) / 8.0) AS INT))) AS t(i)),
      hubs AS (SELECT lk, min(doc_id) AS hub FROM chunks GROUP BY 1),
      edges AS (
        SELECT DISTINCT hub AS a, doc_id AS b
        FROM chunks JOIN hubs USING (lk) WHERE doc_id <> hub),
      sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
      SELECT node AS doc_id, min(lbl) AS component,
             CASE WHEN CAST('0x' || substr(md5('s_' || min(lbl)), 18, 15)
                        AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'val' END AS split
      FROM reach GROUP BY 1"""))

  /** Corpus-wide LINE dedup with per-document reconstruction — the
    * C4-recipe hygiene pass (any line occurring more than once across
    * the whole corpus is kept only at its FIRST occurrence, then
    * documents are re-assembled from their surviving lines). The
    * synthetic corpus has no newlines, so "lines" are deterministic
    * 8-token chunks (total slice-bounded expression per the round-5
    * lesson). Scale shape: lines shuffle once on their 64-bit hash,
    * winners are min(doc_id, idx) per hash — one aggregate + one
    * compact-key join back, never doc×doc — and reconstruction is a
    * per-doc sort of its own surviving chunks. Output pins the exact
    * surviving text via an md5 digest of the reassembled document.
    */
  val q108LineDedup = Q(
    "q108_line_dedup",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val lines = t(s, dir)("documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(slice(sequence(1, greatest(cast(ceil(size(w) / 8.0) as int), 1))," +
            " 1, greatest(cast(ceil(size(w) / 8.0) as int), 0))," +
            " i -> array_join(slice(w, (i - 1) * 8 + 1, 8), ' '))"))
          .as(Seq("idx", "line")))
      val keyed = lines.withColumn("lk",
        graft.operators.Dedup.md5Hash64(col("line")))
      val winners = keyed.groupBy("lk")
        .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      keyed.join(winners, "lk")
        .filter(col("doc_id") === col("w.doc_id") && col("idx") === col("w.idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("idx"), col("line")))),
              st => st.getField("line")), " ")).as("kept_digest"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      chunks AS (
        SELECT doc_id, i AS idx,
               array_to_string(w[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ') AS line
        FROM toks, unnest(generate_series(1,
               CAST(ceil(len(w) / 8.0) AS INT))) AS t(i)),
      keyed AS (
        SELECT doc_id, idx, line,
               CAST(('0x' || substr(md5(line), 18, 15)) AS BIGINT) AS lk
        FROM chunks),
      kept AS (
        SELECT doc_id, idx, line
        FROM (SELECT *, row_number() OVER (PARTITION BY lk
                        ORDER BY doc_id, idx) AS rn FROM keyed)
        WHERE rn = 1)
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(line, ' ' ORDER BY idx)) AS kept_digest
      FROM kept GROUP BY 1"""))

  /** Repetition signals (the Gopher/C4 quality-filter family): per-doc
    * duplicate-word fraction and most-frequent-word share. One explode +
    * two partial-aggregating groupBys on doc_id — map-side combine keeps
    * the shuffle at distinct-(doc, word) width, and no windows.
    */
  val q86Repetition = Q(
    "q86_repetition",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      t(s, dir)("documents")
        .select(col("doc_id"), explode(toks).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_words"), count(lit(1)).as("n_distinct"),
          max("c").as("max_c"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct") / col("n_words"), 6)
            .as("dup_word_frac"),
          round(col("max_c") / col("n_words"), 6).as("top_word_frac"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               unnest(""" + graft.core.Tok.sqlWords("text") + """) AS word
        FROM documents),
      wc AS (
        SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct, max(c) AS max_c
        FROM wc GROUP BY 1)
      SELECT doc_id, n_words, n_distinct,
             round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
             round(CAST(max_c AS DOUBLE) / n_words, 6) AS top_word_frac
      FROM agg"""))

  /** Repeated-SPAN detection — the exact-substring dedup pass LM
    * training pipelines run corpus-wide (repeated 16-token spans across
    * documents): every token window hashes to a Karp-Rabin fold (q57's
    * proven cross-engine recipe), windows are DISTINCT per doc, spans
    * seen in 2+ docs are "shared", and each doc reports how many of its
    * distinct spans are shared. Scale design: only compact 64-bit span
    * keys shuffle (two-phase: hash groupBy to find shared spans, then a
    * key-only join back) — document text never travels, and there is no
    * doc x doc stage at any corpus size.
    */
  val q98SpanDedup = Q(
    "q98_span_dedup",
    (s, dir) => {
      val span = 16
      val toks = graft.core.Tok.words(col("text"))
      val hashes = transform(toks,
        t => graft.operators.Dedup.md5Hash64(t) % 1000000007L)
      // WindowFingerprints = the codegen form of
      //   transform(sequence(1, greatest(size(hs)-15, 1)), i ->
      //     aggregate(slice(hs, i, 16), 0L, (acc,h) -> (acc*1000003+h)%p))
      // — one primitive pass, no per-window slice allocation or boxing
      // (ScalaCheck pins the equivalence). It is TOTAL on short inputs:
      // the explode's inferred non-empty predicate lands in the SAME
      // Filter as the size guard and codegen subexpression elimination
      // evaluates the shared window expr before the AND short-circuits,
      // so it must not rely on the upstream filter for safety.
      val windows = t(s, dir)("documents")
        .select(col("doc_id"), hashes.as("hs"))
        .filter(size(col("hs")) >= span)
        .select(col("doc_id"), array_distinct(
          graft.functions.WindowFingerprints(col("hs"), span)).as("ws"))
        .select(col("doc_id"), explode(col("ws")).as("w"))
      val shared = windows.groupBy("w")
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("w")
      windows.join(shared, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_spans"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               [CAST(('0x' || substr(md5(tk), 18, 15)) AS BIGINT) % 1000000007
                for tk in """ + graft.core.Tok.sqlWords("text") + """] AS hs
        FROM documents),
      w AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i:i+15]),
                              (acc, h) -> (acc * 1000003 + h) % 8999999999993)
                  for i in range(1, len(hs) - 14)])) AS w
        FROM toks WHERE len(hs) >= 16),
      sh AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2)
      SELECT doc_id, count(*) AS n_shared_spans
      FROM w JOIN sh USING (w)
      GROUP BY 1"""))

  /** TF-IDF keyword extraction: top-3 terms per document.
    *
    * Scoring uses the RATIONAL idf form `tf * N / df` (exact long product,
    * one IEEE division) instead of `tf * ln(N/df)`: the ordering is
    * identical (ln is monotone) and the score is bit-reproducible across
    * engines — `ln` implementations are not guaranteed to round
    * identically, exact integer products + one division are.
    *
    * Scale shape: explode → (doc_id, term) partial-agg shuffle; df is a
    * second agg over the already-distinct tf pairs (no Expand rewrite);
    * N is a broadcast scalar; the rank window partitions on doc_id (hash
    * shuffle, millions of partitions' worth of keys — never global).
    */
  val q131Tfidf = Q(
    "q131_tfidf",
    (s, dir) => {
      val d = t(s, dir)("documents")
      val toks = filter(graft.core.Tok.words(col("text")), t => length(t) >= 3)
      val terms = d.select(col("doc_id"), explode(toks).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(""" + graft.core.Tok.sqlWords("text") + """, t -> len(t) >= 3)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      sc AS (
        SELECT doc_id, term, tf, df,
               CAST(tf * n AS DOUBLE) / df AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (
        SELECT doc_id, term, tf, df, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS BIGINT) AS rnk
        FROM sc)
      SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3"""))

  /** RAG-style chunking: overlapping token windows (window 32, stride 24).
    *
    * nChunks = ((max(n-32,0)+23) div 24) + 1 in pure integer arithmetic,
    * always >= 1, so `sequence` is TOTAL — per the q98 lesson, array-window
    * expressions must not rely on an upstream filter for safety. `slice`
    * clips at the end of the document, so the last chunk is short rather
    * than padded. Emits md5 of each chunk (not the text) to keep the
    * dump row-sized. Embarrassingly parallel scan — zero shuffles.
    */
  val q132ChunkOverlap = Q(
    "q132_chunk_overlap",
    (s, dir) => {
      val win = 32
      val stride = 24
      val toks = graft.core.Tok.wordsCased(col("text"))
      // int-exact: the double quotient of exact small ints truncates to
      // the floor (cast toward zero, operands non-negative)
      val nChunks =
        ((greatest(size(col("tk")) - win, lit(0)) + (stride - 1))
          / stride).cast("int") + 1
      val start = (col("chunk_id").cast("int") - 1) * stride + 1
      val chunk = slice(col("tk"), start, lit(win))
      t(s, dir)("documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), nChunks)).as("chunk_id"))
        .select(
          col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          size(chunk).cast("long").as("n_chunk_tokens"),
          md5(array_join(chunk, " ")).as("chunk_md5"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWordsCased("text") + """ AS tk
        FROM documents),
      c AS (
        SELECT doc_id, tk,
               unnest(generate_series(
                 1, ((greatest(len(tk) - 32, 0) + 23) // 24) + 1)) AS chunk_id
        FROM toks)
      SELECT doc_id,
             CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(tk[(chunk_id-1)*24+1 : (chunk_id-1)*24+32]) AS BIGINT)
               AS n_chunk_tokens,
             md5(array_to_string(tk[(chunk_id-1)*24+1 : (chunk_id-1)*24+32], ' '))
               AS chunk_md5
      FROM c"""))

  /** Adjacent-token-pair counts — the inner step of BPE/WordPiece merge
    * training — global top-20 pairs.
    *
    * Pairs come from zipping the token array with its own tail via two
    * clipped `slice`s (TOTAL on 0/1-token docs — `element_at` would throw
    * under ANSI). Count then TakeOrderedAndProject: the (cnt DESC, pair)
    * order is TOTAL so the limit boundary is deterministic in both
    * engines. Shuffle is on the pair key with map-side partial agg —
    * vocabulary-pair cardinality, not corpus cardinality, at 100 TB.
    */
  val q133BpePairs = Q(
    "q133_bpe_pairs",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val nPairs = greatest(size(col("tk")) - 1, lit(0))
      val zipped = arrays_zip(
        slice(col("tk"), lit(1), nPairs).as("a"),
        slice(col("tk"), lit(2), nPairs).as("b"))
      t(s, dir)("documents")
        .select(toks.as("tk"))
        .select(explode(zipped).as("z"))
        .select(concat(col("z.a"), lit(" "), col("z.b")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT """ + graft.core.Tok.sqlWords("text") + """ AS tk
        FROM documents),
      p AS (
        SELECT unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])
               AS pair
        FROM toks)
      SELECT pair, CAST(count(*) AS BIGINT) AS cnt
      FROM p GROUP BY 1
      ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Heavy hitters (tokens in > 1% of the corpus token stream) via the
    * two-pass Misra–Gries shape: pass 1 collects <= 128 bounded-state
    * candidates (functions/FrequentItems — guaranteed a superset of
    * anything above N/129 > the 1% cut), pass 2 exact-counts ONLY rows
    * surviving a broadcast join against the candidates. The final filter
    * is on exact counts, so the result is deterministic and equals the
    * oracle's plain GROUP BY ... HAVING — but no full-vocabulary shuffle
    * ever happens, which is the difference at 100 TB between shuffling
    * <= 128 counters per task and shuffling every distinct token.
    */
  val q136HeavyHitters = Q(
    "q136_heavy_hitters",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val tok = t(s, dir)("documents").select(explode(toks).as("tok"))
      val cand = tok
        .agg(graft.functions.FrequentItems(128)(col("tok")).as("cand"))
        .select(explode(col("cand")).as("tok"))
      val n = tok.agg(count(lit(1)).as("n"))
      tok.join(broadcast(cand), "tok")
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .filter(col("cnt") * 100 > col("n"))
        .select(col("tok"), col("cnt"))
    },
    Some("""
      WITH tok AS (
        SELECT unnest(""" + graft.core.Tok.sqlWords("text") + """) AS tok
        FROM documents)
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1
      HAVING count(*) * 100 > (SELECT count(*) FROM tok)"""))

  /** Token-budget corpus selection — the "assemble a training mix" op:
    * rank documents by quality (q32's score, doc_id tiebreak) and keep
    * the best until the running token total reaches 10% of the corpus.
    *
    * The running total goes through PrefixSum (range partition + P
    * collected partials + one streaming pass), NOT a single-reducer
    * global window — same scale posture q125 pins. The budget compare
    * is exact integer arithmetic (cum*10 <= total), and the fraction
    * makes the cut bite identically at every SF.
    */
  val q137TokenBudget = Q(
    "q137_token_budget",
    (s, dir) => {
      val scored = t(s, dir)("documents").select(
        col("doc_id"),
        qualityScore.as("quality"),
        size(graft.core.Tok.wordsCased(col("text"))).cast("long")
          .as("n_tokens"))
      val withCum = graft.operators.PrefixSum.runningSum(
        scored, Seq(col("quality").desc, col("doc_id").asc),
        col("n_tokens"), "cum_tokens")
      val total = scored.agg(sum("n_tokens").as("total_tokens"))
      withCum.crossJoin(broadcast(total))
        .filter(col("cum_tokens") * 10 <= col("total_tokens"))
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    },
    Some(s"""
      WITH w0 AS (
        SELECT doc_id, text,
               ${graft.core.Tok.sqlWordsCased("text")} AS w
        FROM documents),
      f AS (
        SELECT doc_id,
               CAST(nullif(len(w), 0) AS DOUBLE) AS n_tokens_d,
               CAST(len(list_distinct(w)) AS DOUBLE) AS n_distinct,
               CAST(${occSql("text", " the ")} + ${occSql("text", " a ")}
                    + ${occSql("text", " of ")} AS DOUBLE) AS stops,
               CAST(len(w) AS BIGINT) AS n_tokens
        FROM w0),
      sc AS (
        SELECT doc_id,
               round(least(n_tokens_d / 100.0, 1.0) * 0.4
                     + (n_distinct / n_tokens_d) * 0.4
                     + least(round(stops / n_tokens_d, 6) * 5, 1.0) * 0.2, 6)
                 AS quality,
               n_tokens
        FROM f),
      c AS (
        SELECT doc_id, quality, n_tokens,
               sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sc)
      SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c WHERE cum_tokens * 10 <= (SELECT sum(n_tokens) FROM sc)"""))

  /** Bigram familiarity — a CCNet-style LM-perplexity proxy without the
    * LM: score each document by the mean corpus frequency of its
    * adjacent token pairs (docs full of rare bigrams rank low / noisy).
    * All-integer sums + one IEEE division keep it bit-reproducible —
    * the log-domain perplexity form would reintroduce cross-engine
    * libm drift for an identical ranking.
    *
    * Scale shape: the pair relation is q133's shuffle; global pair
    * counts partial-aggregate on the compact pair key, and the join
    * back is pair-key hash — never doc x doc, never a vocabulary
    * broadcast.
    */
  val q138BigramFamiliarity = Q(
    "q138_bigram_familiarity",
    (s, dir) => {
      val toks = graft.core.Tok.words(col("text"))
      val nPairs = greatest(size(col("tk")) - 1, lit(0))
      val zipped = arrays_zip(
        slice(col("tk"), lit(1), nPairs).as("a"),
        slice(col("tk"), lit(2), nPairs).as("b"))
      val pairs = t(s, dir)("documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), explode(zipped).as("z"))
        .select(col("doc_id"),
          concat(col("z.a"), lit(" "), col("z.b")).as("pair"))
      val global = pairs.groupBy("pair").agg(count(lit(1)).as("gcnt"))
      pairs.join(global, "pair")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum("gcnt").as("sum_gcnt"))
        .withColumn("familiarity",
          col("sum_gcnt").cast("double") / col("n_bigrams"))
        .select("doc_id", "n_bigrams", "sum_gcnt", "familiarity")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS tk
        FROM documents),
      p AS (
        SELECT doc_id,
               unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])
                 AS pair
        FROM toks),
      g AS (SELECT pair, CAST(count(*) AS BIGINT) AS gcnt FROM p GROUP BY 1)
      SELECT doc_id,
             count(*) AS n_bigrams,
             CAST(sum(gcnt) AS BIGINT) AS sum_gcnt,
             CAST(CAST(sum(gcnt) AS BIGINT) AS DOUBLE) / count(*) AS familiarity
      FROM p JOIN g USING (pair)
      GROUP BY 1"""))

  /** The EVAL-side contamination report (q84's inverse direction): for
    * every eval document, what fraction of its distinct 3-grams appears
    * anywhere in the training corpus — the acceptance report run before
    * a corpus ships. Grams join on the compact 64-bit hash key (train
    * side deduplicated first), counts are exact, the rate is one IEEE
    * division of exact longs. Same no-doc×doc posture as q84: gram-key
    * hash joins only.
    */
  val q151EvalContamination = Q(
    "q151_eval_contamination",
    (s, dir) => {
      def grams(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Dedup.wordGramKeys(df, "doc_id", "text")
      val docs = t(s, dir)("documents")
      val evalG = grams(docs.filter(col("doc_id") % 199 === 0))
      val trainG = grams(docs.filter(col("doc_id") % 199 =!= 0))
        .select("gk").distinct()
      val tot = evalG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hit = evalG.join(trainG, Seq("gk"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
        .withColumn("contamination_rate",
          col("n_contaminated").cast("double") / col("n_grams"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  for i in range(1, len(w) - 1)])) AS g
        FROM toks WHERE len(w) >= 3),
      ev AS (SELECT * FROM grams WHERE doc_id % 199 = 0),
      tr AS (SELECT DISTINCT g FROM grams WHERE doc_id % 199 <> 0),
      tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
      hit AS (
        SELECT doc_id, count(*) AS n_contaminated
        FROM ev WHERE g IN (SELECT g FROM tr) GROUP BY 1)
      SELECT tot.doc_id, tot.n_grams,
             CAST(coalesce(hit.n_contaminated, 0) AS BIGINT) AS n_contaminated,
             CAST(coalesce(hit.n_contaminated, 0) AS DOUBLE) / tot.n_grams
               AS contamination_rate
      FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id"""))

  /** HTML → training-text extraction — the CommonCrawl/WET-style step
    * every web-scale corpus pipeline runs before the q32/q147 quality
    * stages (trafilatura/jusText's shape, as pure codegen'd column
    * expressions): strip script/style blocks, mark anchors with a
    * sentinel token, break block-level closings into lines, strip the
    * remaining tags, then drop boilerplate lines by the two classic
    * heuristics — minimum real-token count AND link density (a line
    * whose tokens are ≥20% anchors is navigation/ads chrome, however
    * long it is). Emits the cleaned text, kept-line and link counts,
    * and the extracted/raw length ratio per document.
    *
    * The HTML is synthesized deterministically from the documents row
    * (title/nav/h1/body/ads/footer + doc_id%3 extra nav links) with the
    * IDENTICAL expression in the oracle, so extraction — not fixture
    * plumbing — is what the gate checks. Regexes stay in the
    * Java-regex ∩ RE2 common dialect; the oracle flattens the per-line
    * lambda work through zipped unnests (DuckDB nested-lambda limits)
    * and rebuilds line order with string_agg(... ORDER BY li). At
    * 100 TB this is an embarrassingly parallel scan — no shuffle at
    * all until the (tiny) output aggregation a consumer might add.
    */
  val q158HtmlExtract = Q(
    "q158_html_extract",
    (s, dir) => {
      val d = t(s, dir)("documents")
      val html = concat(
        lit("<html><head><title>"), col("source"), lit(" #"),
        col("doc_id").cast("string"),
        lit("</title><script>var v="), col("doc_id").cast("string"),
        lit(";</script><style>.x{color:#fff}</style></head><body><nav>" +
          "<a href=\"/h\">home</a> <a href=\"/c\">contact</a>"),
        expr("repeat('<a href=\"/x\">more link here</a>', CAST(doc_id % 3 AS INT))"),
        lit("</nav><h1>"), col("lang"), lit("</h1><p>"), col("text"),
        lit("</p><div class=\"ads\">buy now click here</div>" +
          "<footer>copyright "),
        col("source"), lit("</footer></body></html>"))
      val ex = graft.operators.HtmlExtract.extract(html)
      d.select(col("doc_id"), ex.as("ex"), html.as("html"))
        .select(col("doc_id"),
          col("ex.n_links").as("n_links"),
          col("ex.n_kept").as("n_kept"),
          round(length(col("ex.kept_text")).cast("double")
            / length(col("html")), 6).as("ratio"),
          col("ex.kept_text").as("kept_text"))
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               '<html><head><title>' || source || ' #' || CAST(doc_id AS VARCHAR) ||
               '</title><script>var v=' || CAST(doc_id AS VARCHAR) ||
               ';</script><style>.x{color:#fff}</style></head><body><nav>' ||
               '<a href="/h">home</a> <a href="/c">contact</a>' ||
               repeat('<a href="/x">more link here</a>', CAST(doc_id % 3 AS INT)) ||
               '</nav><h1>' || lang || '</h1><p>' || text ||
               '</p><div class="ads">buy now click here</div><footer>copyright ' ||
               source || '</footer></body></html>' AS html
        FROM documents),
      mk AS (
        SELECT doc_id, html,
               regexp_replace(regexp_replace(regexp_replace(html,
                 '<script[^>]*>.*?</script>', '', 'g'),
                 '<style[^>]*>.*?</style>', '', 'g'),
                 '<a [^>]*>', ' _A_ ', 'g') AS marked
        FROM h),
      st AS (
        SELECT doc_id, html, marked,
               regexp_replace(regexp_replace(marked,
                 '</(p|div|h1|nav|footer)>', chr(10), 'g'),
                 '<[^>]+>', ' ', 'g') AS stripped
        FROM mk),
      ln AS (
        SELECT doc_id, unnest(string_split(stripped, chr(10))) AS raw,
               unnest(generate_series(1, len(string_split(stripped, chr(10))))) AS li
        FROM st),
      tok AS (
        SELECT doc_id, li,
               list_filter(string_split(trim(
                 regexp_replace(raw, '\s+', ' ', 'g')), ' '),
                 tk -> len(tk) > 0) AS ts
        FROM ln),
      lstat AS (
        SELECT doc_id, li, ts,
               len(list_filter(ts, tk -> tk = '_A_')) AS nl, len(ts) AS nt
        FROM tok),
      keptl AS (
        SELECT doc_id, li,
               array_to_string(list_filter(ts, tk -> tk <> '_A_'), ' ') AS cl
        FROM lstat WHERE nt - nl >= 5 AND nl * 5 <= nt),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(cl, ' ' ORDER BY li) AS kept_text
        FROM keptl GROUP BY 1)
      SELECT st.doc_id,
             CAST((length(marked) - length(replace(marked, '_A_', ''))) / 3 AS BIGINT)
               AS n_links,
             coalesce(a.n_kept, 0) AS n_kept,
             round(CAST(length(coalesce(a.kept_text, '')) AS DOUBLE)
                   / length(st.html), 6) AS ratio,
             coalesce(a.kept_text, '') AS kept_text
      FROM st LEFT JOIN agg a ON st.doc_id = a.doc_id"""))

  /** Bloom-prefiltered decontamination: q84's eval-3-gram check with the
    * broadcast bit-array prefilter a 100 TB corpus needs. The eval-side
    * distinct gram keys stay DISTRIBUTED end to end (r15 verdict weak
    * item): the bloom bit array — sized from the eval gram COUNT at
    * load ≈ 0.25 (m = 12·n words-rounded, floor 2^16, cap 2^30; a fixed
    * 65536-bit filter saturated to ~5% FPR at sf1, the r16 weak item) —
    * is folded in-plan by the mergeable
    * [[graft.functions.BloomBits]] Aggregator — one m/64-long partial per
    * partition, bitwise-OR merge, finished filter broadcast to every scan
    * task as ONE row via a single-row crossJoin (the TextMacroBench
    * decon_bloom shape). Nothing about the eval set ever touches the
    * driver, so build memory/time no longer grow with eval gram count.
    * The training pass is then a SINGLE uncached scan: positions tested
    * against the broadcast bit array, survivors exact-verified by a
    * broadcast join against the (cached, small) eval keys. Only grams
    * whose three bits are all set reach the verify join.
    * No false negatives, so n_exact_grams equals q84's unfiltered answer;
    * n_candidate_grams ≥ n_exact_grams exposes the false-positive rate.
    * The oracle replays the bit arithmetic as a distinct-positions set
    * (membership ⇔ all three positions present — identical semantics;
    * the md5 position arithmetic is unchanged from the driver-side form).
    *
    * Reference decontaminates eval overlap the exact-join way
    * (data_pipelines' filtering stage); the Bloom stage is the scale
    * path that keeps the join input linear in the CONTAMINATED set.
    */
  val q162BloomDecontaminate = Q(
    "q162_bloom_decontaminate",
    (s, dir) => {
      // shared gram builder (totality + the InferFiltersFromGenerate
      // re-inlining fix — see Dedup.wordGramKeys). The COMPACT
      // (doc_id, gk) table is cached and feeds BOTH the eval side and
      // the train probe (r18: the eval branch otherwise re-runs the
      // full tokenize+gram+md5 pass — measured ~3.5 s of q162's sf1
      // time; 16 bytes/gram, the table a production pipeline would
      // persist anyway).
      val grams = graft.operators.Dedup.wordGramKeys(
        t(s, dir)("documents"), "doc_id", "text").cache()
      // eval keys (small side): distinct gk, cached — consumed three
      // times (count, bloom build, verify join), never collected to the
      // driver.
      val evalGk = grams.filter(col("doc_id") % 199 === 0)
        .select("gk").distinct().cache()
      // size m from the eval gram count: 3 positions/key at load ≈ 0.25
      // → m = 12·n rounded up to a word, FPR ≈ 1.5% at ANY scale (the
      // r16 verdict weak item: a FIXED 65536-bit filter saturated to
      // ~5% FPR at sf1 and made this the only super-linear headline).
      // The count is ONE long — algorithm-bounded, and it materializes
      // the cache the two later consumers reuse. Floor 65536 keeps tiny
      // SFs off degenerate word counts; cap 2^30 bits = 128 MB bounds
      // the aggregator buffer (the r12 big-buffer merge lesson).
      val nEval = evalGk.count()
      val m = math.max(65536L,
        math.min(1L << 30, ((nEval * 12L + 63L) / 64L) * 64L))
      // positions are shifted windows of the md5-derived key itself —
      // the md5Hash64("gk_j") form cost three full md5 chains per
      // probed TRAIN gram (~13 s of the 30 s sf1 headline time)
      def pos(j: Int): Column =
        graft.operators.Dedup.bloomPos(col("gk"), j, m)
      // distributed bloom build: explode the 3 md5 positions per key,
      // compact-long repartition bounds the single-reducer fan-in
      // (the r12 big-buffer merge lesson), OR-merge partials in the
      // Aggregator. The finished one-row filter reaches the train scan
      // as a SCALAR SUBQUERY: Spark executes it once and embeds the
      // word array as a runtime literal in the filter's codegen — no
      // driver collect AND no per-row copy of the m/8-byte array (the
      // crossJoin(broadcast) attach measured +1 s at sf0.1 from copying
      // 8 KB into every train gram row).
      val bloom = evalGk
        .select(explode(array(pos(0), pos(1), pos(2))).as("p"))
        .repartition(8)
        .agg(graft.functions.BloomBits(m.toInt)(col("p")).as("words"))
      val words = bloom.scalar()
      def bitSet(p: String): Column =
        call_function("shiftright",
          element_at(words, expr(s"cast($p div 64 as int) + 1")),
          expr(s"cast($p % 64 as int)")).bitwiseAND(1) === 1
      val evalDf = evalGk.withColumn("hit", lit(1L))
      grams.filter(col("doc_id") % 199 =!= 0)
        .withColumn("p0", pos(0)).withColumn("p1", pos(1)).withColumn("p2", pos(2))
        .filter(bitSet("p0") && bitSet("p1") && bitSet("p2"))
        .join(broadcast(evalDf), Seq("gk"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidate_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_exact_grams"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  for i in range(1, len(w) - 1)])) AS g
        FROM toks WHERE len(w) >= 3),
      keyed AS (
        SELECT doc_id, CAST('0x' || substr(md5(g), 18, 15) AS BIGINT) AS gk
        FROM grams),
      evalg AS MATERIALIZED (
        SELECT DISTINCT gk FROM keyed WHERE doc_id % 199 = 0),
      msize AS MATERIALIZED (
        SELECT greatest(65536, least(1073741824,
                 ((count(*) * 12 + 63) // 64) * 64)) AS m
        FROM evalg),
      setbits AS (
        SELECT DISTINCT
               (gk >> (15 * j)) % (SELECT m FROM msize) AS p
        FROM evalg, (SELECT unnest([0, 1, 2]) AS j)),
      trainpos AS (
        SELECT doc_id, gk, j,
               (gk >> (15 * j)) % (SELECT m FROM msize) AS p
        FROM keyed, (SELECT unnest([0, 1, 2]) AS j)
        WHERE doc_id % 199 <> 0),
      cand AS (
        SELECT doc_id, gk
        FROM trainpos tp JOIN setbits b ON tp.p = b.p
        GROUP BY doc_id, gk HAVING count(*) = 3)
      SELECT c.doc_id,
             CAST(count(*) AS BIGINT) AS n_candidate_grams,
             CAST(sum(CASE WHEN e.gk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_grams
      FROM cand c LEFT JOIN evalg e ON c.gk = e.gk
      GROUP BY c.doc_id"""),
    headline = true)

  /** Linear quality-classifier INFERENCE with the hashing trick — the
    * fastText-shaped scoring pass (Joulin et al. 2016: bag of words +
    * word bigrams, features hashed into a fixed bucket space, linear
    * model) that production pipelines run to keep/drop documents after
    * the heuristic filters. The model is a TABLE (bucket → integer
    * weight, 4096 rows) broadcast into the feature join — the real
    * deployment shape for any hashed linear/embedding-lookup model: at
    * 100 TB the scan explodes features map-side, the broadcast lookup
    * never shuffles the corpus, and one partial-agged groupBy folds the
    * per-occurrence weights. All-integer arithmetic (weights in
    * [-1000, 1000], score = exact long sum; avg > 0 ⇔ sum > 0) so both
    * engines agree bit-for-bit at any summation order. Weights here are
    * hash-derived pseudo-weights — a trained model would arrive as the
    * same (bucket, weight) table.
    */
  val q163QualityClassifier = Q(
    "q163_quality_classifier",
    (s, dir) => {
      val d = 4096L
      val weights = s.range(0, d).select(
        col("id").as("bucket"),
        (pmod(graft.operators.Dedup.md5Hash64(
          concat(lit("w_"), col("id").cast("string"))), lit(2001L)) - 1000L)
          .as("wt"))
      val toks = graft.core.Tok.words(col("text"))
      // unigrams ++ bigrams, TOTAL expression (round-5 lesson)
      val feats = t(s, dir)("documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), explode(expr(
          "concat(w, transform(slice(sequence(1, greatest(size(w) - 1, 1)), 1," +
            " greatest(size(w) - 1, 0))," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))"))
          .as("f"))
        .select(col("doc_id"),
          pmod(graft.operators.Dedup.md5Hash64(col("f")), lit(d)).as("bucket"))
      feats.join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"),
          sum(col("wt")).as("score_num"))
        .select(col("doc_id"), col("n_feats"), col("score_num"),
          when(col("score_num") > 0, 1).otherwise(0).as("keep"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      feats AS (
        SELECT doc_id,
               unnest(w || [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS f
        FROM toks),
      bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(f), 18, 15) AS BIGINT) % 4096 AS bucket
        FROM feats),
      weights AS (
        SELECT j AS bucket,
               CAST('0x' || substr(md5('w_' || j), 18, 15) AS BIGINT) % 2001
                 - 1000 AS wt
        FROM (SELECT unnest(generate_series(0, 4095)) AS j))
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(wt) AS BIGINT) AS score_num,
             CASE WHEN CAST(sum(wt) AS BIGINT) > 0 THEN 1 ELSE 0 END AS keep
      FROM bucketed JOIN weights USING (bucket)
      GROUP BY doc_id"""))

  /** URL canonicalization + dedup — the crawl-frontier hygiene pass that
    * runs BEFORE any text stage (casefold scheme/host, strip the default
    * :80 port, drop fragments and `utm_*` tracking params, sort the
    * surviving query params, trim the trailing slash), then exact-dedup
    * on the canonical form. The messy URLs are synthesized
    * deterministically from doc_id (the corpus has no URL column), with
    * every normalization rule exercised: mixed-case host, default port,
    * rotating param order/values, fragments, and a doc_id-parity
    * trailing slash that ONLY canonicalization collapses. Scale shape:
    * pure per-row string expressions (whole-stage codegen) + one
    * hash-shuffle groupBy on the canonical key — the same cost as exact
    * dedup. Oracle replays each rule with the identical regexes.
    */
  val q165UrlCanonicalize = Q(
    "q165_url_canonicalize",
    (s, dir) => {
      def m(k: Int): Column = (col("doc_id") % k).cast("string")
      val u = concat(
        lit("HTTP://WWW.Ex"), m(7), lit(".COM:80/path/"), m(25),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=s"), m(3), lit("&b="), m(5), lit("&a="), m(4),
        lit("#sec"), m(9))
      val nofrag = regexp_replace(u, "#.*$", "")
      val base = substring_index(nofrag, "?", 1)
      val qy = substring_index(nofrag, "?", -1)
      val hostPart = regexp_extract(base, "^([^/]*//[^/]*)", 1)
      val canonHost = regexp_replace(lower(hostPart), ":80$", "")
      val canonPath = regexp_replace(
        substr(base, length(hostPart) + 1, length(base)), "/$", "")
      val kept = array_join(array_sort(
        filter(split(qy, "&", -1), p => !p.startsWith("utm_"))), "&")
      val canon = concat(canonHost, canonPath,
        when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
      t(s, dir)("documents")
        .select(col("doc_id"), canon.as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("first_doc"))
    },
    Some("""
      WITH raw AS (
        SELECT doc_id,
               'HTTP://WWW.Ex' || (doc_id % 7) || '.COM:80/path/' ||
               (doc_id % 25) ||
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
               '?utm_source=s' || (doc_id % 3) || '&b=' || (doc_id % 5) ||
               '&a=' || (doc_id % 4) || '#sec' || (doc_id % 9) AS u
        FROM documents),
      parts AS (
        SELECT doc_id,
               string_split(regexp_replace(u, '#.*$', ''), '?')[1] AS base,
               string_split(regexp_replace(u, '#.*$', ''), '?')[2] AS qy
        FROM raw),
      hp AS (
        SELECT doc_id, base, qy,
               regexp_extract(base, '^([^/]*//[^/]*)', 1) AS hostpart
        FROM parts),
      canon AS (
        SELECT doc_id,
               regexp_replace(lower(hostpart), ':80$', '') ||
               regexp_replace(substr(base, length(hostpart) + 1), '/$', '') ||
               CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END
                 AS canonical_url
        FROM (SELECT doc_id, base, hostpart,
                     array_to_string(list_sort(list_filter(
                       string_split(qy, '&'),
                       p -> NOT starts_with(p, 'utm_'))), '&') AS kept
              FROM hp))
      SELECT canonical_url,
             CAST(count(*) AS BIGINT) AS n_dups,
             min(doc_id) AS first_doc
      FROM canon GROUP BY 1"""))

  /** BM25 top-k retrieval — the ranking function behind corpus search /
    * retrieval-augmented pipelines, complementing q131's TF-IDF and the
    * ANN family with term-based relevance. The "query" is the corpus's
    * three most document-frequent tokens (deterministic: df desc, term
    * asc). Okapi BM25 with k1 = 6/5, b = 3/4 in EXACT RATIONAL form:
    * rational idf (N−df+1)/(df+1) per the q131 lesson (ln is not
    * cross-engine reproducible), and the whole per-term score cleared of
    * fractions —
    *   score_t = (N−df+1)·220·tf·T / (5·(df+1)·(20·T·tf + 6·T + 18·dl·N))
    * — two exact long products (< 2^53 through the sf1-equivalent
    * corpus, so the double casts are exact), ONE division, a ×10⁶ scale
    * (hot-term idf is O(1/N) — unscaled it would vanish in the 4-dp
    * decimal), then the order-independent decimal exactSum across query
    * terms and a TakeOrdered top-20. Shapes: tf/df aggregates, a
    * 3-row broadcast query join, broadcast corpus stats — the scan
    * never reshuffles for scoring.
    */
  val q174Bm25Topk = Q(
    "q174_bm25_topk",
    (s, dir) => {
      val toksC = graft.core.Tok.words(col("text"))
      val docs = t(s, dir)("documents")
        .select(col("doc_id"), toksC.as("w"))
        .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
        .filter(col("dl") > 0)
      val terms = docs.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      // ONE tokenizer/explode pass (r20 verdict item 5): tf feeds three
      // consumers (df for the query terms, the scoring join, and — via
      // the distinct below — the corpus stats); uncached, each consumer
      // re-ran the full scan+tokenize+explode+aggregate (three corpus
      // rescans). The cached tf table is the compact per-(doc, term)
      // relation a retrieval index would persist anyway — transient
      // bytes ≈ the distinct-term text, far cheaper at scale than
      // tokenizing the corpus three times.
      val tf = terms.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        .cache()
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // (n, t) from the cached tf instead of a second corpus scan:
      // every dl>0 doc has >= 1 tf row and dl is functionally determined
      // by doc_id, so distinct (doc_id, dl) is exactly the docs relation
      // the old aggregate scanned — same n, same t, zero re-tokenize.
      val stats = tf.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), sum("dl").as("t"))
      val query = df.orderBy(col("df").desc, col("term").asc).limit(3)
      val scored = tf.join(broadcast(query), "term").crossJoin(broadcast(stats))
        .withColumn("a",
          (col("n") - col("df") + 1) * lit(220L) * col("tf") * col("t"))
        .withColumn("bden", lit(5L) * (col("df") + 1) *
          (lit(20L) * col("t") * col("tf") + lit(6L) * col("t") +
            lit(18L) * col("dl") * col("n")))
        .withColumn("sterm",
          col("a").cast("double") / col("bden").cast("double") * lit(1000000.0))
      scored.groupBy("doc_id")
        .agg(graft.core.Sql.exactSum(col("sterm")).as("bm25_scaled"),
          count(lit(1)).as("n_query_terms"))
        .orderBy(col("bm25_scaled").desc, col("doc_id").asc).limit(20)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS w
        FROM documents),
      dd AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs WHERE len(w) > 0),
      terms AS (
        SELECT d.doc_id, dd.dl, unnest(d.w) AS term
        FROM docs d JOIN dd ON d.doc_id = dd.doc_id),
      tf AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM terms GROUP BY 1, 2, 3),
      df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t
        FROM dd),
      query AS (
        SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT 3),
      scored AS (
        SELECT tf.doc_id,
               CAST((s.n - q.df + 1) * 220 * tf.tf * s.t AS DOUBLE)
               / CAST(5 * (q.df + 1) *
                      (20 * s.t * tf.tf + 6 * s.t + 18 * tf.dl * s.n)
                      AS DOUBLE) * 1000000.0 AS sterm
        FROM tf JOIN query q USING (term) CROSS JOIN stats s)
      SELECT doc_id,
             CAST(sum(CAST(sterm AS DECIMAL(27,4))) AS DOUBLE) AS bm25_scaled,
             CAST(count(*) AS BIGINT) AS n_query_terms
      FROM scored GROUP BY doc_id
      ORDER BY bm25_scaled DESC, doc_id ASC LIMIT 20"""),
    headline = true)

  /** Exact-substring corpus REWRITE (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") — q98 detects shared
    * 16-token spans; this operator actually CUTS them: every occurrence
    * of a duplicated span except the GLOBAL FIRST (smallest (doc_id,
    * position), within-doc repeats count as occurrences) has its token
    * positions removed, and each document re-emits as the surviving
    * tokens joined by single spaces (whitespace-normalized — both
    * engines join identically). A position covered by ANY non-owner
    * duplicated occurrence is cut, owner coverage does not protect it —
    * the deterministic contract both engines replay.
    *
    * Scale shape: window occurrences (doc, i, fold-hash) never leave
    * compact keys; fold-duplicated windows are a tiny candidate set that
    * is then EXACT-verified (md5Hash64 of the actual 16-token slice,
    * joined back per candidate — the q37/q39 verify-the-candidates
    * posture) so a fold collision can never cut non-duplicate text;
    * ownership is ONE groupBy on the exact key with count + a scalar
    * min (mergeable, no window function over the corpus); cut positions
    * explode only from verified non-owner occurrences; the rebuild is
    * a left-anti join against the token ledger + one sort_array per doc
    * (the q146 no-single-reducer posture). Output carries md5 of the
    * rewritten text, not the text — dumps stay compact at any SF.
    */
  /** The q202 plan over any (doc_id, text) frame — SpanRewriteSpec
    * feeds planted copies (and engineered fold collisions) through it;
    * `span` is the window width, `foldMod` the prefilter fold modulus
    * (tests shrink it to force prefilter collisions; the exact verify
    * must still refuse to cut). */
  def spanRewrite(docsIn: DataFrame, span: Int = 16,
      foldMod: Long = graft.functions.WindowFingerprints.DefaultMod): DataFrame = {
      val toks = graft.core.Tok.words(col("text"))
      val hashes = transform(toks,
        t => graft.operators.Dedup.md5Hash64(t) % 1000000007L)
      val base = docsIn
        .select(col("doc_id"), toks.as("tk"), hashes.as("hs"))
      // Ownership key = doc_id·2^20 + i (ONE BIGINT — identical
      // comparison semantics in both engines; a struct min would not
      // be). The key is only injective while every doc has < 2^20
      // tokens, so the assumption FAILS LOUDLY instead of silently
      // corrupting ownership (round-14 advice): n_tokens is computed
      // through the guard and is load-bearing in the output.
      val nTokGuarded = when(size(col("tk")) < lit(1048576),
          size(col("tk")))
        .otherwise(raise_error(concat(
          lit("q202 span_rewrite: doc "), col("doc_id").cast("string"),
          lit(" has >= 2^20 tokens - the doc_id*2^20+pos ownership key would collide"))))
      val ledger = base
        .select(col("doc_id"), nTokGuarded.as("n_tokens"),
          posexplode(col("tk")).as(Seq("p0", "tok")))
        .select(col("doc_id"), col("n_tokens"), (col("p0") + 1).as("p"),
          col("tok"))
      // ALL window occurrences (no distinct — within-doc repeats count).
      // posexplode_OUTER + isNotNull: the non-outer form infers a
      // size()>0 guard that re-evaluates the whole fingerprint pass per
      // row (the r13 explode-tax lesson — WindowFingerprints is an
      // expensive construction).
      val occ = base.filter(size(col("hs")) >= span)
        .select(col("doc_id"),
          posexplode_outer(
            graft.functions.WindowFingerprints(col("hs"), span, foldMod))
            .as(Seq("i0", "w")))
        .filter(col("w").isNotNull)
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("w"))
      val occKey = col("doc_id") * lit(1048576L) + col("i")
      // Prefilter: fold values seen >= 2 times. 43-bit default fold →
      // ~N²/9·10¹² expected FALSE candidates (≈10³ at 10⁸ windows) —
      // they cost one verify join row each, nothing more.
      val dupW = occ.groupBy("w")
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 2)
        .select("w")
      // EXACT verification: join the candidate positions back to the
      // token arrays (ships tk only for docs that HAVE candidates) and
      // key each candidate window on md5Hash64 of its literal token
      // content (60-bit, the q34/q84 proven space; tokens are
      // whitespace-split so the ' ' join is unambiguous). Two windows
      // cut against each other only when their CONTENT keys match —
      // equal content always shares the fold too, so the prefilter
      // never splits a true duplicate group.
      val candK = occ.join(dupW, "w")
        .select(col("doc_id"), col("i"))
        .join(base.select(col("doc_id"), col("tk")), "doc_id")
        .select(col("doc_id"), col("i"),
          graft.operators.Dedup.md5Hash64(
            concat_ws(" ", slice(col("tk"), col("i"), lit(span)))).as("k"))
      val owner = candK.groupBy("k")
        .agg(count(lit(1)).as("n_true"), min(occKey).as("own"))
        .filter(col("n_true") >= 2)
        .select(col("k"), col("own"))
      val cuts = candK.join(owner, "k")
        .filter(occKey =!= col("own"))
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + (span - 1))).as("p"))
        .distinct()
      val kept = ledger.join(cuts, Seq("doc_id", "p"), "left_anti")
      kept.groupBy("doc_id")
        .agg(max(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_kept"),
          md5(concat_ws(" ",
            transform(sort_array(collect_list(struct(col("p"), col("tok")))),
              x => x.getField("tok")))).as("rewritten_md5"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - col("n_kept")).as("n_cut"),
          col("rewritten_md5"))
  }

  val q202SpanRewrite = Q(
    "q202_span_rewrite",
    (s, dir) => spanRewrite(t(s, dir)("documents")),
    Some("""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + """ AS tk
        FROM documents),
      hs AS (
        SELECT doc_id, tk,
               [CAST(('0x' || substr(md5(t), 18, 15)) AS BIGINT) % 1000000007
                for t in tk] AS hs
        FROM toks),
      occ AS (
        SELECT doc_id, i,
               list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i:i+15]),
                           (acc, h) -> (acc * 1000003 + h) % 8999999999993) AS w
        FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - 15)) AS i
              FROM hs WHERE len(hs) >= 16)),
      dup AS (SELECT w FROM occ GROUP BY w HAVING count(*) >= 2),
      cand AS (
        SELECT o.doc_id, o.i,
               CAST(('0x' || substr(md5(array_to_string(t.tk[o.i:o.i+15], ' ')),
                                    18, 15)) AS BIGINT) AS k
        FROM occ o JOIN dup USING (w)
        JOIN toks t ON t.doc_id = o.doc_id),
      own AS (
        SELECT k, min(doc_id * 1048576 + i) AS own
        FROM cand GROUP BY k HAVING count(*) >= 2),
      cuts AS (
        SELECT DISTINCT c.doc_id, c.i + off.off AS p
        FROM cand c JOIN own ON own.k = c.k
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS off) off
        WHERE c.doc_id * 1048576 + c.i <> own.own),
      pos AS (
        SELECT doc_id, unnest(generate_series(1, len(tk))) AS p,
               unnest(tk) AS tok
        FROM toks WHERE len(tk) >= 1),
      nt AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens FROM toks
             WHERE len(tk) >= 1),
      kept AS (
        SELECT pos.doc_id, pos.p, pos.tok
        FROM pos LEFT JOIN cuts ON cuts.doc_id = pos.doc_id
                               AND cuts.p = pos.p
        WHERE cuts.p IS NULL)
      SELECT k.doc_id, nt.n_tokens,
             CAST(nt.n_tokens - count(*) AS BIGINT) AS n_cut,
             md5(string_agg(k.tok, ' ' ORDER BY k.p)) AS rewritten_md5
      FROM kept k JOIN nt ON nt.doc_id = k.doc_id
      GROUP BY k.doc_id, nt.n_tokens"""))

  /** The merge table q208 applies — ordered, with two MULTI-LEVEL
    * chains ((t,h)→(th,e) and (s,c)→(sc,a)→(sca,n)) so the gate
    * exercises merges whose operands are earlier merge outputs. In
    * production this table is the trained artifact (q142/q154's
    * output); a fixed list keeps the gate deterministic and the oracle
    * text generated from the SAME Scala value.
    */
  private val bpeEncodeMerges = Seq(
    ("t", "h"), ("th", "e"), ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("o", "r"), ("or", "d"), ("w", "i")).zipWithIndex
    .map { case ((a, b), i) => graft.operators.BpeTrainer.MergeStep(i, a, b, 0L) }

  /** Production BPE tokenization (ENCODE): apply a trained merge table
    * to every document — the inference twin of the q142/q154 trainer
    * family and the pass every token-budget/packing stage upstream
    * depends on. One scan, zero shuffle, zero UDF: the whole per-word
    * merge chain is codegen'd string replaces
    * ([[graft.operators.BpeTrainer.encode]]); per doc it reports the
    * BPE token count and an md5 witness of the full token stream, so
    * the hash gate pins every merge application on every word. The
    * DuckDB oracle's replace chain is GENERATED from the same merge
    * list (BpeTrainer.encodeOracleSql) — the two sides cannot drift.
    */
  val q208BpeEncode = Q(
    "q208_bpe_encode",
    (s, dir) => graft.operators.BpeTrainer.encode(
      t(s, dir)("documents"), "doc_id", "text", bpeEncodeMerges),
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               """ + graft.core.Tok.sqlWords("text") + s""" AS w
        FROM documents),
      enc AS (
        SELECT doc_id,
               array_to_string(list_transform(w,
                 tk -> ${graft.operators.BpeTrainer.encodeOracleSql(bpeEncodeMerges)}),
                 ' ') AS e
        FROM toks)
      SELECT doc_id,
             CAST(length(e) - length(replace(e, chr(1), '')) AS BIGINT)
               AS n_tokens,
             md5(e) AS enc_md5
      FROM enc"""))

  /** Deterministic mixed-script suffixes keyed by doc_id % 5 — the CJK
    * fixture the r16 verdict asked for, synthesized IN-PLAN from the
    * documents table (the established fixture pattern) so every SF gets
    * a multilingual corpus without new testdata. Scripts covered: Han
    * (trad + simplified), Hiragana, Katakana, Thai (incl. combining
    * vowel/tone marks — script=Thai codepoints, so they tokenize as
    * their own singletons identically on both engines), ideographic
    * space U+3000, and an ASCII run embedded mid-CJK.
    */
  private[queries] val unicodeSnippets = Seq(
    "深層学習モデルの訓練データ処理",
    "数据管道在大规模集群上运行　测试",
    "ひらがなとカタカナの混在テキスト",
    "ข้อมูลภาษาไทยสำหรับทดสอบ",
    "GPU加速で高速化した分散処理")

  private[queries] def unicodeSnippetSqlArray: String =
    unicodeSnippets.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Script-aware tokenization (functions/UnicodeTokens — the r16
    * verdict's TOP item): the `\s+` family turns a CJK/Thai document
    * into ONE token, silently no-opping dedup grams, TF-IDF, Gopher
    * stats and BPE on ~half of any real web corpus. The kernel
    * segments by codepoint class in one codegen'd pass (separator /
    * singleton-script / run); the oracle replays the EXACT segmentation
    * as one RE2 regex — an independent implementation, generated from
    * the same pattern constant so the two class definitions cannot
    * drift silently. Per-doc witness = md5 of the 0x1F-joined token
    * stream, so any boundary disagreement anywhere in any document
    * fails the hash gate. Scale shape: pure scan, zero shuffle before
    * the per-doc projection.
    */
  val q210UnicodeTokens = Q(
    "q210_unicode_tokens",
    (s, dir) => {
      val sn = array(unicodeSnippets.map(lit): _*)
      val toks = graft.functions.UnicodeTokens.lowered(
        concat(col("text"), lit(" "),
          element_at(sn, (col("doc_id") % 5).cast("int") + 1)))
      t(s, dir)("documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          size(filter(col("tk"), tk =>
            tk.rlike(graft.functions.UnicodeTokens.JavaSingletonPattern)))
            .cast("long").as("n_cjk"),
          size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
          md5(concat_ws("\u001f", col("tk"))).as("tok_md5"))
    },
    Some("""
      WITH syn AS (
        SELECT doc_id,
               lower(text || ' ' || (""" + unicodeSnippetSqlArray + """)
                 [CAST(doc_id % 5 AS INT) + 1]) AS t
        FROM documents),
      tok AS (
        SELECT doc_id,
               regexp_extract_all(t, '""" +
      graft.functions.UnicodeTokens.Re2Pattern + """') AS toks
        FROM syn)
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> regexp_full_match(x, '""" +
      graft.functions.UnicodeTokens.Re2SingletonPattern + """')))
               AS BIGINT) AS n_cjk,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             md5(array_to_string(toks, chr(31))) AS tok_md5
      FROM tok"""))

  /** The tokenizer seam COMPOSED into the dedup family: q84's
    * eval-3-gram decontamination over the mixed-script corpus, grams
    * built by Dedup.wordGramKeysUnicode. With the `\s+` tokenizer each
    * CJK suffix is ONE token and contributes (almost) no grams; the
    * script-aware tokens make the suffixes real gram sequences, so
    * train docs sharing an eval doc's snippet genuinely overlap — the
    * oracle replays tokenization, gram join and counts exactly.
    */
  val q211UnicodeDedupGrams = Q(
    "q211_unicode_dedup_grams",
    (s, dir) => {
      val sn = array(unicodeSnippets.map(lit): _*)
      val synth = t(s, dir)("documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" "),
            element_at(sn, (col("doc_id") % 5).cast("int") + 1)).as("text2"))
      def grams = graft.operators.Dedup.wordGramKeysUnicode(
        synth, "doc_id", "text2")
      val evalGk = grams.filter(col("doc_id") % 199 === 0)
        .select("gk").distinct()
      grams.filter(col("doc_id") % 199 =!= 0)
        .join(broadcast(evalGk), "gk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_eval_grams"))
    },
    Some("""
      WITH syn AS (
        SELECT doc_id,
               lower(text || ' ' || (""" + unicodeSnippetSqlArray + """)
                 [CAST(doc_id % 5 AS INT) + 1]) AS t
        FROM documents),
      toks AS (
        SELECT doc_id,
               regexp_extract_all(t, '""" +
      graft.functions.UnicodeTokens.Re2Pattern + """') AS w
        FROM syn),
      grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  for i in range(1, len(w) - 1)])) AS g
        FROM toks WHERE len(w) >= 3),
      keyed AS (
        SELECT doc_id, CAST('0x' || substr(md5(g), 18, 15) AS BIGINT) AS gk
        FROM grams),
      evalg AS (SELECT DISTINCT gk FROM keyed WHERE doc_id % 199 = 0)
      SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams
      FROM keyed k JOIN evalg e ON k.gk = e.gk
      WHERE k.doc_id % 199 <> 0
      GROUP BY k.doc_id"""))

  /** Arbitrary-boundary exact-substring dedup
    * (operators/SubstrDedup.scala — Lee et al.'s ExactSubstr posture,
    * unaligned): q202 only catches duplicated spans starting on
    * 16-token window boundaries; this cuts any ≥24-char corpus-repeated
    * run wherever it sits. Per-char L-windows → compact-hash candidate
    * counts → literal-gram verify (collision-proof counts/owners) →
    * per-doc mask union + surviving-text digest. The oracle replays the
    * literal-string semantics directly (the hash prefilter provably
    * drops nothing, so it has no oracle image). The small-vocab fixture
    * corpus repeats 24-char phrases naturally, so cuts are LIVE at
    * every SF; the kept_md5 witness pins the rewrite char-for-char.
    */
  val q212SubstringCut = Q(
    "q212_substring_cut",
    (s, dir) => graft.operators.SubstrDedup.cutStats(
      t(s, dir)("documents"), "doc_id", "text"),
    Some("""
      WITH pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 22, 1))) AS i
        FROM documents),
      wins AS (
        SELECT doc_id, i AS pos, substr(text, CAST(i AS INT), 24) AS g
        FROM pos),
      ver AS MATERIALIZED (
        SELECT g, count(*) AS cnt, min(doc_id * 1048576 + pos) AS owner
        FROM wins GROUP BY g HAVING count(*) >= 2),
      cuts AS (
        SELECT w.doc_id, w.pos FROM wins w JOIN ver v ON w.g = v.g
        WHERE w.doc_id * 1048576 + w.pos <> v.owner),
      perdoc AS (SELECT doc_id, list(pos) AS ps FROM cuts GROUP BY doc_id),
      m AS (
        SELECT d.doc_id, d.text,
               greatest(length(d.text) - 23, 0) AS n_windows,
               coalesce(p.ps, []) AS ps
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
      c AS (
        SELECT doc_id, text, n_windows, ps,
               list_distinct(flatten(list_transform(ps,
                 p -> range(p, p + 24)))) AS cov
        FROM m)
      SELECT doc_id,
             CAST(n_windows AS BIGINT) AS n_windows,
             CAST(len(ps) AS BIGINT) AS n_cut_windows,
             CAST(len(cov) AS BIGINT) AS n_chars_cut,
             md5(coalesce(array_to_string(list_transform(
               list_filter(range(1, length(text) + 1),
                 i -> NOT list_contains(cov, i)),
               i -> substr(text, CAST(i AS INT), 1)), ''), ''))
               AS kept_md5
      FROM c"""))

  /** Decomposed-Unicode fixture alphabet (escaped so no editor or VCS
    * normalization can silently recompose the SOURCE): kana + combining
    * voicing marks (U+3099/309A — script=INHERITED, the documented
    * tokenizer-seam hazard), Latin/Greek combining diacritics, Hangul
    * jamo (NFC composes to syllables), a Devanagari composition
    * EXCLUSION (U+0915 U+093C must STAY decomposed), and one already-
    * NFC fixed point.
    */
  private val nfcVariants: Seq[String] = Seq(
    "\u304b\u3099\u304f",            // ka+voicing ku -> gaku
    "\u30ab\u3099\u30bf\u3099",     // KA+v TA+v -> GA DA
    "e\u0301cole",                     // -> e-acute cole
    "a\u0308\u0301b",                 // a+diaeresis+acute -> one cp
    "\u1100\u1161\u11a8\u1102\u1161", // jamo -> two syllables
    "A\u030angstro\u0308m",           // -> Angstrom with ring/umlaut
    "\u03b1\u0301\u03bb\u03c6\u03b1", // -> Greek alpha-tonos...
    "\u0915\u093c\u0932",            // stays decomposed (exclusion)
    "\u00e9\u304c",                   // already NFC - fixed point
    "\u304f\u3099\u309a")            // gu + stranded semivoicing mark

  /** NFC normalization witness (functions/NfcNormalize — the r18
    * verdict's item 2): the tokenizer seam documents that decomposed
    * kana / INHERITED combining marks need caller-side NFC, and this
    * gates the expression that makes that possible. Cross-engine check
    * is java.text.Normalizer vs DuckDB's utf8proc `nfc_normalize` — two
    * independent UAX #15 implementations — via per-doc md5 of the
    * normalized string AND of the post-NFC token stream (composition
    * changes token boundaries: か+゙ is two tokens decomposed, ONE
    * singleton が composed — the md5 pins exactly that).
    */
  val q218NfcWitness = Q(
    "q218_nfc_witness",
    (s, dir) => {
      val vs = array(nfcVariants.map(lit): _*)
      val raw = concat(col("text"), lit(" "),
        element_at(vs, (col("doc_id") % nfcVariants.size).cast("int") + 1))
      val norm = graft.functions.NfcNormalize(graft.functions.LowerText(raw))
      val toks = graft.functions.UnicodeTokens(norm)
      t(s, dir)("documents").select(
        col("doc_id"),
        length(raw).cast("long").as("n_before"),
        length(norm).cast("long").as("n_after"),
        md5(norm).as("nfc_md5"),
        size(toks).cast("long").as("n_tokens_nfc"),
        md5(concat_ws("\u001f", toks)).as("tok_md5"))
    },
    Some {
      val arr = nfcVariants.map(v => s"'$v'").mkString("[", ", ", "]")
      s"""
      WITH syn AS (
        SELECT doc_id,
               text || ' ' || ($arr)[CAST(doc_id % ${nfcVariants.size} AS INT) + 1] AS raw
        FROM documents),
      n AS (
        SELECT doc_id, raw, nfc_normalize(lower(raw)) AS s FROM syn),
      tok AS (
        SELECT doc_id, raw, s,
               regexp_extract_all(s, '${graft.functions.UnicodeTokens.Re2Pattern}') AS toks
        FROM n)
      SELECT doc_id,
             CAST(length(raw) AS BIGINT) AS n_before,
             CAST(length(s) AS BIGINT) AS n_after,
             md5(s) AS nfc_md5,
             CAST(len(toks) AS BIGINT) AS n_tokens_nfc,
             md5(array_to_string(toks, chr(31))) AS tok_md5
      FROM tok"""
    })

  val qs: Seq[Q] = Seq(
    q30TextStats, q31TokenCount, q32QualityScore, q33LangId,
    q34DedupExact, q35Fingerprint, q36NgramJaccard, q57RollingFingerprint,
    q59Redact, q84Decontaminate, q85HashSplit, q86Repetition, q98SpanDedup,
    q107StratifiedSample, q108LineDedup, q110ComponentDedup,
    q111SequencePack, q131Tfidf, q132ChunkOverlap, q133BpePairs,
    q136HeavyHitters, q137TokenBudget, q138BigramFamiliarity, q165UrlCanonicalize,
    q151EvalContamination, q158HtmlExtract, q162BloomDecontaminate,
    q163QualityClassifier, q164LeakageSafeSplit, q174Bm25Topk,
    q202SpanRewrite, q208BpeEncode, q210UnicodeTokens, q211UnicodeDedupGrams,
    q212SubstringCut, q218NfcWitness)
}
