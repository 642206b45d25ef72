package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy-deduplication operators for large text corpora: MinHash+LSH and
  * SimHash. Everything is pure column expressions (codegen'd) — the only
  * shuffles are on compact hash keys, which is what makes these viable at
  * 100 TB:
  *
  *  - MinHash: shingle → K minhashes → B bands; candidate pairs meet only
  *    inside an LSH band bucket (one shuffle on (band, hash)); candidates
  *    are then verified with exact shingle Jaccard. No O(n²) stage exists
  *    anywhere — cost is bounded by true-collision density.
  *  - SimHash: 64-bit signature per doc; near-dup pairs collide on one of
  *    four 16-bit sub-bands (pigeonhole for hamming distance <= 3), then
  *    verified by exact hamming distance on the signatures.
  */
object Dedup {

  /** Deterministic 64-bit hash shared with the DuckDB oracle: the low 60
    * bits of md5, so both engines can compute it exactly
    * (DuckDB: CAST('0x' || substr(md5(x), 18, 15) AS BIGINT)). Used where
    * cross-engine reproducibility matters more than raw hash speed;
    * xxhash64 stays the default for the LSH-internal hashing whose exact
    * values never leave the engine.
    */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(c), 18, 15), 16, 10).cast("long")

  /** Driver-side twin of [[md5Hash64]] (same low 60 bits of md5 on the
    * UTF-8 bytes) for the few places that fold a SMALL collected set —
    * e.g. q162's eval-set bloom bits — without a Spark job.
    * Equality with the Column form is spec-pinned (DedupSpec).
    */
  def md5Hash64Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(17, 32), 16)
  }

  /** Bloom position j (0..2) for an md5-derived 60-bit gram key:
    * `(gk >> 15·j) % m` — three overlapping 60/45/30-bit windows of a
    * key that is ALREADY uniform md5 output, so no further hashing is
    * needed (r18: the previous md5Hash64("gk_j") position derivation
    * cost 3 full md5 chains per probed gram — measured ~13 s of q162's
    * 30 s at sf1; this form is pure integer codegen and the DuckDB
    * oracle replays it as `(gk >> 15*j) % m`). The windows overlap past
    * bit 30, which is fine for a bloom prefilter backed by an exact
    * verify; the bottom window must cover m, hence m ≤ 2^30 (the
    * existing cap).
    */
  def bloomPos(gk: Column, j: Int, m: Long): Column = {
    require(j >= 0 && j <= 2 && m <= (1L << 30), s"bloomPos j=$j m=$m")
    pmod(shiftright(gk, 15 * j), lit(m))
  }

  /** Distinct word n-gram shingles of a text column, in first-occurrence
    * order. Docs with fewer than n tokens (and null text) yield an empty
    * array. Tokenization is the script-aware default seam
    * ([[graft.core.Tok]]) since r18 — CJK/Thai docs shingle over
    * singleton codepoints instead of collapsing into one `\s+` token;
    * ASCII shingles are unchanged (the kernel degenerates to the legacy
    * split there). One codegen'd kernel ([[graft.functions.WordShingles]])
    * builds them: the higher-order chain it replaced ran interpreted, and
    * where a `size(sh) > 0` Filter was pushed below the projection it
    * re-tokenized the document once per shingle (~50× per doc). A caller
    * that filters on the shingles should do so above a materialization
    * ([[minhashCandidates]]), or the filter still re-inlines the
    * tokenizer once.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(graft.core.Tok.words(text), n)

  /** `xxhash64` of every shingle (one kernel, bit-identical to
    * `transform(sh, s -> xxhash64(s))`).
    */
  def shingleHashes(shingleCol: Column): Column =
    graft.functions.ShingleHashes(shingleCol)

  /** The (id, gk) table of DISTINCT word-3-gram 60-bit md5 keys — the
    * shared gram builder of the decontamination family (q84/q151/q162/
    * q147 stage 4). Tokens come from the script-aware default seam
    * ([[graft.core.Tok.words]] — CJK/Thai singletons, ASCII identical
    * to the legacy `\s+` split); grams are the space-joined triples of
    * [[shingles]]; keys are [[md5Hash64]] so the DuckDB oracle replays
    * them exactly (its tokens come from the RE2 regex GENERATED from the
    * same pattern constant).
    *
    * No Filter sits below the generator: the gram kernel returns an
    * empty array for docs with fewer than 3 tokens, so nothing is
    * pushed down to re-evaluate the tokenizer. explode_OUTER,
    * deliberately: with plain explode, InferFiltersFromGenerate adds a
    * `size(gs) > 0` guard that pushes below the projection, re-inlining
    * the WHOLE gram construction — tokenization included — into a
    * Filter (measured 12.3 s vs 1.1 s on the sf0.1 documents scan when
    * that construction was a higher-order chain). The outer form infers
    * no such predicate; the isNotNull above the generator drops the one
    * null row an empty gram array emits.
    */
  def wordGramKeys(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode_outer(shingles(col(textCol), 3)).as("g"))
      .filter(col("g").isNotNull)
      .select(col(idCol), md5Hash64(col("g")).as("gk"))

  /** Alias of [[wordGramKeys]], kept for the r17 call sites (q211) from
    * when the script-aware tokenizer was opt-in; since r18 it IS the
    * default seam.
    */
  def wordGramKeysUnicode(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    wordGramKeys(docs, idCol, textCol)

  /** MinHash signature from PRE-HASHED shingles: the k orderings come
    * from re-hashing the compact (hash, j) pair — a 16-byte xxhash64
    * instead of re-walking a ~50-char shingle string per (shingle, j),
    * and safe under ANSI mode (the classic affine-permutation trick needs
    * wraparound multiplication, which ANSI rejects as overflow). The
    * whole k-wide signature is one custom codegen'd Expression
    * ([[graft.functions.MinhashSignature]]) — a single unboxed pass,
    * no k intermediate arrays. `hashCol` should be a materialized column
    * (attribute), not an inline hashing expression, or Catalyst
    * inlines the string hashing into the consumer.
    */
  def minhashSignatureFromHashes(hashCol: Column, k: Int): Column =
    graft.functions.MinhashSignature(hashCol, k)

  /** MinHash signature straight from shingle strings (convenience; for
    * the hot path pre-hash once and use [[minhashSignatureFromHashes]]).
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    minhashSignatureFromHashes(shingleHashes(shingleCol), k)

  /** A signature's LSH bands as an array of (band_id, band_hash) structs,
    * ready to explode: `bands` bands of `k/bands` rows each, hashed
    * together. One kernel ([[graft.functions.BandHashes]]), bit-identical
    * to `xxhash64(concat_ws(',', slice(sig, b*rows + 1, rows)), b)` per
    * band, so the LSH buckets are those of the builtin form.
    */
  def bandedSignature(sigCol: Column, k: Int, bands: Int): Column =
    graft.functions.BandHashes(sigCol, k, bands)

  /** Candidate duplicate pairs (idA < idB) that share at least one LSH
    * band bucket, with exact Jaccard over the shingle sets attached.
    * `docs` must have columns (idCol, textCol).
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    // shingle+hash table: strings hashed ONCE into a materialized column
    // (so the k-way permutation below reads longs, never re-hashes
    // strings), reused by banding and by verification (at cluster scale
    // this is the table you'd persist). Each document is tokenized once:
    // the empty-shingle filter reads the cached attribute, where a
    // filter below the cache would be pushed under the projection and
    // re-inline the tokenizer into its condition. Docs with fewer than n
    // tokens stay in the cache with empty arrays and never reach a band.
    val sh = docs.select(col(idCol).as("id"),
      shingles(col(textCol), n).as("sh"))
      .withColumn("shh", shingleHashes(col("sh")))
      .cache()
    // cache the banded signatures BEFORE exploding: otherwise Catalyst
    // collapses the projection into the generator and recomputes the full
    // k-hash signature once per band row (bands× the hash work)
    val sig = sh.filter(size(col("sh")) > 0).select(col("id"),
      bandedSignature(minhashSignatureFromHashes(col("shh"), k), k, bands)
        .as("bands"))
      .cache()
    val banded = sig
      .select(col("id"), explode(col("bands")).as("b"))
      .select(col("id"),
        col("b.band_id").as("band_id"), col("b.band_hash").as("band_hash"))
    // candidate pairs meet on compact (band, hash, id) keys ONLY — the
    // heavy shingle arrays never travel through the self-join shuffle;
    // they are joined back just for the (much smaller) verification set
    val a = banded.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** MinHash dedup: drop every doc that is a verified near-duplicate
    * (jaccard >= threshold) of a lower-id doc.
    */
  def minhashDedup(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8,
      n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val dupIds = minhashCandidates(docs, idCol, textCol, n, k, bands)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Cluster-mode MinHash dedup — the full C4/RefinedWeb recipe:
    * verified candidate pairs become edges, [[ConnectedComponents]]
    * resolves the TRANSITIVE clusters, and exactly one survivor (the
    * min id) is kept per cluster. Differs from pairwise [[minhashDedup]]
    * on chain shapes: with sim(1,3)>=t and sim(2,3)>=t but sim(1,2)<t,
    * pairwise keeps {1,2} (2 has no smaller direct partner) while
    * cluster mode keeps {1} — transitively linked docs never co-survive.
    * Returns (id, cluster, is_survivor) for every doc; singletons are
    * their own cluster. Scale shape: LSH-bounded edge generation +
    * O(log diameter) compact-key label rounds — no all-pairs stage.
    */
  def minhashDedupClusters(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8,
      n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val edges = minhashCandidates(docs, idCol, textCol, n, k, bands)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = ConnectedComponents.run(edges)
      .withColumnRenamed("node", idCol)
    docs.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster"),
        (coalesce(col("comp"), col(idCol)) === col(idCol)).as("is_survivor"))
  }

  /** 64-bit SimHash of the token multiset: sign of the per-bit vote sum
    * of token hashes. Expressed as 64 conditional sums over exploded
    * token hashes (single shuffle on the doc id). Token hashes use
    * [[md5Hash64]] (60 effective bits; the top 4 sign bits stay 0) so the
    * signatures — which ARE the query output — are reproducible by the
    * DuckDB oracle.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("id"),
      explode_outer(graft.core.Tok.words(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("h", md5Hash64(col("tok")))
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$bit")
    }
    val voted = tokens.groupBy("id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 64).map { bit =>
      when(col(s"v$bit") > 0, shiftleft(lit(1L), bit)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    voted.select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxDist (<= 3 uses
    * the 4×16-bit pigeonhole banding; larger distances fall back to more,
    * smaller bands — here fixed at 4 bands).
    */
  def simhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sigs = simhash(docs, idCol, textCol)
    val banded = sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("band_val"))
      }: _*)).as("b"))
      .select(col("id"), col("simhash"),
        col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
    val a = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_a"), col("simhash").as("sig_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("dist", hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
