package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Tables.DataDir
import graft.operators.{Dedup, Multimodal}

/** Fuzzy-dedup + multimodal surface over the testdata tables — all fully
  * oracle-checked. The MinHash oracle is *ground truth*: because the engine
  * verifies every LSH candidate with exact shingle Jaccard, its survivor
  * set equals the exact all-pairs answer (the oracle) whenever LSH
  * has no false negative — with k=64/16 bands the miss probability at the
  * 0.8 threshold is (1-0.8^4)^16 ≈ 2e-4 per pair, and the hashes are
  * deterministic, so an observed match at a scale factor is stable. The
  * oracle computes that exact answer through PPJoin-style prefix
  * filtering ([[prefixCandSql]]) — a provably lossless candidate pruning,
  * NOT an LSH replay — so it stays ground truth while scaling near-
  * linearly to the sf1 gate (the naive O(n²) form cost >1.5 h there).
  * The SimHash oracle replicates the signature exactly (shared
  * md5-derived hash) and finds pairs through the same 4x16-bit
  * pigeonhole banding the engine uses — provably complete for
  * hamming<=3, so it too is exact, not approximate.
  */
object DedupQueries {

  /** 3-gram word shingles of lower(text), distinct, as DuckDB SQL (docs
    * with < 3 tokens have no shingles and are never dedup candidates —
    * mirrors the size(sh) > 0 filter). Tokens come from the script-aware
    * RE2 pattern GENERATED from the engine kernel's own constant
    * (graft.core.Tok — the r18 default-seam migration), so CJK/Thai
    * docs shingle over singleton codepoints on both engines; ASCII
    * shingles are unchanged.
    */
  private val shinglesSql = """
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in generate_series(1, len(t)-2)]) AS sh
    FROM (SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS t FROM %s)
    WHERE len(t) >= 3"""

  /** Prefix-filtered EXACT candidate generation for Jaccard >= 0.8 —
    * the PPJoin prefix-filter principle (Chaudhuri/Ganti/Kaushik, ICDE
    * 2006; Xiao et al., WWW 2008): sort every set by one global token
    * order (ascending document frequency puts the rarest tokens first),
    * then any pair with |A∩B| >= ceil(0.8*max(|A|,|B|)) MUST share a
    * token inside the first n - ceil(0.8*n) + 1 elements of each side
    * (pigeonhole on the sorted tails), and J >= 0.8 additionally forces
    * 5*|A| >= 4*|B| and 5*|B| >= 4*|A| (J <= min/max). `cand` is
    * therefore a PROVABLE SUPERSET of all qualifying pairs; exact
    * verification downstream makes every result identical to the
    * brute-force all-pairs form this replaces, at near-linear cost —
    * what lets the ground-truth oracles follow the engine up the SF
    * ladder (the r12 sf1-exclusion item) instead of costing O(n²) list
    * intersections. `src` must expose (doc_id, sh); emits cand(ai, bi)
    * with ai < bi. ceil(4n/5) = (4n+4)//5 in integer arithmetic.
    */
  private[queries] def prefixCandSql(src: String): String = s"""
      ex AS (SELECT doc_id, unnest(sh) AS tk FROM $src),
      dfreq AS (SELECT tk, count(*) AS df FROM ex GROUP BY 1),
      srt AS (
        SELECT e.doc_id, array_agg(e.tk ORDER BY d.df, e.tk) AS stoks,
               count(*) AS n
        FROM ex e JOIN dfreq d USING (tk) GROUP BY 1),
      pref AS (
        SELECT doc_id, n, unnest(stoks[1 : n - (4*n+4)//5 + 1]) AS tk
        FROM srt),
      cand AS (
        SELECT a.doc_id AS ai, b.doc_id AS bi
        FROM pref a JOIN pref b
          ON a.tk = b.tk AND a.doc_id < b.doc_id
         AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4
        GROUP BY 1, 2)"""

  /** MinHash+LSH dedup over documents: surviving doc count per lang after
    * dropping verified near-duplicates (jaccard >= 0.8 on 3-gram shingles).
    */
  val q37MinhashDedup = Q(
    "q37_minhash_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.8)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_survivors"))
    },
    Some(s"""
      WITH sh AS (${shinglesSql.format("documents")}),
      ${prefixCandSql("sh")},
      dups AS (
        SELECT DISTINCT c.bi AS doc_id
        FROM cand c JOIN sh a ON a.doc_id = c.ai
        JOIN sh b ON b.doc_id = c.bi
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.8)
      SELECT lang, count(*) AS n_survivors
      FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM dups)
      GROUP BY 1"""),
    headline = true)

  /** Cluster-mode MinHash dedup (Dedup.minhashDedupClusters): verified
    * LSH pairs → ConnectedComponents → one survivor per TRANSITIVE
    * cluster. Oracle rebuilds the same fixpoint from brute-force exact
    * Jaccard ground truth with a recursive CTE — valid for the same
    * reason as q37 (every engine edge is exact-verified; only
    * deterministic LSH false negatives could diverge, checked per SF).
    */
  val q112ClusterDedup = Q(
    "q112_cluster_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashDedupClusters(docs, "doc_id", "text", threshold = 0.8)
    },
    Some(s"""
      WITH RECURSIVE sh AS (${shinglesSql.format("documents")}),
      ${prefixCandSql("sh")},
      e AS (
        SELECT c.ai AS a, c.bi AS b
        FROM cand c JOIN sh sa ON sa.doc_id = c.ai
        JOIN sh sb ON sb.doc_id = c.bi
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(sa.sh || sb.sh)) >= 0.8),
      sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
      SELECT node AS doc_id, min(lbl) AS cluster,
             min(lbl) = node AS is_survivor
      FROM reach GROUP BY node"""))

  /** INCREMENTAL dedup — the production daily-ingest shape: a delta of
    * new documents is checked against an EXISTING corpus through a
    * persisted band-signature index (Layout.bucketedTable on band_hash)
    * without ever re-shingling or re-shuffling the corpus payloads at
    * match time: only the compact (band_id, band_hash, id) index rows
    * sit in the bucketed table, the small delta side shuffles to the
    * index's bucketing, candidates verify with exact Jaccard against
    * corpus shingles joined by id, and delta-internal duplicates are
    * handled by the same pairwise rule as q37. A delta doc survives iff
    * it matches no corpus doc and no lower-id delta doc.
    */
  val q116IncrementalDedup = Q(
    "q116_incremental_dedup",
    (s, dir) => {
      import graft.operators.Dedup
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)

      // no empty-shingle Filter here: pushed below the projection it
      // would evaluate the tokenizer a second time per document. Docs
      // with fewer than 3 tokens get no band rows (below), and every
      // other use of these shingles joins on ids that came from band rows
      def sh(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id").as("id"),
          Dedup.shingles(col("text"), 3).as("sh"))
      // explode_OUTER + isNotNull (the Dedup.wordGramKeys lesson): plain
      // explode's inferred size()>0 guard re-inlines the whole k=64
      // MinhashSignature + banding into a per-row Filter evaluation —
      // the signature was being computed twice per document. An empty
      // shingle set bands to null, so it explodes to the one null row
      // the isNotNull drops.
      def bandRows(d: org.apache.spark.sql.DataFrame) = sh(d)
        .withColumn("shh", Dedup.shingleHashes(col("sh")))
        .select(col("id"), when(size(col("shh")) > 0, Dedup.bandedSignature(
          Dedup.minhashSignatureFromHashes(col("shh"), 64), 64, 16))
          .as("bands"))
        .select(col("id"), explode_outer(col("bands")).as("b"))
        .filter(col("b").isNotNull)
        .select(col("id"), col("b.band_id").as("band_id"),
          col("b.band_hash").as("band_hash"))

      // persisted corpus index: compact keys only, bucketed on band_hash
      val h = Integer.toHexString(dir.hashCode)
      val index = graft.sources.Layout.bucketedTable(
        bandRows(corpus), s"graft_dedup_idx_$h",
        s"${sys.props("java.io.tmpdir")}/graft_dedup_idx_$h", 8, "band_hash")
        .select(col("band_id"), col("band_hash"), col("id").as("corpus_id"))

      val corpusSh = sh(corpus)
        .select(col("id").as("corpus_id"), col("sh").as("sh_c"))
      val deltaSh = sh(delta).cache()

      // join keyed on band_hash ALONE (band_id equality as a residual
      // filter): the index's hash-distribution on band_hash then
      // satisfies the join's requirement, so when the delta outgrows
      // broadcast range the sort-merge join shuffles ONLY the delta —
      // joining on (band_id, band_hash) would hash the composite key
      // and re-shuffle the whole index (PlanSpec pins one-Exchange)
      val vsCorpus = bandRows(delta).withColumnRenamed("band_id", "bid_d")
        .join(index.withColumnRenamed("band_id", "bid_c"), Seq("band_hash"))
        .filter(col("bid_d") === col("bid_c"))
        .select(col("id"), col("corpus_id")).distinct()
        .join(deltaSh, Seq("id"))
        .join(corpusSh, Seq("corpus_id"))
        .filter(size(array_intersect(col("sh"), col("sh_c"))).cast("double") /
          size(array_union(col("sh"), col("sh_c"))) >= 0.8)
        .select(col("id")).distinct()
      val vsDelta = Dedup.minhashCandidates(delta, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
        .select(col("id_b").as("id")).distinct()

      delta.join(vsCorpus.union(vsDelta).distinct()
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_accepted"))
    },
    Some(s"""
      WITH sh0 AS (${shinglesSql.format("documents")}),
      sh AS MATERIALIZED (SELECT doc_id, sh, doc_id % 5 = 0 AS is_delta FROM sh0),
      ${prefixCandSql("sh")},
      ver AS (
        SELECT c.ai, c.bi, a.is_delta AS da, b.is_delta AS db
        FROM cand c JOIN sh a ON a.doc_id = c.ai
        JOIN sh b ON b.doc_id = c.bi
        WHERE (a.is_delta OR b.is_delta)
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.8),
      dropped AS (
        SELECT bi AS doc_id FROM ver WHERE db AND NOT da
        UNION SELECT ai FROM ver WHERE da AND NOT db
        UNION SELECT bi FROM ver WHERE da AND db)
      SELECT lang, count(*) AS n_accepted
      FROM documents
      WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
      GROUP BY 1"""))

  /** SimHash near-dup pairs over documents (hamming <= 3 of 64-bit sigs). */
  val q38SimhashPairs = Q(
    "q38_simhash_pairs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.simhashCandidates(docs, "doc_id", "text", maxDist = 3)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(min("dist"), lit(0)).as("min_dist"))
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 18, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id,
                     unnest(""" + graft.core.Tok.sqlWords("text") + """) AS tok
              FROM documents)),
      votes AS (
        SELECT doc_id, g.bit,
               sum(CASE WHEN (h >> g.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, generate_series(0, 63) g(bit)
        GROUP BY 1, 2),
      sig AS (
        SELECT doc_id,
               bit_or(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS simhash
        FROM votes GROUP BY 1),
      bands AS (
        SELECT doc_id, simhash, g.k AS bk,
               (simhash >> (g.k * 16)) & 65535 AS bv
        FROM sig, generate_series(0, 3) g(k)),
      cand AS (
        SELECT a.doc_id AS ai, b.doc_id AS bi
        FROM bands a JOIN bands b
          ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
        FROM cand c JOIN sig a ON a.doc_id = c.ai
        JOIN sig b ON b.doc_id = c.bi
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
      SELECT count(*) AS n_pairs,
             coalesce(min(dist), 0) AS min_dist
      FROM pairs"""))

  /** Multimodal plumbing: opaque binary payloads + typed metadata
    * (byte length, digest, magic bytes) — oracle-checked; the decode stub
    * is exercised in MultimodalSpec.
    */
  val q55BlobMeta = Q(
    "q55_blob_meta",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val media = Multimodal.asMedia(docs, "doc_id", "text")
      // DuckDB 1.0 cannot slice blobs, so the oracle-facing magic is the
      // first-4-CHARS form (equivalent for byte-per-char corpora)
      Multimodal.withByteMeta(media)
        .drop("magic")
        .join(docs.select(col("doc_id").as("media_id"),
          hex(substring(col("text"), 1, 4).cast("binary")).as("magic")),
          Seq("media_id"))
        .select("media_id", "n_bytes", "digest", "magic")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS digest,
             upper(hex(encode(substr(text, 1, 4)))) AS magic
      FROM documents"""))

  /** Multimodal → embedding → similarity, end-to-end: opaque payloads get
    * a stub embedding (deterministic integer-valued components — exact in
    * double math, so the oracle matches bit-for-bit), then brute-force
    * cosine top-10 against one query payload. The embed stub is the
    * model-inference seam; everything around it is the real 100 TB plan
    * (broadcast query vector, linear scan, TakeOrderedAndProject top-k).
    */
  val q56MediaEmbedSim = Q(
    "q56_media_embed_sim",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val media = Multimodal.asMedia(docs, "doc_id", "text")
      val emb = media.select(col("media_id"),
        Multimodal.embedStub(col("payload"), 8).as("emb"))
      val q = emb.filter(col("media_id") === 1).select(col("emb").as("qemb"))
      emb.filter(col("media_id") =!= 1)
        .crossJoin(broadcast(q))
        .select(col("media_id"),
          round(VectorOps.cosine(col("emb"), col("qemb")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("media_id").asc)
        .limit(10)
    },
    Some("""
      WITH e AS (
        SELECT doc_id AS media_id,
               [CAST(CAST(('0x' || substr(md5(md5(text) || CAST(j AS VARCHAR)), 18, 15))
                          AS BIGINT) % 2001 - 1000 AS DOUBLE)
                for j in generate_series(0, 7)] AS emb
        FROM documents),
      q AS (SELECT emb AS qemb FROM e WHERE media_id = 1),
      sims AS (
        SELECT e.media_id,
               round(list_sum([e.emb[i] * q.qemb[i] for i in generate_series(1, 8)])
                     / (sqrt(list_sum([e.emb[i] * e.emb[i] for i in generate_series(1, 8)]))
                        * sqrt(list_sum([q.qemb[i] * q.qemb[i] for i in generate_series(1, 8)]))),
                     6) AS cos_sim
        FROM e, q WHERE e.media_id <> 1)
      SELECT media_id, cos_sim
      FROM sims ORDER BY cos_sim DESC, media_id ASC LIMIT 10"""),
    headline = true)

  /** REAL image decode end-to-end: PNG bytes ingested through Spark's
    * binaryFile source (the 100 TB media-lake read path: one task per
    * file, payloads never hit the driver), decoded with javax.imageio
    * behind the batched partition seam, reduced to columnar dims + an
    * exact pooled-intensity embedding. The oracle reads parquet computed
    * from the pixel FORMULA by the independent pure-python PNG writer
    * (tools/png_fixture.py implements the PNG spec with stdlib zlib), so
    * a hash match cross-validates both implementations of the format —
    * the same pattern as the GRIB/TIFF/Zarr sources.
    */
  val q80PngDecode = Q(
    "q80_png_decode",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(s"$DataDir/png")
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.decodeImages(media)
    },
    Some(s"""
      SELECT media_id, width, height, channels, pix_sum, mean_intensity,
             p00, p01, p10, p11
      FROM '$DataDir/png_expected.parquet'"""))

  /** REAL audio decode end-to-end: WAV bytes through Spark's binaryFile
    * source, parsed by the pure-JVM RIFF/WAVE PCM reader behind the
    * batched partition seam (Multimodal.decodeWav), reduced to
    * rate/frames/abs-sum/peak + a 4-bin pooled |sample| profile. The
    * oracle reads parquet computed from the sample FORMULA by the
    * independent python writer (tools/wav_fixture.py uses the stdlib
    * `wave` module to emit the bytes), so the hash match cross-validates
    * both implementations of the format — the audio leg of the same
    * triangle as q80's PNG decode.
    */
  val q92WavDecode = Q(
    "q92_wav_decode",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(s"$DataDir/wav")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.wav$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.decodeWav(media)
    },
    Some(s"""
      SELECT media_id, sample_rate, channels, n_frames, abs_sum, peak,
             b0, b1, b2, b3
      FROM '$DataDir/wav_expected.parquet'"""))

  /** REAL video decode end-to-end: RIFF/AVI containers with uncompressed
    * 24-bit DIB frames through binaryFile → the pure-JVM container+frame
    * parser (Multimodal.decodeAviFrames), frame-sampled every 3rd frame —
    * one row per sampled frame with exact pixel sums and the 2x2 pooled
    * grid. The oracle reads parquet computed from the pixel FORMULA by
    * the independent stdlib-struct AVI writer (tools/avi_fixture.py), so
    * the hash match cross-validates both implementations of the
    * container AND the bottom-up padded DIB row layout — the video leg
    * of the q80/q92 triangle.
    */
  val q94AviDecode = Q(
    "q94_avi_decode",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(s"$DataDir/avi")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.avi$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.decodeAviFrames(media, everyNth = 3)
    },
    Some(s"""
      SELECT media_id, frame_idx, width, height, n_frames, pix_sum,
             p00, p01, p10, p11
      FROM '$DataDir/avi_expected.parquet'"""))

  /** REAL compressed-video decode: MJPEG AVI — the most common legacy AVI
    * payload — where each "00dc" chunk is a standalone baseline JPEG
    * decoded via javax.imageio (still zero native deps). The fixture AVIs
    * are assembled by the independent python container writer around
    * JPEGs from the independent pure-stdlib encoder (tools/jpeg_min.py):
    * uniform DC-only 8x8 blocks under an all-ones quant table decode
    * EXACTLY, so the oracle parquet is computed from the block-value
    * FORMULA and the hash match cross-validates container walk, JPEG
    * entropy coding, and the pooled-stats contract end-to-end.
    */
  val q102AviMjpeg = Q(
    "q102_avi_mjpeg",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(s"$DataDir/avi_mjpg")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.avi$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.decodeAviFrames(media, everyNth = 3)
    },
    Some(s"""
      SELECT media_id, frame_idx, width, height, n_frames, pix_sum,
             p00, p01, p10, p11
      FROM '$DataDir/avi_mjpg_expected.parquet'"""))

  /** Similarity over REAL decoded features — the embedding is a pure
    * function of decoded pixels/samples, not of md5(payload): images
    * contribute their 2x2 pooled-intensity grid (decodeImages), audio its
    * 4-bin |sample| profile (decodeWav), both from the real byte-level
    * decoders; cosine top-k runs over the union (audio ids offset +1000).
    * The oracle computes the same cosines from the FORMULA-derived
    * expected parquets of the independent python writers, so the hash
    * match cross-validates decode ∘ embed ∘ top-k end-to-end. This is the
    * honest classical-feature stand-in for the model-inference seam
    * (`embedStub` remains the documented placeholder for a learned
    * embedding).
    */
  val q101FeatureEmbedSim = Q(
    "q101_feature_embed_sim",
    (s, _) => {
      def files(dir: String, pat: String, re: String) =
        s.read.format("binaryFile").option("pathGlobFilter", pat).load(dir)
          .select(regexp_extract(col("path"), re, 1).cast("long").as("media_id"),
            col("content").as("payload"))
      val img = Multimodal.decodeImages(
          files(s"$DataDir/png", "*.png", "img_(\\d+)\\.png$"))
        .select(col("media_id"),
          array(col("p00"), col("p01"), col("p10"), col("p11")).as("emb"))
      val aud = Multimodal.decodeWav(
          files(s"$DataDir/wav", "*.wav", "clip_(\\d+)\\.wav$"))
        .select((col("media_id") + 1000).as("media_id"),
          array(col("b0"), col("b1"), col("b2"), col("b3")).as("emb"))
      val all = img.unionByName(aud)
      val q = all.filter(col("media_id") === 1).select(col("emb").as("qemb"))
      all.filter(col("media_id") =!= 1)
        .crossJoin(broadcast(q))
        .select(col("media_id"),
          round(VectorOps.cosine(col("emb"), col("qemb")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("media_id").asc)
        .limit(10)
    },
    Some(s"""
      WITH img AS (
        SELECT media_id, [p00, p01, p10, p11] AS emb
        FROM '$DataDir/png_expected.parquet'),
      aud AS (
        SELECT media_id + 1000 AS media_id, [b0, b1, b2, b3] AS emb
        FROM '$DataDir/wav_expected.parquet'),
      alle AS (SELECT * FROM img UNION ALL SELECT * FROM aud),
      q AS (SELECT emb AS qemb FROM alle WHERE media_id = 1),
      sims AS (
        SELECT a.media_id,
               round(list_sum([a.emb[i] * q.qemb[i] for i in generate_series(1, 4)])
                     / (sqrt(list_sum([a.emb[i] * a.emb[i] for i in generate_series(1, 4)]))
                        * sqrt(list_sum([q.qemb[i] * q.qemb[i] for i in generate_series(1, 4)]))),
                     6) AS cos_sim
        FROM alle a, q WHERE a.media_id <> 1)
      SELECT media_id, cos_sim
      FROM sims ORDER BY cos_sim DESC, media_id ASC LIMIT 10"""))

  /** Interleaved MULTIMODAL sequence packing — q111's packer extended to
    * the mixed token stream multimodal training actually packs: text
    * documents cost their token count, images cost their 16×16 patch
    * grid (dims from the REAL byte-level PNG decode), audio clips cost
    * a 25-token/s frame rate (duration from the real WAV header) — all
    * integer arithmetic. Items interleave deterministically
    * (pmod(item_id, 7), kind, item_id), the global running total runs
    * through PrefixSum (range partition + P partials, never a
    * single-reducer window), and each item lands at (shard,
    * offset_in_shard) for W=512. The oracle replays the same stream
    * with a window sum over the independent python writers' expected
    * parquets.
    */
  val q146MultimodalPack = Q(
    "q146_multimodal_pack",
    (s, dir) => {
      def files(dir: String, pat: String, re: String) =
        s.read.format("binaryFile").option("pathGlobFilter", pat).load(dir)
          .select(regexp_extract(col("path"), re, 1).cast("long").as("media_id"),
            col("content").as("payload"))
      val W = 512
      val text = graft.core.Tables.load(s, dir, "documents").select(
        lit("text").as("kind"),
        col("doc_id").as("item_id"),
        size(graft.core.Tok.words(col("text"))).cast("long").as("cost"))
      val img = Multimodal.decodeImages(
          files(s"$DataDir/png", "*.png", "img_(\\d+)\\.png$"))
        .select(lit("image").as("kind"),
          (col("media_id") + 1000000L).as("item_id"),
          (expr("(width + 15) div 16") * expr("(height + 15) div 16"))
            .cast("long").as("cost"))
      val aud = Multimodal.decodeWav(
          files(s"$DataDir/wav", "*.wav", "clip_(\\d+)\\.wav$"))
        .select(lit("audio").as("kind"),
          (col("media_id") + 2000000L).as("item_id"),
          expr("(n_frames * 25 + sample_rate - 1) div sample_rate")
            .cast("long").as("cost"))
      val items = text.unionByName(img).unionByName(aud)
        .withColumn("ord", pmod(col("item_id"), lit(7)))
      val cum = graft.operators.PrefixSum.runningSum(
        items, Seq(col("ord"), col("kind"), col("item_id")),
        col("cost"), "cum")
      cum.select(col("kind"), col("item_id"), col("cost"),
        expr(s"(cum - cost) DIV $W").as("shard"),
        (col("cum") - col("cost") - expr(s"((cum - cost) DIV $W) * $W"))
          .as("offset_in_shard"))
    },
    Some("""
      WITH text AS (
        SELECT 'text' AS kind, doc_id AS item_id,
               CAST(len(""" + graft.core.Tok.sqlWords("text") + s""") AS BIGINT) AS cost
        FROM documents),
      img AS (
        SELECT 'image' AS kind, media_id + 1000000 AS item_id,
               CAST(((width + 15) // 16) * ((height + 15) // 16) AS BIGINT) AS cost
        FROM '$DataDir/png_expected.parquet'),
      aud AS (
        SELECT 'audio' AS kind, media_id + 2000000 AS item_id,
               CAST((n_frames * 25 + sample_rate - 1) // sample_rate AS BIGINT) AS cost
        FROM '$DataDir/wav_expected.parquet'),
      items AS (
        SELECT *, item_id % 7 AS ord FROM
          (SELECT * FROM text UNION ALL SELECT * FROM img
           UNION ALL SELECT * FROM aud)),
      c AS (
        SELECT kind, item_id, cost,
               sum(cost) OVER (ORDER BY ord, kind, item_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM items)
      SELECT kind, item_id, cost,
             CAST((cum - cost) // 512 AS BIGINT) AS shard,
             CAST(cum - cost - ((cum - cost) // 512) * 512 AS BIGINT)
               AS offset_in_shard
      FROM c"""))

  /** STREAMING MinHash-LSH dedup — q116's daily-ingest shape run as a
    * continuous stream (the corpus-service form: filter arrivals against
    * an ever-growing index without re-scanning the corpus). The
    * persisted corpus band index loads as the stateful operator's
    * INITIAL STATE (`flatMapGroupsWithState(..., initialState)` — a
    * state class no other gate exercises); delta docs replay in doc_id
    * order (FileReplay.stageOrderedReplay), meet only their own LSH band
    * buckets, verify with exact md5-shingle-hash-set Jaccard inside the
    * state function, and join the index whether or not they matched.
    * Drop rule ≡ q116: matched against ANY corpus member or any
    * smaller-id delta. Phase 2 aggregates the per-(band, doc) verdicts
    * (LSH OR-semantics) and counts accepted docs per lang in batch —
    * the q148 lambda pattern. The oracle is brute-force ground truth
    * over the SAME md5-derived hash sets (a collision replicates on
    * both engines); only deterministic LSH false negatives could
    * diverge, verified empirically per SF like q37.
    */
  val q156StreamDedup = Q(
    "q156_stream_dedup",
    (s, dir) => {
      import graft.streaming.{FileReplay, StreamDedup}
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val init = StreamDedup.corpusIndexState(corpus, "doc_id", "text")
      val h = Integer.toHexString(dir.hashCode)
      val srcDir = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_stream_src_${h}_fdedup")
      val sel = delta.select(col("doc_id"), col("text"))
      FileReplay.stageOrderedReplay(sel, "doc_id", srcDir)
      val verdicts = FileReplay.runToTable(s, srcDir, sel.schema,
          s"graft_stream_fdedup_$h") { stream =>
          StreamDedup.dedupStream(
            StreamDedup.bandRows(stream, "doc_id", "text"), init).toDF()
        }
      val dropped = verdicts.filter(col("matched"))
        .select(col("docId").as("doc_id")).distinct()
      delta.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_accepted"))
    },
    Some(s"""
      WITH sh0 AS (${shinglesSql.format("documents")}),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(sh,
                 x -> CAST('0x' || substr(md5(x), 18, 15) AS BIGINT))) AS sh,
               doc_id % 5 = 0 AS is_delta
        FROM sh0),
      ${prefixCandSql("sh")},
      ver AS (
        SELECT c.ai, c.bi, a.is_delta AS da, b.is_delta AS db
        FROM cand c JOIN sh a ON a.doc_id = c.ai
        JOIN sh b ON b.doc_id = c.bi
        WHERE (a.is_delta OR b.is_delta)
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.8),
      dropped AS (
        SELECT bi AS doc_id FROM ver WHERE db AND NOT da
        UNION SELECT ai FROM ver WHERE da AND NOT db
        UNION SELECT bi FROM ver WHERE da AND db)
      SELECT lang, count(*) AS n_accepted
      FROM documents
      WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
      GROUP BY 1"""))

  /** Image near-dup pairing via perceptual dHash with BANDED candidate
    * generation (the registered shape IS the scale shape since r16): the
    * real byte-level PNG decode feeds Multimodal.imageDhash (9×8 integer
    * pooling → 64-bit difference hash, offset-invariant), the hash is
    * sliced into 4 disjoint 16-bit bands, candidates come from a bucket
    * self-join on (band index, band value) over COMPACT keys only (the
    * LSH join-back lesson), and survivors are hamming-verified at ≤ 3.
    * Pigeonhole equivalence: ≤ 3 differing bits cannot touch all 4
    * disjoint bands, so every true pair shares at least one exact band —
    * banded candidates ⊇ the truth, the verify filter trims the rest,
    * and the output is provably IDENTICAL to the all-pairs threshold
    * scan the oracle runs. Never a cartesian product (PlanSpec pins it).
    * Fixture: data/png_dedup (tools/dhash_fixture.py) plants an exact
    * copy (1,5 — hamming 0) and a one-bit perturbation (2,6 — hamming 1)
    * among base images that are pairwise ≥ 17 bits apart; the oracle
    * reads the INDEPENDENT formula-computed expected parquet, so an
    * engine-side decode or hash deviation still breaks the compare.
    * MediaDedupMacroBench runs this exact pipeline at ≥100k images.
    */
  val q161ImageDhash = Q(
    "q161_image_dhash",
    (s, _) => {
      val files = s.read.format("binaryFile").option("pathGlobFilter", "*.png")
        .load(s"$DataDir/png_dedup")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("media_id"),
          col("content").as("payload"))
      val h = Multimodal.imageDhash(files).select("media_id", "dhash").cache()
      Multimodal.dhashNearDupPairs(h, maxHamming = 3)
    },
    Some(s"""
      WITH h AS (SELECT media_id, dhash
                 FROM '$DataDir/dhash_expected.parquet')
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             a.dhash AS dhash_a, b.dhash AS dhash_b,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
      FROM h a JOIN h b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3"""))

  /** Perceptual AUDIO near-dup fingerprint: 256-sample windows → integer
    * Haar cascade → 32 sign bits of the coarsest coefficients
    * (Multimodal.wavFingerprint) — the audio leg of the q161 dHash
    * family, over the REAL WAV bytes through the byte-level RIFF parse.
    * The oracle parquet is computed from the sample FORMULA by the
    * independent python implementation (tools/audio_fp_expected.py), so
    * the hash match cross-validates the RIFF walk, the truncating-
    * division Haar arithmetic, and the bit-packing order end-to-end.
    * At corpus scale the fingerprint is a compact long per window —
    * near-dup audio collapses to the exact/Hamming hash-shuffle shapes
    * of text dedup (q34/q38), never sample×sample comparison.
    */
  val q170AudioFingerprint = Q(
    "q170_audio_fingerprint",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(s"$DataDir/wav")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.wav$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.wavFingerprint(media)
    },
    Some(s"""
      SELECT media_id, win, fp, approx
      FROM '$DataDir/audio_fp_expected.parquet'"""))

  /** Scene-cut detection over the REAL decoded AVI frames: consecutive
    * sampled frames (q94's every-3rd decode) whose exact pixel sums jump
    * by more than 20% (abs(Δ)·5 > prev, exact integers) mark a cut —
    * the frame-sampling analysis step of a video curation pipeline. The
    * oracle replays the lag/threshold arithmetic in SQL over the same
    * independently-computed expected parquet, so the decode AND the
    * windowed detection are both pinned. Scale shape: the per-video lag
    * is a partitioned window over compact (id, idx, sum) rows — frame
    * payloads never reach the shuffle.
    */
  val q171SceneCuts = Q(
    "q171_scene_cuts",
    (s, _) => {
      import org.apache.spark.sql.expressions.Window
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(s"$DataDir/avi")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.avi$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      val frames = Multimodal.decodeAviFrames(media, everyNth = 3)
        .select(col("media_id"), col("frame_idx"), col("pix_sum"))
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      frames
        .withColumn("prev", lag(col("pix_sum"), 1).over(w))
        .withColumn("cut",
          when(col("prev").isNotNull &&
            abs(col("pix_sum") - col("prev")) * 5 > col("prev"), 1)
            .otherwise(0))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("cut")).cast("long").as("n_cuts"),
          coalesce(min(when(col("cut") === 1, col("frame_idx"))), lit(-1))
            .as("first_cut_idx"))
    },
    Some(s"""
      WITH f AS (
        SELECT media_id, frame_idx, pix_sum
        FROM '$DataDir/avi_expected.parquet'),
      l AS (
        SELECT media_id, frame_idx, pix_sum,
               lag(pix_sum) OVER (PARTITION BY media_id
                                  ORDER BY frame_idx) AS prev
        FROM f),
      c AS (
        SELECT media_id, frame_idx,
               CASE WHEN prev IS NOT NULL AND abs(pix_sum - prev) * 5 > prev
                    THEN 1 ELSE 0 END AS cut
        FROM l)
      SELECT media_id, CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(sum(cut) AS BIGINT) AS n_cuts,
             coalesce(min(CASE WHEN cut = 1 THEN frame_idx END), -1)
               AS first_cut_idx
      FROM c GROUP BY 1"""))

  /** STREAMING curation composition — q147's batch curation DAG run as
    * ONE continuous-ingest stream (streaming/StreamCuration.scala):
    * arriving delta documents (doc_id % 5 = 0, replayed in id order)
    * pass the q163 quality classifier (inline stateless fold of the
    * same hashed-linear arithmetic), the q156 fuzzy dedup against the
    * QUALITY-CURATED corpus index loaded as initial state, and the
    * q162 bloom+exact decontamination against the eval split
    * (doc_id % 199 = 0), emitting per-lang funnel counts
    * n_arrived ≥ n_quality ≥ n_unique ≥ n_accepted. The oracle replays
    * the identical batch pipeline: inline-weight scores, h-space
    * prefix-filtered exact Jaccard among quality survivors, exact
    * eval-gram containment — all near-linear, so this gate follows the
    * engine to sf1 unlike the brute forms it composes.
    */
  val q183StreamCuration = Q(
    "q183_stream_curation",
    (s, dir) => {
      import graft.streaming.{FileReplay, StreamCuration, StreamDedup}
      val docs = Tables.load(s, dir, "documents")
      // build-time: DISTRIBUTED eval gram table + bloom fold (the q162
      // shape — the r16 verdict item: only the ONE packed m/64-long row
      // ever reaches the driver, never the gram keys). m sized from the
      // eval gram count at load ≈ 0.25; cap 2^27 bits (16 MB) because
      // the words array becomes a LITERAL in the stream plan, serialized
      // per task — past the cap FPR grows and the batch exact-verify
      // absorbs it.
      val evalGk = docs.filter(col("doc_id") % 199 === 0)
        .select(explode(StreamCuration.gramKeys(col("text"))).as("gk"))
        .distinct().cache()
      val nEval = evalGk.count()
      val m = math.max(65536L,
        math.min(1L << 27, ((nEval * 12L + 63L) / 64L) * 64L))
      val words = StreamCuration.packedEvalBloom(evalGk, m)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        .filter(StreamCuration.qualityScore(col("text")) > 0)
      val init = StreamDedup.corpusIndexState(corpus, "doc_id", "text")
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val h = Integer.toHexString(dir.hashCode)
      val srcDir = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_stream_src_${h}_curation")
      val sel = delta.select(col("doc_id"), col("text"))
      FileReplay.stageOrderedReplay(sel, "doc_id", srcDir)
      val verdicts = FileReplay.runToTable(s, srcDir, sel.schema,
          s"graft_stream_curation_$h") { stream =>
          StreamCuration.curationStream(
            StreamCuration.curationRows(stream, "doc_id", "text",
              words), init).toDF()
        }
      // phase 2 (batch): OR the per-band verdicts, exact-verify the
      // (rare) bloom candidates against the distributed eval gram table
      // — the q201 verify-the-candidates posture. Bloom has no false
      // negatives, so non-candidate docs are provably clean and never
      // re-scan.
      val perDoc = verdicts.groupBy(col("docId").as("doc_id"))
        .agg(max(col("matched")).as("matched"),
          max(col("candidate")).as("candidate"))
      val contam = delta
        .join(perDoc.filter(col("candidate")).select("doc_id"), "doc_id")
        .select(col("doc_id"),
          explode(StreamCuration.gramKeys(col("text"))).as("gk"))
        .join(broadcast(evalGk), Seq("gk"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      val q = StreamCuration.qualityScore(col("text")) > 0
      delta.join(perDoc, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("lang"), q.as("quality"),
          coalesce(col("matched"), lit(false)).as("matched"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_arrived"),
          sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("quality") && !col("matched"), 1L).otherwise(0L))
            .as("n_unique"),
          sum(when(col("quality") && !col("matched") && !col("contaminated"),
            1L).otherwise(0L)).as("n_accepted"))
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
      fscore AS (
        SELECT doc_id,
               CAST(sum(CAST('0x' || substr(md5('w_' ||
                      (CAST('0x' || substr(md5(f), 18, 15) AS BIGINT) % 4096)),
                      18, 15) AS BIGINT) % 2001 - 1000) AS BIGINT) AS score
        FROM feats GROUP BY 1),
      qual AS (
        SELECT d.doc_id, d.lang, coalesce(s.score, 0) AS score
        FROM documents d LEFT JOIN fscore s USING (doc_id)),
      sh0 AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, len(t)-2)]) AS shr
        FROM (SELECT doc_id, """ + graft.core.Tok.sqlWords("text") + """ AS t
              FROM documents)
        WHERE len(t) >= 3),
      sh AS (
        SELECT s.doc_id,
               list_distinct(list_transform(s.shr,
                 x -> CAST('0x' || substr(md5(x), 18, 15) AS BIGINT))) AS sh,
               s.doc_id % 5 = 0 AS is_delta
        FROM sh0 s JOIN qual q ON q.doc_id = s.doc_id
        WHERE q.score > 0),
      """ + prefixCandSql("sh") + """,
      ver AS (
        SELECT c.ai, c.bi, a.is_delta AS da, b.is_delta AS db
        FROM cand c JOIN sh a ON a.doc_id = c.ai
        JOIN sh b ON b.doc_id = c.bi
        WHERE (a.is_delta OR b.is_delta)
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.8),
      dropped AS (
        SELECT bi AS doc_id FROM ver WHERE db AND NOT da
        UNION SELECT ai FROM ver WHERE da AND NOT db
        UNION SELECT bi FROM ver WHERE da AND db),
      gr AS (
        SELECT doc_id,
               unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                     for i in range(1, len(w) - 1)])) AS g
        FROM toks WHERE len(w) >= 3),
      gks AS (
        SELECT doc_id, CAST('0x' || substr(md5(g), 18, 15) AS BIGINT) AS gk
        FROM gr),
      evalg AS (SELECT DISTINCT gk FROM gks WHERE doc_id % 199 = 0),
      contam AS (SELECT DISTINCT k.doc_id FROM gks k JOIN evalg e USING (gk))
      SELECT q.lang,
             CAST(count(*) AS BIGINT) AS n_arrived,
             CAST(sum(CASE WHEN q.score > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality,
             CAST(sum(CASE WHEN q.score > 0 AND dr.doc_id IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             CAST(sum(CASE WHEN q.score > 0 AND dr.doc_id IS NULL
                            AND ct.doc_id IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
      FROM qual q
      LEFT JOIN dropped dr ON dr.doc_id = q.doc_id
      LEFT JOIN contam ct ON ct.doc_id = q.doc_id
      WHERE q.doc_id % 5 = 0
      GROUP BY 1"""))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): hash every char 8-gram of the lowercased text, slide a
    * 4-hash window, keep the window MINIMUM — guaranteeing any shared
    * substring of length ≥ 11 contributes at least one COMMON selected
    * fingerprint between two documents, with expected density 2/(w+1).
    * The local-minimum selection is position-robust (unlike fixed-stride
    * q57 rolling fingerprints, edits shift selections only locally), the
    * robust partial-copy detector the dedup family lacks. Everything is
    * exact integers on the shared md5 recipe ([[Dedup.md5Hash64]]), so
    * the per-doc fingerprint SET gates by count + bit_xor + min with no
    * tolerance; DuckDB replays hash, window-min (list_aggregate 'min'),
    * and dedup identically. Totality: greatest-bounded sequence + trimming
    * slice (the q98 lesson) and explode_OUTER (the InferFilters lesson).
    * Scale shape: pure per-row codegen expressions → one groupBy(doc_id);
    * nothing ever pairs documents — fingerprint buckets are what a
    * downstream join would meet on, exactly like the LSH band keys.
    */
  /** Exploded distinct winnowing fingerprints — (doc_id, fp) rows, one
    * per (doc, selected fingerprint) — over any (doc_id, text) frame.
    * k=8 char-gram hash (shared md5 recipe), w=4 window minimum: any
    * shared substring of length ≥ k+w−1 = 11 guarantees ≥ 1 common fp.
    * Shared by q196 (per-doc set stats) and q201 (cross-doc pairing).
    */
  def winnowFps(docsIn: DataFrame): DataFrame = {
    val k = 8
    val w = 4
    val txt = graft.functions.LowerText(col("text"))
    val docs = docsIn
      .select(col("doc_id"), txt.as("t"))
      .filter(length(col("t")) >= k + w - 1)
    val hashed = docs.select(col("doc_id"), expr(
      s"transform(slice(sequence(1, greatest(length(t) - ${k - 1}, 1)), 1," +
        s" greatest(length(t) - ${k - 1}, 0))," +
        s" i -> cast(conv(substring(md5(substring(t, i, $k)), 18, 15)," +
        " 16, 10) as bigint))").as("hs"))
    val fps = hashed.select(col("doc_id"), expr(
      s"array_distinct(transform(slice(sequence(1, greatest(size(hs) - ${w - 1}, 1)), 1," +
        s" greatest(size(hs) - ${w - 1}, 0))," +
        s" j -> array_min(slice(hs, j, $w))))").as("fps"))
    fps.select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
  }

  val q196Winnowing = Q(
    "q196_winnowing",
    (s, dir) => {
      winnowFps(Tables.load(s, dir, "documents"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          expr("bit_xor(fp)").as("fp_xor"),
          min(col("fp")).as("fp_min"))
    },
    Some("""
      WITH t0 AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE len(lower(text)) >= 11),
      hs AS (
        SELECT doc_id,
               [CAST('0x' || substr(md5(substr(t, i, 8)), 18, 15) AS BIGINT)
                for i in generate_series(1, len(t) - 7)] AS hs
        FROM t0),
      fps AS (
        SELECT doc_id,
               list_distinct([list_aggregate(hs[j:j+3], 'min')
                              for j in generate_series(1, len(hs) - 3)]) AS fps
        FROM hs),
      ex AS (SELECT doc_id, unnest(fps) AS fp FROM fps)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
             bit_xor(fp) AS fp_xor, min(fp) AS fp_min
      FROM ex GROUP BY 1"""))

  /** q201: cross-doc partial-copy detection — the PAIRING the MOSS use
    * case is for (q196 stops at per-doc fingerprint sets). Docs meet on
    * shared winnowing fingerprints (the LSH band shape: the join key is
    * the compact fp long, payloads join back after), with the standard
    * MOSS stop-fingerprint rule — fps appearing in > 50 docs carry no
    * copy signal (boilerplate) and are dropped, which also BOUNDS the
    * per-bucket pair blowup at ≤ 50²/2 regardless of corpus size. A pair
    * is reported when ≥ 3 distinct fingerprints are shared; containment
    * = n_shared / min(|A|, |B|) is one IEEE division of exact integers
    * (bit-identical cross-engine). Any shared substring ≥ 11 chars
    * contributes a common fp even under edits elsewhere (the winnowing
    * guarantee) — the robustness fixed-stride q57 whole-doc fingerprints
    * provably lack (WinnowingPairsSpec plants exactly that case).
    *
    * PRECISION stage (round-15; the r14 macro measured ~3% precision at
    * 1M docs — 149.5k incidental hot-substring pairs vs 5k planted):
    * fingerprint-count candidates are EXACT-VERIFIED the way MOSS
    * verifies its candidates (and q37/q39 verify LSH candidates) — a
    * pair is reported only if the two docs additionally share a char
    * 24-gram (md5Hash64 of the literal 24-char window, the q34/q84
    * proven space), i.e. an exact common substring ≥ 24 chars. The
    * verify grams are computed ONLY for docs that appear in a candidate
    * pair (a semi-join — corpus-size-independent), carry their own
    * df ≤ 50 stop-gram cap (same boilerplate rule as the fps, and the
    * same ≤ 50²/2 per-bucket pair bound), and recall on any true copy
    * of ≥ 24 chars is unharmed by construction — every contiguous copy
    * that long contains a full shared 24-gram in both docs.
    */
  def winnowingPairs(docsIn: DataFrame): DataFrame = {
    val L = 24 // verified-copy threshold (chars of exact shared text)
    val ex = winnowFps(docsIn)
    val nf = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val rare = ex.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("fp")
    // `rare` (fp cardinality) and `nf` (doc cardinality) are UNBOUNDED
    // in corpus scale — shuffle-hash hints keep the optimizer from
    // gambling a broadcast on their pre-runtime size estimates (a 1M-doc
    // WinnowMacroBench run OOM'd the driver exactly that way; the q185
    // lesson from the other direction)
    val exr = ex.join(rare.hint("shuffle_hash"), "fp")
    val pairs = exr.as("a")
      .join(exr.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    // exact verification: distinct char-24-gram hashes of CANDIDATE
    // docs only (`candDocs` is bounded by 2× the candidate-pair count,
    // never the corpus), df-capped, self-joined on the compact gram key
    val candDocs = pairs.select(col("ai").as("doc_id"))
      .union(pairs.select(col("bi").as("doc_id")))
      .distinct()
    val grams = docsIn
      .select(col("doc_id"), graft.functions.LowerText(col("text")).as("t"))
      .join(candDocs.hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), explode_outer(expr(
        s"array_distinct(transform(" +
          s"slice(sequence(1, greatest(length(t) - ${L - 1}, 1)), 1," +
          s" greatest(length(t) - ${L - 1}, 0))," +
          s" i -> cast(conv(substring(md5(substring(t, i, $L)), 18, 15)," +
          " 16, 10) as bigint)))")).as("g"))
      .filter(col("g").isNotNull)
    val rareG = grams.groupBy("g").agg(count(lit(1)).as("dfg"))
      .filter(col("dfg") <= 50).select("g")
    val gr = grams.join(rareG.hint("shuffle_hash"), "g")
    val verified = gr.as("x")
      .join(gr.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("ai"), col("y.doc_id").as("bi"))
      .agg(count(lit(1)).as("n_long"))
    pairs
      .join(verified, Seq("ai", "bi"))
      .join(nf.select(col("doc_id").as("ai"), col("n").as("n_a"))
        .hint("shuffle_hash"), "ai")
      .join(nf.select(col("doc_id").as("bi"), col("n").as("n_b"))
        .hint("shuffle_hash"), "bi")
      .select(col("ai"), col("bi"), col("n_shared"), col("n_long"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
  }

  val q201WinnowingPairs = Q(
    "q201_winnowing_pairs",
    (s, dir) => winnowingPairs(Tables.load(s, dir, "documents")),
    Some("""
      WITH t0 AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE len(lower(text)) >= 11),
      hs AS (
        SELECT doc_id,
               [CAST('0x' || substr(md5(substr(t, i, 8)), 18, 15) AS BIGINT)
                for i in generate_series(1, len(t) - 7)] AS hs
        FROM t0),
      fps AS (
        SELECT doc_id,
               list_distinct([list_aggregate(hs[j:j+3], 'min')
                              for j in generate_series(1, len(hs) - 3)]) AS fps
        FROM hs),
      ex AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM fps),
      nf AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
      rare AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 50),
      exr AS MATERIALIZED (
        SELECT e.doc_id, e.fp FROM ex e JOIN rare r USING (fp)),
      pairs AS MATERIALIZED (
        SELECT a.doc_id AS ai, b.doc_id AS bi, count(*) AS n_shared
        FROM exr a JOIN exr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3),
      cd AS (
        SELECT DISTINCT doc_id FROM (
          SELECT ai AS doc_id FROM pairs
          UNION ALL SELECT bi AS doc_id FROM pairs)),
      lg AS MATERIALIZED (
        SELECT g0.doc_id, unnest(g0.gs) AS g FROM (
          SELECT t0.doc_id,
                 list_distinct(
                   [CAST('0x' || substr(md5(substr(t, i, 24)), 18, 15) AS BIGINT)
                    for i in generate_series(1, len(t) - 23)]) AS gs
          FROM t0 JOIN cd USING (doc_id)
          WHERE len(t) >= 24) g0),
      rg AS (SELECT g FROM lg GROUP BY g HAVING count(*) <= 50),
      lgr AS MATERIALIZED (SELECT l.doc_id, l.g FROM lg l JOIN rg USING (g)),
      ver AS (
        SELECT x.doc_id AS ai, y.doc_id AS bi, count(*) AS n_long
        FROM lgr x JOIN lgr y ON x.g = y.g AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT p.ai, p.bi, CAST(p.n_shared AS BIGINT) AS n_shared,
             CAST(v.n_long AS BIGINT) AS n_long,
             CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
             CAST(p.n_shared AS DOUBLE) / least(na.n, nb.n) AS containment
      FROM pairs p
      JOIN ver v ON v.ai = p.ai AND v.bi = p.bi
      JOIN nf na ON na.doc_id = p.ai
      JOIN nf nb ON nb.doc_id = p.bi"""))

  /** VIDEO near-dup pairing — duplicated-footage detection, the video
    * leg of the dedup family (image q161, audio q170): every 3rd frame
    * of each real AVI decodes to the SAME 9×8 dHash as q161's images
    * (Multimodal.aviFrameDhash — the container walk and row decode are
    * the q94 path), then videos pair through the frame-fingerprint
    * inverted index: a hash bucket joins videos sharing an EXACT frame
    * hash, and survivors verify by set-Jaccard ≥ 1/2 over each video's
    * distinct frame-hash set — all exact integers (2·shared ≥ union).
    * Never video × video: pairs are generated per hash bucket, the
    * scale shape of frame-fingerprint video dedup. Fixture
    * (tools/video_dedup_fixture.py): clip_4 replays clip_1's pixel
    * formula with 3 extra frames — byte-identical shared footage — so
    * the closed form is exactly one pair (1, 4) sharing 3 of {3, 4}
    * sampled hashes, base clips fully disjoint (script-asserted). The
    * expected parquet's dhashes come from the INDEPENDENT formula
    * implementation, so the oracle also pins the decode.
    */
  val q209VideoNearDup = Q(
    "q209_video_near_dup",
    (s, _) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(s"$DataDir/avi_dedup")
        .select(
          regexp_extract(col("path"), "clip_(\\d+)\\.avi$", 1)
            .cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.videoNearDupPairs(
        Multimodal.aviFrameDhash(media, everyNth = 3))
    },
    Some(s"""
      WITH h0 AS (SELECT DISTINCT media_id, dhash
                  FROM '$DataDir/video_dhash_expected.parquet'),
      rare AS (SELECT dhash FROM h0 GROUP BY 1 HAVING count(*) <= 50),
      h AS (SELECT h0.media_id, h0.dhash FROM h0 JOIN rare USING (dhash)),
      sizes AS (SELECT media_id, count(*) AS n FROM h GROUP BY 1),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
        FROM h a JOIN h b ON a.dhash = b.dhash AND a.media_id < b.media_id
        GROUP BY 1, 2)
      SELECT c.id_a, c.id_b, CAST(c.n_shared AS BIGINT) AS n_shared,
             CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
      FROM cand c JOIN sizes sa ON sa.media_id = c.id_a
      JOIN sizes sb ON sb.media_id = c.id_b
      WHERE c.n_shared * 2 >= sa.n + sb.n - c.n_shared"""))

  val qs: Seq[Q] =
    Seq(q37MinhashDedup, q38SimhashPairs, q55BlobMeta, q56MediaEmbedSim,
      q80PngDecode, q92WavDecode, q94AviDecode, q101FeatureEmbedSim,
      q102AviMjpeg, q112ClusterDedup, q116IncrementalDedup,
      q146MultimodalPack, q156StreamDedup, q161ImageDhash,
      q170AudioFingerprint, q171SceneCuts, q183StreamCuration,
      q196Winnowing, q201WinnowingPairs, q209VideoNearDup)
}
