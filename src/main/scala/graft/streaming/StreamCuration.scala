package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** CONTINUOUS-INGEST corpus curation: the q147 batch pipeline's three
  * scale stages — quality classification (q163), fuzzy dedup against a
  * persisted index (q156), eval-set decontamination (q162) — composed
  * into ONE streaming query over arriving documents. This is the
  * production corpus-service shape: documents flow in continuously, the
  * existing curated corpus is the dedup operator's initial state, and
  * each arrival is scored, checked against the index, and
  * decontaminated without ever re-scanning the corpus.
  *
  * Stage placement inside one stream (Spark allows ONE stateful
  * operator in this append pipeline, so everything else must be
  * stateless):
  *
  *  - quality: the q163 hashed-linear-model score computed as an INLINE
  *    columnar fold (`aggregate(transform(feats, wt))`) instead of the
  *    batch query's explode + broadcast-weight join — hash-derived
  *    weights make the lookup a pure expression, so the stage is
  *    stateless and arithmetically IDENTICAL to the batch form (exact
  *    long sums, any order). Rejected docs stop here and never index.
  *  - decontamination: per-doc 3-gram keys tested against the packed
  *    bloom-bit literal (built DISTRIBUTEDLY by the BloomBits
  *    aggregator — only the ONE m/64-long row ever reaches the driver,
  *    never the eval gram keys themselves, the r16 verdict item). The
  *    stream emits the bloom CANDIDATE flag; exact verification of the
  *    (rare) candidates is the caller's batch phase — the q201
  *    verify-the-candidates posture. Bloom has no false negatives, so
  *    non-candidates are provably clean.
  *  - dedup: the ONE stateful op — q156's per-band
  *    `flatMapGroupsWithState` with the corpus index as initial state,
  *    extended to carry the contamination flag through.
  *
  * Contaminated-but-unique docs still join the index (they ARE corpus
  * content; only their downstream use is blocked), mirroring the batch
  * rule where decontamination runs after dedup.
  */
object StreamCuration {

  /** One (band bucket, document) occurrence with the doc's verification
    * hash set and its (stateless) bloom-candidate flag attached.
    */
  case class CurRow(bandHash: Long, docId: Long, shh: Array[Long],
      candidate: Boolean)

  /** Final per-(band, doc) verdict; a doc is a duplicate iff ANY band
    * matched (LSH OR-semantics — aggregate downstream). `candidate` is
    * the bloom prefilter flag: false ⇒ provably uncontaminated, true ⇒
    * exact-verify in the caller's batch phase.
    */
  case class CurVerdict(docId: Long, matched: Boolean, candidate: Boolean)

  /** q163's hashed linear quality score as one stateless expression:
    * tokens ++ bigrams, bucket = md5Hash64(f) mod 4096, weight =
    * md5Hash64("w_" || bucket) mod 2001 − 1000, score = Σ weights.
    * Exactly the batch query's integer arithmetic (both mods are
    * positive-domain), so stream and batch agree bit-for-bit.
    */
  def qualityScore(textCol: Column): Column = {
    val w = graft.core.Tok.words(textCol)
    val feats = concat(w,
      transform(
        slice(sequence(lit(1), greatest(size(w) - 1, lit(1))),
          lit(1), greatest(size(w) - 1, lit(0))),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
    aggregate(
      transform(feats, f =>
        pmod(Dedup.md5Hash64(concat(lit("w_"),
          pmod(Dedup.md5Hash64(f), lit(4096L)).cast("string"))),
          lit(2001L)) - 1000L),
      lit(0L), (acc, x) => acc + x)
  }

  /** Distinct md5-hashed 3-gram keys of a text column (q162's gram
    * keys), as a TOTAL expression (the round-5 guard-filter lesson).
    */
  def gramKeys(textCol: Column): Column = {
    val w = graft.core.Tok.words(textCol)
    val grams = when(size(w) >= 3, array_distinct(
      transform(
        slice(sequence(lit(1), greatest(size(w) - 2, lit(1))),
          lit(1), greatest(size(w) - 2, lit(0))),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1),
          lit(" "), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))
    transform(grams, g => Dedup.md5Hash64(g))
  }

  /** Distributed bloom build over the (distributed) distinct eval gram
    * keys: explode the 3 md5 positions per key, bound the single-reducer
    * fan-in with a compact-long repartition (the r12 big-buffer merge
    * lesson), OR-merge BloomBits partials, and collect ONLY the one
    * packed m/64-long row. The eval key set itself never touches the
    * driver — the r16 verdict item that q162 fixed and q183 still had:
    * collecting every distinct gram key grows with eval-set cardinality;
    * this collect is a fixed m/8 bytes.
    */
  def packedEvalBloom(evalGramKeys: DataFrame, m: Long): Array[Long] = {
    require(m % 64 == 0 && m >= 64 && m <= (1L << 30),
      s"bloom m must be a multiple of 64 in [64, 2^30], got $m")
    // shifted-window positions of the md5-derived key (Dedup.bloomPos,
    // r18): zero extra hashing — the old md5Hash64("gk_j") form cost
    // three md5 chains per STREAM probe gram
    def pos(j: Int): Column = Dedup.bloomPos(col("gk"), j, m)
    evalGramKeys
      .select(explode(array(pos(0), pos(1), pos(2))).as("p"))
      .repartition(8)
      .agg(graft.functions.BloomBits(m.toInt)(col("p")).as("words"))
      .head().getAs[Seq[Long]]("words").toArray
  }

  /** Stateless front of the stream: quality-gate arrivals, attach the
    * bloom-candidate contamination flag, then explode to per-band rows
    * with the verification hash set — the typed `map(identity)` barrier
    * stops projection collapse from re-inlining the k-hash signature per
    * band (the q156 lesson). `bloomWords` is the packed m-bit filter
    * from [[packedEvalBloom]] (m = 64 × words.length); it becomes a
    * word-array literal in the stream plan, tested in O(1) per probe
    * (element_at + shiftleft mask — the original position-set
    * array_contains was a LINEAR scan per probe, the dominant
    * stateless-front cost of the 3M-doc macro).
    */
  def curationRows(docs: DataFrame, idCol: String, textCol: String,
      bloomWords: Array[Long],
      n: Int = 3, k: Int = 64, bands: Int = 16): Dataset[CurRow] = {
    val s = docs.sparkSession
    import s.implicits._
    require(bloomWords.nonEmpty, "empty bloom filter")
    val m = bloomWords.length.toLong * 64L
    val wordsLit = typedLit(bloomWords.toSeq)
    def pos(gk: Column, j: Int): Column = Dedup.bloomPos(gk, j, m)
    // word index is exact in double arithmetic (p < m <= 2^53)
    def bitSet(p: Column): Column =
      (element_at(wordsLit, floor(p / lit(64L)).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int")))) =!= lit(0L)

    docs
      .filter(qualityScore(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("docId"),
        Dedup.shingles(col(textCol), n).as("sh"),
        exists(gramKeys(col(textCol)), gk =>
          bitSet(pos(gk, 0)) && bitSet(pos(gk, 1)) && bitSet(pos(gk, 2)))
          .as("candidate"))
      .withColumn("shx", Dedup.shingleHashes(col("sh")))
      .select(col("docId"),
        array_distinct(transform(col("sh"), t => Dedup.md5Hash64(t)))
          .as("shh"),
        Dedup.minhashSignatureFromHashes(col("shx"), k).as("sig"),
        col("candidate"))
      .as[(Long, Array[Long], Array[Long], Boolean)]
      .map(identity) // ser/deser barrier: signature materialized once
      .toDF("docId", "shh", "sig", "candidate")
      .filter(size(col("shh")) > 0) // as in StreamDedup.bandRows
      .select(col("docId"), col("shh"), col("candidate"),
        explode(Dedup.bandedSignature(col("sig"), k, bands)).as("b"))
      .select(col("b.band_hash").as("bandHash"), col("docId"), col("shh"),
        col("candidate"))
      .as[CurRow]
  }

  /** The stateful dedup core — q156's band-bucket state function with
    * the contamination flag passed through. Arrivals verify (ascending
    * id) against corpus members and smaller-id earlier arrivals, then
    * join the bucket whether or not they matched. State is the packed
    * long-block layout (see [[StreamDedup]] — the nested-encoder cost
    * was the macro's dominant term).
    */
  def curationStream(stream: Dataset[CurRow],
      initial: KeyValueGroupedDataset[Long, Array[Long]],
      threshold: Double = 0.8): Dataset[CurVerdict] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .groupByKey(_.bandHash)
      .flatMapGroupsWithState[Array[Long], CurVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial) {
        (_: Long, rows: Iterator[CurRow], state: GroupState[Array[Long]]) =>
          var packed = state.getOption.getOrElse(Array.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[CurVerdict]
          rows.toSeq.sortBy(_.docId).foreach { r =>
            // sorted+distinct on BOTH the probe and the stored block —
            // packedHit's union formula is set arithmetic on both sides
            // (the r16 advice item; curationRows already array_distincts
            // shh, so this is caller-robustness, not a semantics change)
            val sortedA = StreamDedup.distinctSorted(r.shh)
            val hit = StreamDedup.packedHit(packed, sortedA, r.docId,
              threshold)
            out += CurVerdict(r.docId, hit, r.candidate)
            packed = StreamDedup.appendBlock(packed, r.docId,
              corpus = false, sortedA)
          }
          state.update(packed)
          out.iterator
      }
  }
}
