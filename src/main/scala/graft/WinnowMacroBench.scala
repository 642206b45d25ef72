package graft

import org.apache.spark.sql.functions._

import graft.core.Session

/** q201 winnowing partial-copy pairing at corpus scale with a
  * GUARANTEED-recall gate. Fixture: `n` synthetic docs (the
  * TextMacroBench token generator, ~20-60 tokens); for every id with
  * id % 200 == 7, docs id and id+1 embed the SAME pair-specific
  * 60+-char chunk at different offsets inside otherwise-unrelated
  * text. The winnowing guarantee (k=8, w=4: any shared substring of
  * length ≥ 11 yields ≥ 1 common selected fingerprint) applied to 5
  * disjoint 11-char stretches of the chunk forces ≥ 5 shared
  * fingerprints per planted pair — strictly above q201's n_shared >= 3
  * reporting threshold REGARDLESS of the surrounding text; the shared
  * chunk (" copy " + 59-char segs) is ≥ 24 chars contiguous, so the
  * round-15 exact 24-gram verification keeps every planted pair too —
  * recall must be EXACTLY 1.0 (a require, not a hope). PRECISION is
  * now gated as well (>= 0.95): the r14 run found 149.5k incidental
  * hot-substring pairs vs 5k planted (~3% precision) at the
  * fingerprint-count stage; the exact-verify stage must reject any
  * candidate without a true >= 24-char common substring, and identical
  * 7+-token hot runs (the only incidental source that long) are
  * birthday-rare (~16^7 sequence space).
  *
  * Usage: WinnowMacroBench [nDocs] (default 1M → ~5k planted pairs)
  */
object WinnowMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Session(partitionsPerCpu = 4)
    import spark.implicits._

    // base corpus: the TextMacroBench generator shape (nTok must read
    // the REAL input column `id`, not the same-select alias — lateral
    // column alias references are rejected)
    val nTok = (pmod(xxhash64(col("id")), lit(41)) + 20).cast("int")
    val tok = {
      val h = xxhash64(col("doc_id"), col("i"))
      when(pmod(h, lit(100)) < 45,
        concat(lit("h"), pmod(xxhash64(col("doc_id"), col("i"), lit(1)), lit(16))))
        .otherwise(
          concat(lit("w"), pmod(xxhash64(col("doc_id"), col("i"), lit(2)), lit(100000))))
    }
    val base = spark.range(n)
      .select(col("id").as("doc_id"), explode(sequence(lit(1), nTok)).as("i"))
      .select(col("doc_id"), tok.as("tok"))
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("tok"))).as("body"))
    // pair-specific >=60-char chunk, embedded at different offsets in
    // the two members (prefix only for the second)
    val pairBase = (col("doc_id") - (col("doc_id") % 200)) + 7
    // six pair-specific zero-padded segments → the chunk is ALWAYS
    // 59 chars, so the disjoint-stretch recall argument never depends
    // on hash-value digit counts
    val segs = concat_ws(" ", (1 to 6).map(j =>
      concat(lit("seg"), lpad(pmod(xxhash64(pairBase, lit(j)), lit(1000000))
        .cast("string"), 6, "0"))): _*)
    val isFirst = col("doc_id") % 200 === 7
    val isSecond = col("doc_id") % 200 === 8
    val docs = base.select(col("doc_id"),
      when(isFirst, concat(col("body"), lit(" copy "), segs))
        .when(isSecond, concat(lit("zz"), col("doc_id").cast("string"),
          lit(" copy "), segs, lit(" "), col("body")))
        .otherwise(col("body")).as("text"))
      .localCheckpoint(true)

    val t0 = System.nanoTime()
    val pairs = graft.queries.DedupQueries.winnowingPairs(docs)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9

    val planted = (7L until n by 200L).filter(_ + 1 < n)
      .map(a => (a, a + 1)).toSet
    val missed = planted.diff(pairs)
    require(missed.isEmpty,
      s"${missed.size} planted partial-copy pairs missed, e.g. " +
        s"${missed.take(3)}")
    val precision = planted.size.toDouble / pairs.size
    require(precision >= 0.95,
      f"precision $precision%.3f < 0.95: ${pairs.size - planted.size} " +
        "incidental pairs survived the exact 24-char verification")
    println(f"winnow_pairs_macro: docs=$n planted=${planted.size} " +
      f"found=${pairs.size} (incidental=${pairs.size - planted.size}) " +
      f"$secs%.1f s recall=1.0 EXACT precision=$precision%.3f")
    spark.stop()
  }
}
