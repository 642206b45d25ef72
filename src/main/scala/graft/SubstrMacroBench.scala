package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Session

/** Scale + exactness gate for operators/SubstrDedup (q212's unaligned
  * exact-substring cut) at 1M docs / ~300M char windows — the macro the
  * r16 verdict required: planted UNALIGNED ≥24-char repeats, recall 1.0
  * REQUIRED, with a fixture designed so precision is closed-form too.
  *
  * Fixture: 1M docs of per-position-salted tokens (xxhash64(doc, i)
  * over a 10^9 space), so no 24-char run repeats across docs except the
  * planted ones — every doc_id % 200 == 199 ("B") carries a 60-char
  * slice of doc_id−1's text ("A") inserted at a VARYING character
  * offset (doc_id % 37 + 3): mid-token, different alignment per pair,
  * exactly what q202's 16-token-aligned windows cannot see.
  *
  * Closed form: the shared 60-char run yields exactly 60−24+1 = 37
  * duplicated windows per side; ownership (min doc·2^20+pos) always
  * belongs to A (smaller id ⇒ strictly smaller key for every gram), so
  * EVERY planted B must show n_cut_windows == 37 and n_chars_cut == 60
  * (windows straddling the insert boundary see different context in A
  * and B, so they never collide), and every other doc must show 0.
  * Any deviation — a missed planted pair (recall) or a spurious cut
  * (precision / hash-collision handling) — fails the require.
  *
  * Usage: SubstrMacroBench [nDocs] (default 1000000)
  *        SubstrMacroBench --composed [nDocs]  (q215's composed DAG at
  *          n/10 and n: quality → exact dedup → LSH near-dup →
  *          substring cut over survivors → accept funnel; staged ≡
  *          composed REQUIRED at n/10, cliff gate at 10×)
  *        SubstrMacroBench --hot [nDocs]  (universal-boilerplate
  *          adversary: every doc shares a 31-char prefix, so its
  *          windows form hash classes with nDocs occurrences each —
  *          the r18 hotCap split must keep stage 2 off the
  *          single-window-task path while staying EXACT)
  */
object SubstrMacroBench {

  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val nTok = (pmod(xxhash64(col("id")), lit(41)) + 20).cast("int")
    spark.range(n)
      .select(col("id").as("doc_id"),
        explode(sequence(lit(1), nTok)).as("i"))
      .select(col("doc_id"),
        concat(lit("w"),
          pmod(xxhash64(col("doc_id"), col("i")), lit(1000000000L)))
          .as("tok"))
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
  }

  /** The planted-copy fixture corpus shared by all arms (see the class
    * scaladoc for the closed form).
    */
  private def fixtureCorpus(spark: SparkSession, n: Long): DataFrame = {
    val base = docs(spark, n).localCheckpoint(true)
    val bIds = base.filter(col("doc_id") % 200 === 199)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    val planted = bIds
      .join(base.select((col("doc_id") + 1).as("bid"),
        col("text").as("atext")), "bid")
      .select(col("bid").as("doc_id"),
        concat(
          expr("substring(btext, 1, cast(bid % 37 + 3 as int))"),
          lit("#"), expr("substring(atext, 10, 60)"), lit("#"),
          expr("substring(btext, cast(bid % 37 + 4 as int))")).as("text"))
    base.filter(col("doc_id") % 200 =!= 199)
      .unionByName(planted)
      .localCheckpoint(true)
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--composed")) { composed(args); return }
    if (args.contains("--hot")) { hot(args); return }
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Session(partitionsPerCpu = 4)
    import spark.implicits._

    val base = docs(spark, n).localCheckpoint(true)
    // plant: B (id%200==199) gets substr(A.text, 10, 60) inserted at
    // char offset (B%37 + 3) — varying, unaligned
    val bIds = base.filter(col("doc_id") % 200 === 199)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    val planted = bIds
      .join(base.select((col("doc_id") + 1).as("bid"),
        col("text").as("atext")), "bid")
      .select(col("bid").as("doc_id"),
        concat(
          expr("substring(btext, 1, cast(bid % 37 + 3 as int))"),
          // '#' sentinels bound the shared run EXACTLY at 60 chars:
          // without them a boundary char of B can coincidentally equal
          // atext[9] / atext[70] and extend the repeat (measured ~15%
          // of pairs), breaking the closed-form 37-window count.
          // '#' never occurs in the token alphabet {w,0-9,space}.
          lit("#"), expr("substring(atext, 10, 60)"), lit("#"),
          expr("substring(btext, cast(bid % 37 + 4 as int))")).as("text"))
    val corpus = base.filter(col("doc_id") % 200 =!= 199)
      .unionByName(planted)
      .localCheckpoint(true)
    val nDocs = corpus.count()
    require(nDocs == n, s"fixture lost docs: $nDocs != $n")

    val t0 = System.nanoTime()
    val out = graft.operators.SubstrDedup
      .cutStats(corpus, "doc_id", "text")
      .localCheckpoint(true)
    val secs = (System.nanoTime() - t0) / 1e9

    val nPlanted = n / 200
    val stats = out.agg(
      sum(col("n_windows")).as("wins"),
      sum(when(col("doc_id") % 200 === 199 &&
        col("n_cut_windows") === 37 && col("n_chars_cut") === 60, 1L)
        .otherwise(0L)).as("planted_exact"),
      sum(when(col("doc_id") % 200 =!= 199 && col("n_cut_windows") > 0, 1L)
        .otherwise(0L)).as("spurious"))
      .collect()(0)
    val wins = stats.getLong(0)
    val plantedExact = stats.getLong(1)
    val spurious = stats.getLong(2)
    require(plantedExact == nPlanted,
      s"recall/closed-form failure: $plantedExact of $nPlanted planted " +
        "docs show the exact 37-window/60-char cut")
    require(spurious == 0,
      s"$spurious non-planted docs were cut — precision failure")
    println(f"substr_macro: docs=$n windows=$wins planted=$nPlanted " +
      f"all EXACT (37 windows / 60 chars each, 0 spurious) " +
      f"cut_stats=$secs%.1f s")
    spark.stop()
  }

  /** q215's composed DAG at scale: the fixture corpus augmented with
    * ~1% exact copies and ~1% appended-token near copies (so dedup does
    * real work) flows through quality → exact dedup → LSH near-dup →
    * corpus-wide substring cut over survivors → accept funnel, as ONE
    * DAG. Gates: composed ≡ staged funnel at n/10 (localCheckpoint
    * boundaries, the TextMacroBench curation pattern); planted
    * substring copies show the exact closed-form cut in the composed
    * run; cliff gate at 10×.
    */
  private def composed(args: Array[String]): Unit = {
    val n = args.filterNot(_.startsWith("--")).headOption
      .map(_.toLong).getOrElse(1000000L)
    val spark = Session(partitionsPerCpu = 4)

    def funnel(corpus0: DataFrame, staged: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      def ckpt(df: DataFrame): DataFrame =
        if (staged) df.localCheckpoint(true) else df
      // augment: exact copies + near copies (ids disjoint from base)
      val aug = corpus0
        .unionByName(corpus0.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 4000000000L).as("doc_id"), col("text")))
        .unionByName(corpus0.filter(col("doc_id") % 103 === 0)
          .select((col("doc_id") + 8000000000L).as("doc_id"),
            concat(col("text"), lit(" zq0 zq1 zq2")).as("text")))
      // shared one-tokenizer-pass gate (r20; the extra quality column
      // is inert downstream — `near` projects (doc_id, text))
      val quality = ckpt(graft.queries.PipelineQueries.qualityGate(aug))
      val exact = ckpt(quality
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn"))
      val near = graft.operators.Dedup
        .minhashDedup(exact, "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true) // survivor set feeds cut scan + join
      val cut = graft.operators.SubstrDedup.cutStats(near, "doc_id", "text")
        .select(col("doc_id"), col("n_cut_windows"), col("n_chars_cut"))
      near.withColumn("n_chars", length(col("text")).cast("long"))
        .join(cut, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_cut_windows"), lit(0L)).as("n_cut_windows"),
          coalesce(col("n_chars_cut"), lit(0L)).as("n_chars_cut"),
          (coalesce(col("n_chars_cut"), lit(0L)) * 5 <= col("n_chars"))
            .as("accepted"))
    }

    def manifest(f: DataFrame): (Long, Long, Long) = {
      val r = f.agg(count(lit(1)), sum(when(col("accepted"), 1L).otherwise(0L)),
        sum(col("n_chars_cut"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // 1×: composed ≡ staged + closed-form planted cuts
    val small = fixtureCorpus(spark, math.max(n / 10, 1000))
    val t1 = System.nanoTime()
    val composed1 = funnel(small, staged = false).localCheckpoint(true)
    val m1 = manifest(composed1)
    val secs1 = (System.nanoTime() - t1) / 1e9
    val mStaged = manifest(funnel(small, staged = true))
    require(m1 == mStaged, s"composed $m1 != staged $mStaged")
    // planted B docs survive dedup (their texts are unique) and must
    // show exactly the 37-window / 60-char cut in the composed run
    val plantedOk = composed1
      .filter(col("doc_id") % 200 === 199 && col("doc_id") < 4000000000L)
      .agg(sum(when(col("n_cut_windows") === 37 &&
        col("n_chars_cut") === 60, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
    require(plantedOk.getLong(0) == plantedOk.getLong(1),
      s"planted cuts in composed run: ${plantedOk.getLong(0)} of " +
        s"${plantedOk.getLong(1)} exact")

    // 10×: cliff gate
    val big = fixtureCorpus(spark, n)
    val tN = System.nanoTime()
    val mN = manifest(funnel(big, staged = false))
    val secsN = (System.nanoTime() - tN) / 1e9
    val ratio = secsN / secs1
    println(f"substr_composed: n1=${math.max(n / 10, 1000)} t1=$secs1%.1f s " +
      f"manifest1=$m1 nN=$n tN=$secsN%.1f s manifestN=$mN ratio=$ratio%.1f")
    require(ratio < 15.0, s"scale cliff: $ratio at 10x data")
    spark.stop()
  }

  /** Universal-boilerplate adversary for the r18 hotCap split: every
    * doc gets the same 31-char '#BOILERPLATE...' prefix, so the prefix
    * windows form duplicate classes with ~nDocs occurrences each. The
    * hot path must (a) stay EXACT — prefix windows cut everywhere but
    * the global owner, planted copies still 37/60 — and (b) complete in
    * the same band as the plain fixture (the window path would funnel
    * nDocs-row partitions through single tasks).
    */
  private def hot(args: Array[String]): Unit = {
    val n = args.filterNot(_.startsWith("--")).headOption
      .map(_.toLong).getOrElse(1000000L)
    val spark = Session(partitionsPerCpu = 4)

    // 31-char prefix + '%' sentinel bounds the shared run: windows at
    // pos 1..8 (= 31+1-24) are duplicated corpus-wide; the sentinel
    // char never occurs in the token alphabet, so pos 9+ windows cross
    // into per-doc text and never collide
    val boiler = "#BOILERPLATE-HEADER-0123456789#" // 31 chars
    val corpus = fixtureCorpus(spark, n)
      .select(col("doc_id"), concat(lit(boiler), lit("%"), col("text")).as("text"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val out = graft.operators.SubstrDedup.cutStats(corpus, "doc_id", "text")
      .localCheckpoint(true)
    val secs = (System.nanoTime() - t0) / 1e9

    val nPlanted = n / 200
    // Provable bounds (every doc's text starts boiler+%+'w' = 33 shared
    // chars; per-doc digit prefixes extend some runs further, so counts
    // are lower-bounded, not exact):
    //  - doc 0's ownership key doc·2^20+pos is the global minimum for
    //    every gram class it belongs to → ZERO cuts (the precision
    //    probe: one spurious cut anywhere in the hot path fails this);
    //  - every other doc: the 10 pure-shared windows (p ≤ 33−23) are
    //    owned by doc 0 → ≥ 10 cut windows covering ≥ 33 chars;
    //  - planted B docs additionally carry the 60-char run owned by
    //    their A twin (disjoint coverage) → ≥ 93 chars cut.
    val stats = out.agg(
      sum(when(col("doc_id") === 0, col("n_cut_windows"))).as("owner_cuts"),
      sum(when(col("doc_id") =!= 0 &&
        (col("n_cut_windows") < 10 || col("n_chars_cut") < 33), 1L)
        .otherwise(0L)).as("under_boiler"),
      sum(when(col("doc_id") % 200 === 199 && col("n_chars_cut") < 93, 1L)
        .otherwise(0L)).as("under_planted"))
      .collect()(0)
    require(stats.getLong(0) == 0, s"owner doc 0 was cut: ${stats.getLong(0)}")
    require(stats.getLong(1) == 0,
      s"${stats.getLong(1)} docs below the boilerplate cut bound")
    require(stats.getLong(2) == 0,
      s"${stats.getLong(2)} planted docs below the 93-char bound")
    println(f"substr_hot: docs=$n universal-prefix classes ~$n%d deep " +
      f"($nPlanted planted), all bounds EXACT, cut_stats=$secs%.1f s")
    spark.stop()
  }
}
