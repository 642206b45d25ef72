package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Session

/** 10× scale-step guard for the LLM-text-pipeline shapes (q131 TF-IDF,
  * q133 BPE pair counts, q136 Misra–Gries heavy hitters, q137
  * token-budget selection, q138 bigram familiarity). Every other operator
  * family has a macro; these claimed their shuffle shapes scale on
  * 500-doc gate evidence only. Docs are synthesized TEXT (the real
  * tokenizers run) over a Zipf-ish mixture vocabulary: ~45% of positions
  * draw from 16 hot tokens, the rest from a 100k-token tail — so hot-key
  * pressure on the pair/term shuffles is realistic.
  *
  * Cliff gate (round-6 brief): FAIL if any shape's 10× time exceeds
  * 1.5 × factor × its 1× time — the signature of a plan that stopped
  * scaling linearly (vocabulary broadcast blow-up, single-reducer
  * window, spill).
  *
  * Usage: TextMacroBench [factor] [baseDocs] (defaults 10, 300000)
  */
object TextMacroBench {

  /** (doc_id, text, n_tokens): 20-60 tokens per doc. */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val nTok = (pmod(xxhash64(col("id")), lit(41)) + 20).cast("int")
    val tok = {
      // i is the 1-based position; ~45% hot (16 tokens), else 100k tail
      val h = xxhash64(col("doc_id"), col("i"))
      when(pmod(h, lit(100)) < 45,
        concat(lit("h"), pmod(xxhash64(col("doc_id"), col("i"), lit(1)), lit(16))))
        .otherwise(
          concat(lit("w"), pmod(xxhash64(col("doc_id"), col("i"), lit(2)), lit(100000))))
    }
    spark.range(n)
      .select(col("id").as("doc_id"), explode(sequence(lit(1), nTok)).as("i"))
      .select(col("doc_id"), tok.as("tok"))
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("tok"))).as("text"),
        count(lit(1)).as("n_tokens"))
  }

  // the script-aware default seam (graft.core.Tok, r18) — identical
  // tokens on this single-spaced ASCII corpus, so arm numbers compare
  // directly against the pre-migration records
  private def toks = graft.core.Tok.words(col("text"))

  /** q131 shape: tf → df → join → per-doc top-3 window. */
  private def tfidf(d: DataFrame): DataFrame = {
    // explode_OUTER (the Dedup.wordGramKeys lesson): the non-outer
    // form's inferred size()>0 guard re-tokenizes once more per row
    val terms = d.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode_outer(col("tk")).as("term"))
      .filter(col("term").isNotNull)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  private def pairRel(d: DataFrame): DataFrame = {
    val nPairs = greatest(size(col("tk")) - 1, lit(0))
    val zipped = arrays_zip(
      slice(col("tk"), lit(1), nPairs).as("a"),
      slice(col("tk"), lit(2), nPairs).as("b"))
    d.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), zipped.as("zs"))
      .select(col("doc_id"), explode_outer(col("zs")).as("z"))
      .filter(col("z").isNotNull)
      .select(col("doc_id"), concat(col("z.a"), lit(" "), col("z.b")).as("pair"))
  }

  /** q133 shape: pair-key partial agg → TakeOrdered. */
  private def bpePairs(d: DataFrame): DataFrame =
    pairRel(d).groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)

  /** q136 shape: bounded-state candidates + exact second pass. */
  private def heavyHitters(d: DataFrame): DataFrame = {
    val tok = d.select(toks.as("tk"))
      .select(explode_outer(col("tk")).as("tok"))
      .filter(col("tok").isNotNull)
    val cand = tok
      .agg(graft.functions.FrequentItems(128)(col("tok")).as("cand"))
      .select(explode(col("cand")).as("tok"))
    val n = tok.agg(count(lit(1)).as("n"))
    tok.join(broadcast(cand), "tok")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * 100 > col("n"))
  }

  /** q137 shape: quality rank → PrefixSum running total → budget cut. */
  private def tokenBudget(d: DataFrame): DataFrame = {
    val scored = d.select(col("doc_id"),
      (pmod(xxhash64(col("doc_id")), lit(1000000)) / 1e6).as("quality"),
      col("n_tokens"))
    val withCum = graft.operators.PrefixSum.runningSum(
      scored, Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), "cum_tokens")
    val total = scored.agg(sum("n_tokens").as("total_tokens"))
    withCum.crossJoin(broadcast(total))
      .filter(col("cum_tokens") * 10 <= col("total_tokens"))
  }

  /** q138 shape: pair relation → global counts → pair-key join back. */
  private def bigramFamiliarity(d: DataFrame): DataFrame = {
    val pairs = pairRel(d)
    val global = pairs.groupBy("pair").agg(count(lit(1)).as("gcnt"))
    pairs.join(global, "pair")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("gcnt").as("sum_gcnt"))
      .withColumn("familiarity",
        col("sum_gcnt").cast("double") / col("n_bigrams"))
  }

  /** q147 shape at scale: the COMPLETE 5-stage curation DAG — quality
    * gate → exact dedup → MinHash LSH near-dup dedup → decontamination
    * → token-budget cut — over the synthetic corpus augmented with ~1%
    * planted exact copies and ~1% appended-token near-copies (so the
    * dedup stages do real work). `staged=true` materializes every stage
    * boundary (localCheckpoint); the run cross-checks the one-DAG
    * composition against the stage-by-stage run — identical final
    * manifest (n_docs, sum_tokens) or the bench fails.
    */
  private def curation(d: DataFrame, staged: Boolean): DataFrame = {
    def ckpt(df: DataFrame): DataFrame = if (staged) df.localCheckpoint() else df
    val aug = d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 103 === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2")).as("text")))
    // shared one-tokenizer-pass gate (r20: the two-withColumn + pushed
    // filter form re-inlined the tokenizer ~3x per doc)
    val quality = ckpt(graft.queries.PipelineQueries.qualityGate(aug))
    val exact = ckpt(quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn"))
    val near = ckpt(
      graft.operators.Dedup.minhashDedup(exact, "doc_id", "text", threshold = 0.8))
    val toks = graft.core.Tok.words(col("text"))
    // explode_OUTER + isNotNull: the Dedup.wordGramKeys lesson — plain
    // explode's inferred size()>0 guard re-inlines the whole gram
    // construction into a per-row Filter evaluation (~150 re-tokenizations
    // per doc). Same expression otherwise; gk stays xxhash64 (no oracle
    // replays this arm — the gate is composed ≡ staged).
    def grams(df: DataFrame) = df.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(slice(sequence(1, greatest(size(w) - 2, 1)), 1," +
          " greatest(size(w) - 2, 0))," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)," +
          " ' ', element_at(w, i + 2)))")).as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), xxhash64(col("g")).as("gk"))
    val evalGrams = grams(aug.filter(col("doc_id") % 199 === 0))
      .select("gk").distinct()
    val trainSide = near.filter(col("doc_id") % 199 =!= 0)
    val contaminated = grams(trainSide).join(evalGrams, "gk")
      .select("doc_id").distinct()
    val clean = ckpt(trainSide.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality"),
        col("n_tokens").cast("long").as("n_tokens")))
    val withCum = graft.operators.PrefixSum.runningSum(
      clean, Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), "cum_tokens")
    val total = clean.agg(sum("n_tokens").as("total_tokens"))
    withCum.crossJoin(broadcast(total))
      .filter(col("cum_tokens") * 2 <= col("total_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
  }

  /** q158 shape: HTML synthesis + regex boilerplate extraction — an
    * embarrassingly parallel scan with zero shuffle; its ratio should
    * track the data ratio almost exactly (pure per-row CPU).
    */
  private def htmlExtract(d: DataFrame): DataFrame = {
    val html = concat(
      lit("<html><head><title>s"), pmod(col("doc_id"), lit(20)).cast("string"),
      lit(" #"), col("doc_id").cast("string"),
      lit("</title><script>var v=1;</script><style>.x{}</style></head>" +
        "<body><nav><a href=\"/h\">home</a> <a href=\"/c\">contact</a>"),
      expr("repeat('<a href=\"/x\">more link here</a>', CAST(doc_id % 3 AS INT))"),
      lit("</nav><h1>t</h1><p>"), col("text"),
      lit("</p><div class=\"ads\">buy now click here</div>" +
        "<footer>copyright s</footer></body></html>"))
    val ex = graft.operators.HtmlExtract.extract(html)
    d.select(col("doc_id"), ex.as("ex"))
      .select(col("doc_id"), col("ex.n_links"), col("ex.n_kept"),
        length(col("ex.kept_text")).as("kept_len"))
  }

  /** q162 shape at scale: eval-3-gram decontamination against a
    * 5%-of-corpus eval set whose distinct grams are too many to
    * auto-broadcast as a join table. The exact arm pays the full-corpus
    * shuffle join; the bloom arm broadcasts the BIT ARRAY (30-50×
    * smaller than the join hash table), prunes n-grams map-side inside
    * the scan stage, and only candidates reach the verify join. Both
    * arms return identical rows (no false negatives) — checked by xor
    * hash at the 1× run.
    */
  private def deconGrams(d: DataFrame): DataFrame =
    // explode_OUTER + isNotNull: the Dedup.wordGramKeys inferred-filter fix
    d.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(slice(sequence(1, greatest(size(w) - 2, 1)), 1," +
          " greatest(size(w) - 2, 0))," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)," +
          " ' ', element_at(w, i + 2)))")).as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), xxhash64(col("g")).as("gk"))

  /** q210 shape: script-aware tokenization of a mixed-script corpus
    * (deterministic CJK/Thai suffixes over the synthetic docs) — the
    * pure-scan cost of the UnicodeTokens kernel plus a corpus fold.
    */
  private val uniSnippets = Seq(
    "深層学習モデルの訓練データ処理",
    "数据管道在大规模集群上运行　测试",
    "ひらがなとカタカナの混在テキスト",
    "ข้อมูลภาษาไทยสำหรับทดสอบ",
    "GPU加速で高速化した分散処理")

  private def unicodeTokens(d: DataFrame): DataFrame = {
    val sn = array(uniSnippets.map(lit): _*)
    val tk = graft.functions.UnicodeTokens(
      lower(concat(col("text"), lit(" "),
        element_at(sn, (col("doc_id") % 5).cast("int") + 1))))
    d.select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n"),
        xxhash64(concat_ws("\u001f", col("tk"))).as("h"))
      .agg(sum(col("n")).as("total_tokens"),
        bit_xor(col("h")).as("sig"),
        count(lit(1)).as("n_docs"))
  }

  /** q216 shape at scale: the fused LangIdScores kernel over a
    * MULTILINGUAL corpus — planted lang = doc_id % 8, text = three
    * hash-picked sentences from that language's train+eval pool — so
    * per-class prediction counts have a closed form and the check run
    * requires EXACT agreement (predicted ≡ planted for every doc; a
    * triple of same-language sentences classifying wrong is a model
    * regression, not noise).
    */
  private def langDocs(d: DataFrame): DataFrame = {
    import graft.operators.LangId
    val langs = LangId.Langs
    val pool = (LangId.trainExamples ++ LangId.evalExamples)
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
    val arrs = array(langs.map(l => array(pool(l).map(lit): _*)): _*)
    val li = (col("doc_id") % langs.size).cast("int") + 1
    val sent = element_at(arrs, li)
    def pick(j: Int) = element_at(sent,
      pmod(xxhash64(col("doc_id"), lit(j)), size(sent)).cast("int") + 1)
    d.select(col("doc_id"),
      element_at(array(langs.map(lit): _*), li).as("planted"),
      concat_ws(" ", pick(0), pick(1), pick(2)).as("mtext"))
  }

  private def langId(d: DataFrame): DataFrame = {
    val r = graft.functions.LangIdScores(
      concat_ws(" ", graft.core.Tok.words(col("mtext"))),
      graft.operators.LangId.fixture)
    langDocs(d).select(col("planted"), r.getField("pred").as("pred"))
      .groupBy("planted", "pred").agg(count(lit(1)).as("n"))
  }

  /** q222/q223 shape at scale: the fused NgramLmScore kernel + fixed-
    * threshold bucketing over the same multilingual corpus — pure
    * per-row map + one tiny groupBy; the check run gates the planted
    * closed form (fluent-English triples never bucket tail, OOV-script
    * and noise triples always do).
    */
  private def lmPerplexity(d: DataFrame): DataFrame = {
    import graft.operators.NgramLm
    val m = NgramLm.fixture
    val (tLo, tHi) = NgramLm.thresholds(m)
    val r = graft.functions.NgramLmScore(
      concat_ws(" ", graft.core.Tok.words(col("mtext"))), m)
    langDocs(d).select(col("planted"),
        r.getField("lm_q").as("lm_q"), r.getField("n_grams").as("n_grams"))
      .withColumn("ppl_q", expr(
        s"CAST(CASE WHEN n_grams = 0 THEN 0 " +
          s"ELSE -((-lm_q) * ${m.scale} div n_grams) END AS BIGINT)"))
      .withColumn("bucket",
        when(col("ppl_q") < tLo, "tail")
          .when(col("ppl_q") < tHi, "middle").otherwise(lit("head")))
      .groupBy("planted", "bucket")
      .agg(count(lit(1)).as("n"), sum("n_grams").as("grams"))
  }

  private def deconExact(d: DataFrame): DataFrame = {
    val grams = deconGrams(d)
    val eval_ = grams.filter(col("doc_id") % 19 === 0).select("gk").distinct()
    grams.filter(col("doc_id") % 19 =!= 0)
      .join(eval_, "gk")
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_grams"))
  }

  private def deconBloom(d: DataFrame): DataFrame = {
    val n = d.count() // cached upstream — instant
    // ~6 positions per doc land in the filter → load ≈ 0.25, FPR ≈ 1.5%.
    // Bigger m is NOT better here: the global agg merges one m/64-long
    // partial per input partition, so the build cost is
    // partitions × m/8 bytes through one reducer — hence also the
    // repartition(8) below (compact longs, cheap) to bound the fan-in.
    // clamp at 2^30 bits (128 MB): past ~86M docs n*25 outgrows Int range
    // and m.toInt below would wrap negative into the BloomBits require
    val m = math.min(1L << 30,
      math.max(1L << 22, java.lang.Long.highestOneBit(n * 25L)))
    val grams = deconGrams(d)
    def pos(j: Int): Column = pmod(xxhash64(col("gk"), lit(j)), lit(m))
    val eval_ = grams.filter(col("doc_id") % 19 === 0).select("gk").distinct()
    val bloom = eval_
      .select(explode(array(pos(0), pos(1), pos(2))).as("p"))
      .repartition(8)
      .agg(graft.functions.BloomBits(m.toInt)(col("p")).as("words"))
    def bitSet(p: String): Column = expr(
      s"(shiftright(element_at(words, cast($p div 64 as int) + 1)," +
        s" cast($p % 64 as int)) & 1) = 1")
    grams.filter(col("doc_id") % 19 =!= 0)
      .withColumn("p0", pos(0)).withColumn("p1", pos(1)).withColumn("p2", pos(2))
      .crossJoin(broadcast(bloom))
      .filter(bitSet("p0") && bitSet("p1") && bitSet("p2"))
      .join(eval_, "gk")
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_grams"))
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--deep-bpe-sampled")) { deepBpeSampled(args); return }
    if (args.contains("--deep-bpe")) { deepBpe(args); return }
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val baseDocs = args.drop(1).headOption.map(_.toLong).getOrElse(300000L)
    val spark = Session(partitionsPerCpu = 4)

    // q142 shape: 3 rounds of the full BPE trainer loop — the word-type
    // aggregation scales with the corpus, the merge rounds with the
    // vocabulary, so the ratio should stay well under the data ratio.
    def bpeTrain(d: DataFrame): DataFrame = {
      val words = graft.operators.BpeTrainer.wordTable(d, "text")
      val (_, finalWords) = graft.operators.BpeTrainer.train(words, 3)
      val out = finalWords.groupBy().agg(count(lit(1)).as("n_types"))
      out.collect() // fold the unpersist into the timed region
      finalWords.unpersist()
      out
    }

    // q184 shape: since r14 ONE scan through the fused GopherStats
    // kernel (was five gram explosions + coverage-dedup joins — the
    // heaviest plan of the corpus-stats batch at 392 s / 3M docs)
    def gopher(d: DataFrame): DataFrame =
      graft.queries.CorpusStats.gopherNgrams(d)

    // q185 shape: bigram/unigram counts + two vocab joins + top-50 —
    // no forced broadcast of the vocabulary-sized unigram table (r14)
    def pmi(d: DataFrame): DataFrame =
      graft.queries.CorpusStats.pmiCollocations(d)

    // q202 shape: exact-substring rewrite — window-hash occurrences →
    // ownership groupBy → cut explode → anti-join rebuild (mostly
    // duplicate-free on this corpus, so the cost is the scan + the
    // compact-key shuffles, the floor any corpus pays)
    def spanRewrite(d: DataFrame): DataFrame =
      graft.queries.TextOps.spanRewrite(d)

    // q205 shape: temperature-flattened mixture — ONE per-source token
    // aggregate drives everything, the apportionment runs on the tiny
    // per-source table (12 synthesized sources here); cost ≈ the
    // tokenize scan, the cheapest arm by design
    def temperatureMix(d: DataFrame): DataFrame =
      graft.queries.PipelineQueries.temperatureMix(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(12)))))

    // q208 shape: production BPE tokenization — 26 merges (incl.
    // second-level h1x chains) applied as codegen'd string replaces in
    // one scan; the whole corpus re-tokenizes with zero shuffle
    def bpeEncode(d: DataFrame): DataFrame = {
      val merges = ((0 to 9).map(i => ("h", i.toString)) ++
        (0 to 9).map(i => ("w", i.toString)) ++
        (0 to 5).map(i => ("h1", i.toString))).zipWithIndex
        .map { case ((a, b), i) =>
          graft.operators.BpeTrainer.MergeStep(i, a, b, 0L) }
      graft.operators.BpeTrainer.encode(d, "doc_id", "text", merges)
    }

    // q219/q220 shape: the PRODUCTION-VOCAB posture — train merges on
    // an md5-hash-selected 1/4 sample (per-round scans touch 25% of
    // the corpus), then ONE full-corpus zero-shuffle encode pass; the
    // end-to-end cost a real tokenizer build pays per merge batch
    def bpeSampled(d: DataFrame): DataFrame = {
      val sample = d.filter(pmod(graft.operators.Dedup.md5Hash64(
        concat(col("doc_id").cast("string"), lit("_bpes"))), lit(4)) === 0)
      val words = graft.operators.BpeTrainer.wordTable(sample, "text")
      val (merges, finalWords) = graft.operators.BpeTrainer.train(words, 10)
      finalWords.unpersist()
      graft.operators.BpeTrainer.encode(d, "doc_id", "text", merges)
    }

    val allShapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "tfidf" -> tfidf, "bpe_pairs" -> bpePairs,
      "heavy_hitters" -> heavyHitters, "token_budget" -> tokenBudget,
      "bigram_familiarity" -> bigramFamiliarity, "bpe_train3" -> bpeTrain,
      "curation" -> (d => curation(d, staged = false)),
      "html_extract" -> htmlExtract, "gopher" -> gopher, "pmi" -> pmi,
      "span_rewrite" -> spanRewrite, "temperature_mix" -> temperatureMix,
      "bpe_encode" -> bpeEncode, "bpe_sampled" -> bpeSampled,
      "unicode_tokens" -> unicodeTokens,
      "lang_id" -> langId, "lm_perplexity" -> lmPerplexity,
      "decon_exact" -> deconExact, "decon_bloom" -> deconBloom)
    // SPARK_GRAFT_SHAPES=a,b subsets the arms (iteration / isolation);
    // unknown names fail LOUDLY — a typo must never time nothing and
    // report success (round-13 advice)
    val shapes = sys.env.get("SPARK_GRAFT_SHAPES") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val known = allShapes.map(_._1).toSet
        val unknown = want.diff(known)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_SHAPES names unknown arms: ${unknown.mkString(",")};" +
            s" known: ${known.toSeq.sorted.mkString(",")}")
        allShapes.filter { case (n, _) => want(n) }
      case None => allShapes
    }

    def runAll(nDocs: Long, check: Boolean = false): Map[String, Double] = {
      val d = docs(spark, nDocs).cache()
      d.count()
      val times = shapes.map { case (name, f) =>
        val t0 = System.nanoTime()
        Bench.materialize(f(d))
        val secs = (System.nanoTime() - t0) / 1e9
        // Arm isolation — the in-JVM twin of the "never run two macros
        // concurrently" lesson: operators register internal caches
        // (minhashDedup's shingle/signature tables are GBs at 10×) that
        // outlive their arm and put every LATER arm under storage
        // pressure (measured: decon_exact 98.6 s after the curation +
        // gopher arms vs 21.7 s isolated). Drop everything, restore d,
        // all outside the timed region.
        spark.sharedState.cacheManager.clearCache()
        d.cache()
        d.count()
        name -> secs
      }.toMap
      // composition correctness (1× run): the one-DAG curation must
      // produce the SAME final manifest as the stage-by-stage
      // (materialized) run — the survivor sets feed each other equally
      if (check) {
        val composed = curation(d, staged = false).collect()(0)
        val stagedRow = curation(d, staged = true).collect()(0)
        require(composed == stagedRow,
          s"composed curation $composed != staged $stagedRow at $nDocs docs")
        // bloom prefilter has no false negatives → identical output rows
        val he = Bench.materialize(deconExact(d))
        val hb = Bench.materialize(deconBloom(d))
        require(he == hb, s"bloom decon mismatch: exact=$he bloom=$hb")
        // the synthesized corpus plants no 16-token duplicate span
        // (all-hot windows are ~3e-6 of positions and draw from a 16^16
        // space), so ANY cut is a fingerprint false positive — with the
        // 43-bit fold + exact content verify this must be exactly 0
        // (the round-14 31-bit fold would birthday-collide here at 10×)
        val cutRow = spanRewrite(d).agg(sum(col("n_cut"))).collect()(0)
        val nCut = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0)
        require(nCut == 0L,
          s"span_rewrite cut $nCut tokens on the duplicate-free corpus")
        // language-ID must be EXACT on same-language sentence triples
        val lidBad = langId(d).filter(col("planted") =!= col("pred")).collect()
        require(lidBad.isEmpty,
          s"lang_id mispredicted classes: ${lidBad.mkString(", ")}")
        // LM bucket closed form: fluent-English triples never tail,
        // OOV-script/noise triples always tail
        val lmBad = lmPerplexity(d).filter(
          (col("planted") === "en" && col("bucket") === "tail") ||
            (col("planted").isin("zh", "ja", "th", "und") &&
              col("bucket") =!= "tail")).collect()
        require(lmBad.isEmpty,
          s"lm_perplexity bucket violations: ${lmBad.mkString(", ")}")
      }
      d.unpersist()
      times
    }

    runAll(math.max(baseDocs / 10, 1000)) // warm-up: JIT + codegen
    val t1 = runAll(baseDocs, check = true)
    val tN = runAll(baseDocs * factor)
    val ratios = t1.keys.map(k => k -> tN(k) / t1(k)).toMap
    val cliff = ratios.filter(_._2 > 1.5 * factor)
    val detail = shapes.map { case (k, _) =>
      f""""$k":{"t1_sec":${t1(k)}%.2f,"tN_sec":${tN(k)}%.2f,"ratio":${ratios(k)}%.1f}"""
    }.mkString("{", ",", "}")
    println(
      f"""{"metric":"text_macro","value":${tN.values.sum}%.1f,"unit":"sec","factor":$factor,"base_docs":$baseDocs,"shapes":$detail,"cliff":${cliff.nonEmpty}}""")
    require(cliff.isEmpty,
      s"scale cliff (>${1.5 * factor}x time at ${factor}x data): $cliff")
    spark.stop()
  }

  /** Production-depth BPE training: a real tokenizer is 30k merges, not
    * the 50 the q154 gate unrolls — this arm drives trainBatched to
    * `merges` EFFECTIVE merges over the full corpus and REPORTS the
    * amortization the ranked-prefix stop rule actually achieves.
    * Measured on this corpus: avg accepted batch ≈ 2.0 of 64 — top
    * pairs share common symbols, so exact-sequential-equality batching
    * buys only ~2× fewer rounds; the production lever is the per-round
    * wall (~0.27 s here, scan-bound — flat in rounds, linear in
    * corpus), not batch width. The depth itself is the other gate:
    * 512 localCheckpoint rounds with flat driver memory — 17× the
    * depth that lineage-OOM'd an 8g driver before the per-round
    * localCheckpoint fix.
    *
    * Usage: TextMacroBench --deep-bpe [merges] [batchSize] [nDocs]
    *        (defaults 1000, 64, 300000)
    */
  private def deepBpe(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val merges = pos.headOption.map(_.toInt).getOrElse(1000)
    val batch = pos.drop(1).headOption.map(_.toInt).getOrElse(64)
    val nDocs = pos.drop(2).headOption.map(_.toLong).getOrElse(300000L)
    val spark = Session()

    val d = docs(spark, nDocs).cache()
    d.count()
    val words = graft.operators.BpeTrainer.wordTable(d, "text")
    val t0 = System.nanoTime()
    val (steps, finalWords, rounds) =
      graft.operators.BpeTrainer.trainBatched(words, merges, batch)
    finalWords.count()
    val secs = (System.nanoTime() - t0) / 1e9
    require(steps.size == merges,
      s"asked for $merges merges, applied ${steps.size}")
    val avgBatch = merges.toDouble / rounds
    println(f"""{"metric":"bpe_deep","value":$secs%.1f,"unit":"sec","n_docs":$nDocs,"merges":$merges,"batch_size":$batch,"rounds":$rounds,"avg_batch":$avgBatch%.1f,"sec_per_round":${secs / rounds}%.3f,"merges_per_sec":${merges / secs}%.1f}""")
    require(avgBatch >= 1.0, s"stop rule degenerated: $avgBatch")
    spark.stop()
  }

  /** PRODUCTION-VOCAB sampled-BPE record (r19 verdict item 7): q219/
    * q220 gate ~10 merges; the production claim is 30k-vocab
    * viability. This arm trains `merges` (default 1000) effective
    * merges on the md5-selected 1/4 SAMPLE of a 3M-doc corpus, trains
    * the FULL-corpus twin to the same depth, reports where the two
    * merge tables first diverge (the sample-vs-full divergence
    * posture: hot pairs are frequency-stable under uniform sampling,
    * so divergence starts deep in the tail where counts are small and
    * ties reorder), and then runs the FULL-corpus encode pass under
    * the sampled table — the end-to-end cost a real tokenizer build
    * pays: sample-train once, encode everything.
    *
    * Usage: TextMacroBench --deep-bpe-sampled [merges] [batchSize]
    *        [nDocs] (defaults 1000, 64, 3000000)
    */
  private def deepBpeSampled(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val merges = pos.headOption.map(_.toInt).getOrElse(1000)
    val batch = pos.drop(1).headOption.map(_.toInt).getOrElse(64)
    val nDocs = pos.drop(2).headOption.map(_.toLong).getOrElse(3000000L)
    val spark = Session()

    val d = docs(spark, nDocs).cache()
    d.count()
    val sample = d.filter(pmod(graft.operators.Dedup.md5Hash64(
      concat(col("doc_id").cast("string"), lit("_bpes"))), lit(4)) === 0)

    def trainArm(src: org.apache.spark.sql.DataFrame)
        : (Seq[graft.operators.BpeTrainer.MergeStep], Double, Int) = {
      val t0 = System.nanoTime()
      val words = graft.operators.BpeTrainer.wordTable(src, "text")
      val (steps, finalWords, rounds) =
        graft.operators.BpeTrainer.trainBatched(words, merges, batch)
      finalWords.count()
      finalWords.unpersist()
      (steps, (System.nanoTime() - t0) / 1e9, rounds)
    }
    val (sampledSteps, tSampled, roundsS) = trainArm(sample)
    val (fullSteps, tFull, roundsF) = trainArm(d)
    require(sampledSteps.size == merges && fullSteps.size == merges)
    // first divergence index between the two merge tables
    val div = sampledSteps.zip(fullSteps).indexWhere {
      case (a, b) => (a.a, a.b) != (b.a, b.b)
    }
    val sameSet = sampledSteps.map(m => (m.a, m.b)).toSet
      .intersect(fullSteps.map(m => (m.a, m.b)).toSet).size

    // full-corpus encode under the SAMPLED table
    val te = System.nanoTime()
    val enc = graft.operators.BpeTrainer
      .encode(d, "doc_id", "text", sampledSteps)
      .agg(sum(col("n_tokens")).as("total"),
        count(lit(1)).as("n"))
      .collect()(0)
    val tEncode = (System.nanoTime() - te) / 1e9
    require(enc.getLong(1) == nDocs, s"encode covered ${enc.getLong(1)}")

    println(f"""{"metric":"bpe_deep_sampled","unit":"sec","n_docs":$nDocs,""" +
      f""""merges":$merges,"batch_size":$batch,""" +
      f""""sampled_train_sec":$tSampled%.1f,"sampled_rounds":$roundsS,""" +
      f""""full_train_sec":$tFull%.1f,"full_rounds":$roundsF,""" +
      f""""first_divergence":$div,"shared_merges":$sameSet,""" +
      f""""encode_sec":$tEncode%.1f,"encoded_tokens":${enc.getLong(0)}}""")
    spark.stop()
  }
}
