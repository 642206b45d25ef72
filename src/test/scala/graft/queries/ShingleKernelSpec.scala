package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.{MinhashSignature, UnicodeTokens}
import graft.operators.Dedup

/** The shingle, gram-key and LSH-hash kernels against the builtin
  * higher-order expressions they replaced, on the sf0.001 documents and
  * on the q214 CJK-suffixed corpus, plus hand-made docs with fewer than
  * n tokens, repeated shingles and null text. Every output must be
  * bit-identical: the shingles feed exact Jaccard, the gram keys the
  * decontamination joins, and the band hashes the LSH buckets.
  */
class ShingleKernelSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus: DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val sn = array(TextOps.unicodeSnippets.map(lit): _*)
    val suffixed = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" "),
        element_at(sn, (col("doc_id") % 5).cast("int") + 1)).as("text"))
    val edge = Seq[(Long, String)](
      (-1L, "one two"), (-2L, "A b a B a b a b a"), (-3L, null), (-4L, ""),
      (-5L, "x y z"), (-6L, "   "), (-7L, "深深深深深"), (-8L, "repeat"))
      .toDF("doc_id", "text")
    docs.union(suffixed).union(edge)
  }

  private def legacyWords(text: Column): Column = UnicodeTokens(lower(text))

  private def legacyShingles(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array().cast("array<string>")),
        s => length(s) > 0))

  private def legacyBands(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_id"),
        xxhash64(concat_ws(",", slice(sig, b * rows + 1, lit(rows))), b)
          .as("band_hash")))
  }

  private def assertColumnsEqual(df: DataFrame, a: Column, b: Column): Long = {
    val rows = df.select(a.as("a"), b.as("b")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    rows.length
  }

  test("WordShingles equals the higher-order shingle chain") {
    val df = corpus
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = assertColumnsEqual(df,
        legacyShingles(legacyWords(col("text")), n),
        Dedup.shingles(col("text"), n))
      assert(rows > 8)
    }
    // edge docs: short docs and null text give [], repeats keep the first
    val edge = corpus.filter(col("doc_id") < 0)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(edge(-1L).isEmpty && edge(-3L).isEmpty && edge(-4L).isEmpty)
    assert(edge(-2L) == Seq("a b a", "b a b"))
    assert(edge(-7L) == Seq("深 深 深"))
  }

  test("wordGramKeys equals the higher-order gram builder") {
    val df = corpus
    val legacy = df.select(col("doc_id"), legacyWords(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(slice(sequence(1, greatest(size(w) - 2, 1)), 1," +
          " greatest(size(w) - 2, 0))," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)," +
          " ' ', element_at(w, i + 2)))")).as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), Dedup.md5Hash64(col("g")).as("gk"))
    def rows(d: DataFrame) = d.as[(Long, Long)].collect().toSeq.sorted
    val got = rows(Dedup.wordGramKeys(df, "doc_id", "text"))
    assert(got.nonEmpty)
    assert(got == rows(legacy))
  }

  test("shingle and band hash kernels equal xxhash64 over the builtin chains") {
    val sh = corpus.select(Dedup.shingles(col("text"), 3).as("sh"))
    assertColumnsEqual(sh,
      transform(col("sh"), s => xxhash64(s)), Dedup.shingleHashes(col("sh")))
    assertColumnsEqual(sh,
      MinhashSignature(transform(col("sh"), s => xxhash64(s)), 64),
      Dedup.minhashSignature(col("sh"), 64))
    val sig = sh.filter(size(col("sh")) > 0)
      .select(Dedup.minhashSignature(col("sh"), 64).as("sig"))
    for ((k, bands) <- Seq((64, 16), (64, 1), (10, 3), (4, 8)))
      assertColumnsEqual(sig,
        legacyBands(col("sig"), k, bands), Dedup.bandedSignature(col("sig"), k, bands))
    // extreme longs and a null element (concat_ws skips it)
    val edge = Seq(Seq[java.lang.Long](Long.MinValue, 0L, null, -1L, Long.MaxValue, 7L))
      .toDF("sig")
    assertColumnsEqual(edge, legacyBands(col("sig"), 6, 2), Dedup.bandedSignature(col("sig"), 6, 2))
    assertColumnsEqual(Seq(Seq[String]("a", null, "")).toDF("sh"),
      transform(col("sh"), s => xxhash64(s)), Dedup.shingleHashes(col("sh")))
  }
}
