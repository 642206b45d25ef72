package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Script-aware tokenizer properties (the r16 verdict's top item):
  * ASCII text must tokenize EXACTLY like the legacy `\s+` split (so the
  * whole text family can adopt the seam without changing a single
  * existing oracle), CJK/Thai codepoints become singleton tokens, and
  * the kernel must equal an INDEPENDENT Java-regex reimplementation of
  * the same class definition on a mixed-script catalog — the same
  * pattern the DuckDB oracle replays in RE2 (q210/q211 pin the
  * cross-engine leg at all three SFs).
  */
class UnicodeTokensSpec extends SparkSpec {
  import spark.implicits._

  private def tok(s: String): Seq[String] = {
    val arr = UnicodeTokens.compute(UTF8String.fromString(s))
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
  }

  /** Independent reimplementation: the Java-regex twin of the kernel's
    * one-pass walk (and of the oracle's RE2 pattern).
    */
  private val javaPattern = java.util.regex.Pattern.compile(
    "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}]|" +
      "[^ \\t\\n\\x0B\\f\\r\\u3000\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}]+")
  private def regexTok(s: String): Seq[String] = {
    val m = javaPattern.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  test("ASCII text tokenizes exactly like the legacy \\s+ split") {
    val samples = Seq(
      "the quick brown fox", "  leading and trailing  ",
      "tabs\tand\nnewlines\rhere", "punct, stays. attached!",
      "a", "", "   ", "one")
    for (s <- samples)
      assert(tok(s) == s.split("\\s+").toSeq.filter(_.nonEmpty), s"on '$s'")
  }

  test("CJK and Thai codepoints are singleton tokens") {
    assert(tok("深層学習") == Seq("深", "層", "学", "習"))
    assert(tok("カタカナ") == Seq("カ", "タ", "カ", "ナ"))
    assert(tok("ひらがな") == Seq("ひ", "ら", "が", "な"))
    // Thai combining vowel/tone marks carry script=Thai → their own
    // codepoint tokens (codepoint segmentation, not graphemes)
    assert(tok("ข้อ") == Seq("ข", "้", "อ"))
  }

  test("mixed script: ASCII runs embedded in CJK, ideographic space") {
    assert(tok("GPU加速で高速化") ==
      Seq("GPU", "加", "速", "で", "高", "速", "化"))
    assert(tok("abc　def") == Seq("abc", "def"))
    // CJK punctuation (script Common) joins run tokens, not singletons
    assert(tok("学。了") == Seq("学", "。", "了"))
  }

  test("supplementary-plane Han (surrogate pairs) is surrogate-safe") {
    val ext = new String(Character.toChars(0x2000B)) // 𠀋 CJK ext-B
    assert(tok(s"x${ext}y") == Seq("x", ext, "y"))
    assert(tok(ext * 3) == Seq(ext, ext, ext))
  }

  test("kernel equals the independent Java-regex reimplementation") {
    val catalog = Seq(
      "深層学習モデルの訓練データ処理",
      "数据管道在大规模集群上运行　测试",
      "ひらがなとカタカナの混在テキスト",
      "ข้อมูลภาษาไทยสำหรับทดสอบ",
      "GPU加速で高速化した分散処理",
      "mixed 英語 and 日本語 in one line",
      "trailing CJK深", "深leading CJK",
      "ASCII only plain words", "", " 　 ",
      "ヲン゠ー・「」『』（）、。") // Common-script CJK punctuation runs
    for (s <- catalog)
      assert(tok(s) == regexTok(s), s"on '$s'")
  }

  test("codegen path (DataFrame) matches local compute; SQL surface works") {
    val df = Seq("GPU加速で高速化", "plain ascii words", "ข้อมูล")
      .toDF("t")
    val got = df.select(UnicodeTokens(col("t")).as("tk"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(tok("GPU加速で高速化"), tok("plain ascii words"),
      tok("ข้อมูล")))
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("ut_probe")
    val viaSql = spark.sql("select unicode_tokens(t) as tk from ut_probe")
      .as[Seq[String]].collect().toSeq
    assert(viaSql == got)
    spark.catalog.dropTempView("ut_probe")
  }

  test("wordGramKeys is script-aware by default (r18 seam adoption)") {
    // the DEFAULT gram builder and its r17-era unicode alias are now
    // the same seam — identical keys everywhere
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three"))
      .toDF("doc_id", "text")
    val a = graft.operators.Dedup.wordGramKeys(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.operators.Dedup.wordGramKeysUnicode(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
    // a CJK doc — ONE token under the legacy \s+ split (zero grams,
    // the silent no-op the adoption removed) — yields real grams
    // through the default seam now
    val cjk = Seq((3L, "深層学習モデル")).toDF("doc_id", "text")
    val legacyToks = cjk.select(
      org.apache.spark.sql.functions.size(
        graft.core.Tok.legacyWords(org.apache.spark.sql.functions.col("text"))))
      .collect()(0).getInt(0)
    assert(legacyToks == 1)
    assert(graft.operators.Dedup.wordGramKeys(cjk, "doc_id", "text")
      .count() == 5) // 7 singletons → 5 overlapping 3-grams
  }

  test("Indic scripts run-tokenize with matras attached (r18 decision)") {
    // Devanagari is a space-separated script; matras share its script
    // class, so a word is ONE token, marks attached — no special casing
    assert(tok("\u0939\u093f\u0928\u094d\u0926\u0940 \u092d\u093e\u0937\u093e") ==
      Seq("\u0939\u093f\u0928\u094d\u0926\u0940", "\u092d\u093e\u0937\u093e"))
    assert(tok("\u0ba4\u0bae\u0bbf\u0bb4\u0bcd") ==
      Seq("\u0ba4\u0bae\u0bbf\u0bb4\u0bcd")) // Tamil likewise
    // script=INHERITED marks split from a SINGLETON-script base: the
    // decomposed kana U+304B+U+3099 is two tokens, the NFC form U+304C
    // is one — callers feeding decomposed text NFC-normalize first
    // (documented). Explicit escapes: editors silently NFC-normalize.
    val decomposed = "\u304b\u3099"
    val precomposed = "\u304c"
    assert(tok(decomposed) == Seq("\u304b", "\u3099"))
    assert(tok(precomposed) == Seq(precomposed))
    // the independent regex twin agrees on every one of these
    Seq("\u0939\u093f\u0928\u094d\u0926\u0940 \u092d\u093e\u0937\u093e",
        "\u0ba4\u0bae\u0bbf\u0bb4\u0bcd", decomposed, precomposed)
      .foreach { s =>
        assert(tok(s) == regexTok(s), s"on '$s'")
      }
  }

  test("tokenizeLocal (driver twin) equals the Column kernel") {
    val samples = Seq("GPU加速で高速化した分散処理", "plain ascii words",
      "ข้อมูลภาษาไทย", "mixed 深層-learning テスト", "", "  spaced  out  ")
    val viaCol = samples.toDF("t")
      .select(UnicodeTokens(col("t")).as("tk"))
      .as[Seq[String]].collect().toSeq
    val viaLocal = samples.map(s =>
      UnicodeTokens.tokenizeLocal(s).toSeq)
    assert(viaCol == viaLocal)
  }

  /** Mixed-case texts in many scripts, special case mappings (final
    * sigma, dotted I, sharp s, titlecase digraphs) and invalid UTF-8.
    */
  private val lowerCorpus: Seq[Array[Byte]] = Seq(
    "The Quick BROWN fox\tJumps\nOVER  the LAZY dog", "MiXeD-CaSe_123!",
    "ÀÉÎÕÜ Ça Va ÑANDÚ Ÿ", "ΟΔΟΣ ΣΟΦΟΣ ΣΑΣ", "İSTANBUL İi", "STRAẞE ß Straße",
    "深層学習モデルの訓練データ処理", "数据管道在大规模集群上运行　测试",
    "ข้อมูลภาษาไทยสำหรับทดสอบ", "GPU加速で高速化した分散処理",
    "ＡＢＣ全角 Ǆ ǅ ǆ", "", "   ").map(_.getBytes("UTF-8")) ++ Seq(
    // invalid UTF-8: stray continuation bytes, a truncated sequence,
    // an encoded surrogate, an overlong form
    Array[Byte]('A', 0x80.toByte, 'B', ' ', 0xFF.toByte, 0xFE.toByte, 'C'),
    Array[Byte]('D', 'e', 0xC3.toByte),
    Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte, ' ', 'X'),
    Array[Byte](0xC0.toByte, 0xAF.toByte, 'Y', 'Z'))

  private def lowerCorpusDf = lowerCorpus.map(Option(_)).:+(None).toDF("b")
    .select(col("b").cast("string").as("t"))

  test("Tok.words (one lowercasing kernel) equals the tokenizer over Spark's lower()") {
    val rows = lowerCorpusDf.select(
        UnicodeTokens(lower(col("t"))).as("legacy"),
        graft.core.Tok.words(col("t")).as("fused"))
      .collect()
    assert(rows.length == lowerCorpus.length + 1)
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    assert(rows.last.isNullAt(1)) // null text stays null
    // the interpreted path (eval) agrees with the codegen'd one
    lowerCorpus.zip(rows).foreach { case (b, r) =>
      val e = UnicodeTokens(
        org.apache.spark.sql.catalyst.expressions.Literal(UTF8String.fromBytes(b),
          org.apache.spark.sql.types.StringType), lowercase = true)
      val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert((0 until arr.numElements()).map(arr.getUTF8String(_).toString) ==
        r.getSeq[String](1))
    }
  }

  test("LowerText equals Spark's lower() on the same corpus") {
    val rows = lowerCorpusDf.select(lower(col("t")), LowerText(col("t"))).collect()
    assert(rows.length == lowerCorpus.length + 1)
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    assert(rows.last.isNullAt(1))
    // the interpreted path (eval) agrees with the codegen'd one
    lowerCorpus.zip(rows).foreach { case (b, r) =>
      val e = LowerText(org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromBytes(b), org.apache.spark.sql.types.StringType))
      assert(e.eval().toString == r.getString(1))
    }
  }

  test("isSingleton's fast path equals the script lookup on every code point") {
    import Character.UnicodeScript._
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      val sc = Character.UnicodeScript.of(cp)
      val want = (sc eq HAN) || (sc eq HIRAGANA) || (sc eq KATAKANA) || (sc eq THAI)
      assert(UnicodeTokens.isSingleton(cp) == want, f"U+$cp%04X")
      if (want) assert(cp >= UnicodeTokens.FirstSingleton, f"U+$cp%04X")
      cp += 1
    }
    assert(UnicodeTokens.isSingleton(UnicodeTokens.FirstSingleton))
  }
}
