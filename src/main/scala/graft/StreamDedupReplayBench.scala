package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.Session

/** sf1-scale verification of q156 (streaming MinHash-LSH dedup) — the
  * last registered query whose ≥sf1 evidence was a prior round's: its
  * DuckDB ground-truth oracle (prefix-filtered exact Jaccard over
  * per-pair md5 hash SETS) is cost-bound at 50k docs (>65 min before
  * being killed in r12 AND r14). This bench replaces it with the
  * PqReplayBench pattern: a deterministic 50k-doc fixture (the sf1
  * document count) with three PLANTED duplicate classes, the REGISTERED
  * query lambda run against the fixture dir, and an INDEPENDENT
  * driver-side ground-truth replay in plain Scala (PPJoin prefix-filter
  * candidate generation + exact set-Jaccard — no LSH, no Spark, no SQL)
  * that must match the query output EXACTLY.
  *
  * Planted classes (delta = doc_id % 5 == 0, the q156 split):
  *  - id%100 == 0:  EXACT copy of corpus doc id+1's text (J = 1.0;
  *                  LSH cannot miss an identical signature);
  *  - id%100 == 50: near copy (last token replaced) of CORPUS doc
  *                  id+3's text — J = (s−1)/(s+1) ≈ 0.94 at ≥30
  *                  distinct shingles, band-miss probability
  *                  (1−0.94⁴)¹⁶ ≈ 3e-11;
  *  - id%100 == 75: near copy of DELTA doc id−50 (≡ 25 mod 100, which
  *                  keeps its own base text) — exercises the
  *                  smaller-id-delta drop rule: id−50 must survive,
  *                  id must drop.
  * Base texts draw 32–47 tokens from a 2³⁰ space via a splitmix64 mix,
  * so incidental J ≥ 0.8 pairs are impossible and the ground-truth
  * dropped set must equal the planted set EXACTLY — a closed-form gate
  * on top of the per-lang equality with the registered query.
  *
  * Usage: StreamDedupReplayBench [nDocs] (default 50000)
  */
object StreamDedupReplayBench {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def tok(d: Long, i: Int): String =
    "t" + java.lang.Long.toUnsignedString(mix(d * 1000003L + i) >>> 34)

  private def nTok(d: Long): Int = 32 + (mix(d ^ 0x5ca1ab1eL) & 15L).toInt

  private def baseText(d: Long): String =
    (1 to nTok(d)).map(tok(d, _)).mkString(" ")

  /** Replace the last token — changes exactly one 3-shingle. */
  private def nearCopy(src: String, d: Long): String = {
    val t = src.split(" ")
    (t.dropRight(1) :+ ("zq" + d)).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000L)
    require(n >= 200, "need at least two 100-blocks for the planted classes")
    val spark = Session()

    // ---- deterministic fixture (driver-generated, replay needs it) ----
    val langs = Array("en", "de", "fr", "es")
    def textOf(d: Long): String =
      if (d % 5 == 0 && d % 100 == 0 && d + 1 < n) baseText(d + 1)
      else if (d % 5 == 0 && d % 100 == 50 && d + 3 < n)
        nearCopy(baseText(d + 3), d)
      else if (d % 5 == 0 && d % 100 == 75 && d >= 50)
        nearCopy(baseText(d - 50), d)
      else baseText(d)
    val texts = Array.tabulate(n.toInt)(i => textOf(i.toLong))

    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sdreplay_$n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = (0 until n.toInt).map { i =>
      Row(i.toLong, texts(i), langs(i % 4), "s" + (i % 7),
        texts(i).length.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)

    // ---- driver ground truth: prefix-filtered exact Jaccard -----------
    // shingle hash sets exactly as both engines derive them: distinct
    // word-3-grams of the script-aware token stream (the SAME kernel the
    // engine runs — UnicodeTokens.tokenizeLocal), md5Hash64 each,
    // distinct (docs with < 3 tokens have no shingles, never candidates)
    val t0 = System.nanoTime()
    val shh: Array[Array[Long]] = texts.map { t =>
      val toks = graft.functions.UnicodeTokens.tokenizeLocal(t.toLowerCase)
      if (toks.length < 3) Array.empty[Long]
      else (0 to toks.length - 3).iterator
        .map(i => toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        .filter(_.nonEmpty).toArray.distinct
        .map(graft.operators.Dedup.md5Hash64Local).distinct.sorted
    }
    // document frequency of each shingle hash
    val dfm = new java.util.HashMap[Long, Int]()
    shh.foreach(_.foreach(h => dfm.merge(h, 1, Integer.sum)))
    // PPJoin prefix: sort by (df asc, hash asc), keep n - ceil(0.8n) + 1
    val inverted = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    val prefixes = shh.zipWithIndex.map { case (hs, di) =>
      val sorted = hs.sortBy(h => (dfm.get(h), h))
      val m = hs.length - (4 * hs.length + 4) / 5 + 1
      val pref = sorted.take(math.max(m, 0))
      pref.foreach { h =>
        inverted.computeIfAbsent(h, _ => new java.util.ArrayList[Int]())
          .add(di)
      }
      pref
    }
    // candidate pairs: both prefixes share a hash; at least one delta
    def jaccardGe(a: Array[Long], b: Array[Long], thr: Double): Boolean = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val union = a.length + b.length - inter
      union > 0 && inter.toDouble / union >= thr
    }
    val dropped = new java.util.BitSet(n.toInt)
    val seen = new java.util.HashSet[Long]()
    inverted.forEach { (_, lst) =>
      var x = 0
      while (x < lst.size) {
        var y = x + 1
        while (y < lst.size) {
          val a = math.min(lst.get(x), lst.get(y))
          val b = math.max(lst.get(x), lst.get(y))
          val key = a.toLong * n + b
          if (a != b && seen.add(key)) {
            val da = a % 5 == 0; val db = b % 5 == 0
            if ((da || db) && jaccardGe(shh(a), shh(b), 0.8)) {
              if (db && !da) dropped.set(b)
              else if (da && !db) dropped.set(a)
              else dropped.set(b) // both delta: later (larger-id) drops
            }
          }
          y += 1
        }
        x += 1
      }
    }
    // closed-form: the dropped set must be EXACTLY the planted ids
    val planted = (0L until n).filter { d =>
      (d % 5 == 0) && ((d % 100 == 0 && d + 1 < n) ||
        (d % 100 == 50 && d + 3 < n) || (d % 100 == 75 && d >= 50))
    }.toSet
    val droppedIds = (0 until n.toInt).filter(dropped.get).map(_.toLong).toSet
    require(droppedIds == planted,
      s"ground truth diverged from the planted classes: " +
        s"extra=${droppedIds.diff(planted).take(5)} " +
        s"missing=${planted.diff(droppedIds).take(5)}")
    val expected = (0L until n).filter(d => d % 5 == 0 && !dropped.get(d.toInt))
      .groupBy(d => langs((d % 4).toInt))
      .map { case (l, ds) => (l, ds.size.toLong) }
    val gtSecs = (System.nanoTime() - t0) / 1e9

    // ---- the REGISTERED query against the fixture dir -----------------
    val t1 = System.nanoTime()
    val got = graft.queries.Registry.queries("q156_stream_dedup")(
        spark, dir.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val qSecs = (System.nanoTime() - t1) / 1e9
    require(got == expected,
      s"q156 diverged from the ground-truth replay: query=$got " +
        s"expected=$expected")
    println(f"stream_dedup_replay q156: n=$n planted=${planted.size} " +
      f"accepted=${expected.values.sum} gt=$gtSecs%.1f s " +
      f"query=$qSecs%.1f s EXACT")
    spark.stop()
  }
}
