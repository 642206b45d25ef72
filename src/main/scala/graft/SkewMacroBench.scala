package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.SkewOps

/** Skew-join macro: quantifies the hot-key-only salted join against the
  * blanket form at a shape where the difference matters — a LEFT side
  * with one dominant key (50% of rows) joined to a NON-tiny right side
  * (1M rows, broadcast-ineligible at default thresholds). Blanket
  * salting replicates the entire right side `salt`×; the hot-key form
  * replicates only the single hot key's right rows and routes every
  * cold key through salt 0. Both must produce identical aggregates.
  */
object SkewMacroBench {
  def main(args: Array[String]): Unit = {
    val nLeft = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nRight = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val salt = 16
    val spark = Session()

    // left: 50% of rows on key 0, the rest uniform over nRight keys
    val left = spark.range(nLeft).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nRight))).as("k"),
      col("id").as("lv"))
    // right: one row per key — 1M rows, too big to broadcast by default
    val right = spark.range(nRight).select(
      col("id").as("k"), (col("id") * 7 % 1001).as("rv"))
    left.cache().count(); right.cache().count()

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }
    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("lv") + col("rv"))).collect()(0).getLong(0)

    // force the shuffle-join path: the point is skew handling, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (nPlain, tPlain) = time(agg(left.join(right, "k")))
    // AQE's native skew-join split (sort-merge only): the boundary the
    // decision rule in AqeSkewSpec / CLAUDE.md is drawn from
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val (nAqe, tAqe) = time(agg(left.join(right, "k")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (nBlanket, tBlanket) = time(agg(SkewOps.saltedJoin(left, right, "k", salt)))
    val (nHot, tHot) = time(agg(
      SkewOps.saltedJoinHotKeys(left, right, "k", salt, nLeft / 100)))
    require(nBlanket == nPlain && nHot == nPlain && nAqe == nPlain,
      s"checksum mismatch: plain=$nPlain aqe=$nAqe blanket=$nBlanket hot=$nHot")
    println(
      f"""{"metric":"skew_join_macro","value":$tHot%.1f,"unit":"sec","n_left":$nLeft,"n_right":$nRight,"salt":$salt,"plain_sec":$tPlain%.1f,"aqe_sec":$tAqe%.1f,"blanket_sec":$tBlanket%.1f,"hotkey_sec":$tHot%.1f,"checksum":$nPlain}""")
    spark.stop()
  }
}
