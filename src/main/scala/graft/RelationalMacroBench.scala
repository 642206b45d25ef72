package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Session, Sql}

/** 10× scale-step guard for the three most expensive relational headline
  * shapes (q01 grouped exact quantiles, q04 broadcast join + decimal
  * aggregation, q60 cached-detail multi-aggregate + semi-join).
  * DedupMacroBench catches dedup scale cliffs and FloodMacroBench the
  * flood pipeline's; nothing guarded these plans. Each shape runs on
  * synthesized inputs at sf0.1 scale (600k fact rows) and at 10× (6M),
  * and the bench FAILS if any shape's 10× time exceeds 15× its 1× time —
  * the "cliff" signature of a plan that stops scaling linearly (spill,
  * single-reducer sort, broadcast flip to sort-merge).
  *
  * Usage: RelationalMacroBench [factor] (default 10)
  */
object RelationalMacroBench {

  /** lineitem-shaped fact: low-card group keys, a measured quantity, a
    * price/discount pair, and a dim foreign key over `nDim` parts.
    */
  private def fact(spark: SparkSession, n: Long, nDim: Long): DataFrame =
    spark.range(n).select(
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("id")), lit(3)) + 1).cast("int")).as("flag"),
      element_at(array(lit("F"), lit("O")),
        (pmod(xxhash64(col("id"), lit(1)), lit(2)) + 1).cast("int")).as("status"),
      (pmod(xxhash64(col("id"), lit(2)), lit(5000)) / 100.0).as("qty"),
      (pmod(xxhash64(col("id"), lit(3)), lit(100000)) / 100.0).as("price"),
      (pmod(xxhash64(col("id"), lit(4)), lit(11)) / 100.0).as("disc"),
      pmod(xxhash64(col("id"), lit(5)), lit(nDim)).as("fk"))

  /** part-shaped dim: `n` keys over 25 brands. */
  private def dim(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("pk"),
      concat(lit("Brand#"), pmod(xxhash64(col("id")), lit(25))).as("brand"),
      (pmod(xxhash64(col("id"), lit(6)), lit(900)) + 100.0).as("t2"),
      (pmod(xxhash64(col("id"), lit(7)), lit(900)) + 400.0).as("t5"),
      (pmod(xxhash64(col("id"), lit(8)), lit(900)) + 700.0).as("t20"))

  /** q01 shape: grouped exact quantiles + decimal sum/avg, 6 groups. */
  private def quantiles(f: DataFrame): DataFrame =
    f.groupBy("flag", "status")
      .agg(count(lit(1)).as("n"),
        percentile(col("qty"), array(lit(0.25), lit(0.5), lit(0.75))).as("q"),
        Sql.exactSum(col("price")).as("sum_price"),
        round(Sql.exactAvg(col("disc")), 8).as("avg_disc"))
      .select(col("flag"), col("status"), col("n"),
        round(element_at(col("q"), 2), 6).as("median"),
        col("sum_price"), col("avg_disc"))

  /** q04 shape: fact ⋈ broadcast dim, grouped decimal revenue. */
  private def joinAgg(f: DataFrame, d: DataFrame): DataFrame =
    f.join(broadcast(d), col("fk") === col("pk"))
      .groupBy("brand")
      .agg(count(lit(1)).as("n_lines"),
        Sql.exactSum(col("price") * (lit(1.0) - col("disc"))).as("revenue"))

  /** q60 shape: broadcast threshold join → flag/CASE detail, cached once,
    * reused by a max_by summary, a severity histogram, and a semi-join.
    */
  private def floodDetail(f: DataFrame, d: DataFrame): Seq[DataFrame] = {
    val detailed = f.join(broadcast(d), col("fk") === col("pk"))
      .withColumn("e2", (col("price") >= col("t2")).cast("long"))
      .withColumn("e5", (col("price") >= col("t5")).cast("long"))
      .withColumn("e20", (col("price") >= col("t20")).cast("long"))
      .withColumn("severity",
        when(col("e20") === 1, "P").when(col("e5") === 1, "R")
          .when(col("e2") === 1, "Y").otherwise("G"))
      .cache()
    val summary = detailed.groupBy("fk")
      .agg(max_by(col("qty"), col("price")).as("peak_qty"),
        max("price").as("peak_price"),
        sum("e2").as("n_exceed"))
    val hist = detailed.groupBy("severity")
      .agg(count(lit(1)).as("n"), Sql.exactSum(col("price")).as("sum_price"))
    val hot = detailed.filter(col("severity") === "P").select("fk").distinct()
    val semi = summary.join(hot, Seq("fk"), "left_semi")
    Seq(summary, hist, semi, detailed)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Session(confs = Seq(Session.broadcast64m))

    val base = 600000L // sf0.1 lineitem row count
    val dimBase = 20000L

    def runAll(scale: Long): Map[String, Double] = {
      val f = fact(spark, base * scale, dimBase * scale).cache()
      val d = dim(spark, dimBase * scale).cache()
      f.count(); d.count()
      def time(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val tQ = time(Bench.materialize(quantiles(f)))
      val tJ = time(Bench.materialize(joinAgg(f, d)))
      val tF = time {
        val dfs = floodDetail(f, d)
        dfs.init.foreach(Bench.materialize(_))
        dfs.last.unpersist()
      }
      f.unpersist(); d.unpersist()
      Map("quantiles" -> tQ, "join_agg" -> tJ, "flood_detail" -> tF)
    }

    runAll(1) // warm-up: JIT + codegen
    val t1 = runAll(1)
    val tN = runAll(factor)
    // cliff = super-linear blow-up: time ratio beyond 1.5× the data
    // ratio (15× at the default 10× step, matching the round-6 brief)
    val ratios = t1.keys.map(k => k -> tN(k) / t1(k)).toMap
    val cliff = ratios.filter(_._2 > 1.5 * factor)
    val detail = t1.keys.toSeq.sorted.map { k =>
      f""""$k":{"t1_sec":${t1(k)}%.2f,"tN_sec":${tN(k)}%.2f,"ratio":${ratios(k)}%.1f}"""
    }.mkString("{", ",", "}")
    println(
      f"""{"metric":"relational_macro","value":${tN.values.sum}%.1f,"unit":"sec","factor":$factor,"shapes":$detail,"cliff":${cliff.nonEmpty}}""")
    require(cliff.isEmpty,
      s"scale cliff (>${1.5 * factor}x time at ${factor}x data): $cliff")
    spark.stop()
  }
}
