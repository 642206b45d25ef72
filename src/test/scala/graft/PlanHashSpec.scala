package graft

import graft.core.{Checkpoints, PlanHash}
import graft.queries.Registry

/** Pins the plan-fingerprint contract Bench relies on: the canonicalized
  * sparkPlan hash of every headline query is identical across two
  * independent builds (fresh Dataset, fresh expression IDs) — so a hash
  * difference between rounds can only mean a genuine plan change, never
  * expression-ID churn or per-run path noise.
  */
class PlanHashSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("headline plan hashes are stable across two independent builds") {
    Registry.headlines.foreach { q =>
      val h1 = PlanHash.of(q.run(spark, dir))
      val h2 = PlanHash.of(q.run(spark, dir))
      assert(h1 == h2, s"${q.name}: $h1 != $h2 across rebuilds")
    }
  }

  test("canonicalization strips expression IDs, paths, and stats tokens") {
    val raw =
      """*(2) Project [l_orderkey#123L, revenue#4567]
        |+- Exchange hashpartitioning(k#12, 32), [plan_id=345]
        |   +- Project [argmaxcosine(vec#7, cl#8L, Broadcast(306)) AS a#9]
        |   +- BatchScan graft-netcdf /home/u/graft/data/rp_nc/RP2ythresholds_GloFASv40.nc#2yRP_GloFASv4 rows=[0..460)
        |   +- FileScan parquet [k#12] Location: InMemoryFileIndex(1 paths)[file:/root/testdata/sf0.1/lineitem.parquet], Statistics(sizeInBytes=12.3 MiB)""".stripMargin
    val canon = PlanHash.canonicalize(raw)
    assert(!canon.contains("#123"), canon)
    assert(!canon.contains("plan_id=345"), canon)
    assert(!canon.contains("sf0.1"), canon)
    assert(!canon.contains("12.3"), canon)
    // broadcast ids are a SparkContext-wide counter
    assert(!canon.contains("306"), canon)
    assert(canon.contains("Broadcast(x)"), canon)
    // an in-repo fixture reads the same from any checkout
    assert(!canon.contains("/home/u/graft"), canon)
    assert(canon.contains(" data/rp_nc/RP2ythresholds_GloFASv40.nc#"), canon)
    // dtype suffix survives — a long→int change must move the hash
    assert(canon.contains("#xL"), canon)
  }

  test("a genuinely different plan yields a different hash") {
    import spark.implicits._
    val a = Seq((1, "a")).toDF("k", "v").groupBy("k").count()
    val b = Seq((1, "a")).toDF("k", "v").select("k")
    assert(PlanHash.of(a) != PlanHash.of(b))
  }

  test("a cached intermediate folds its lineage into the hash") {
    import org.apache.spark.sql.functions._
    // two UPSTREAM plans that differ only above the cache; the tail
    // over the cached relation (schema + tail ops) is identical — the
    // q147-vs-q214 shape. The base must not be a LocalRelation
    // (ConvertToLocalRelation folds projections into the literal rows
    // and both upstreams would plan as one bare LocalTableScan) —
    // range() survives optimization.
    val base = spark.range(100).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    def tail(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"))
    val up1 = base.filter(col("k") > 0)
    val up2 = base.filter(col("k") > 0)
      .withColumn("v", concat(col("v"), lit("x")))
      .select("k", "v")
    try {
      val h1 = PlanHash.of(tail(up1.cache()))
      val h2 = PlanHash.of(tail(up2.cache()))
      assert(h1 != h2, "the hash must see the difference above the cache")
      // a rebuild of the same plan, while its cache is live and after
      // the cache was released, hashes the same
      val rebuild = () => PlanHash.of(tail(base.filter(col("k") > 0).cache()))
      assert(rebuild() == h1, "cached plan hash must be stable across rebuilds")
      Checkpoints.releaseAll(spark)
      assert(rebuild() == h1, "hash must not depend on an earlier cache")
    } finally Checkpoints.releaseAll(spark)
  }

  test("q144: changing the k-means input changes its hash") {
    import org.apache.spark.sql.functions.col
    import graft.queries.VectorOps.semDedup
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    try {
      val h = PlanHash.of(semDedup(emb))
      assert(PlanHash.of(semDedup(emb)) == h, "q144 rebuild moved its hash")
      assert(PlanHash.of(semDedup(emb.filter(col("label") =!= 0))) != h,
        "q144's hash is blind to its k-means input")
    } finally Checkpoints.releaseAll(spark)
  }

  test("the curation queries hash apart: their lineage reaches the final plan") {
    // these differ only in how the corpus and the eval split are built,
    // above the curation caches. PrefixSum's checkpoint cuts that lineage
    // out of the running sum, so only the final plan's scan of the cached
    // `clean` frame carries it into the fingerprint
    val names = Seq("q147_corpus_curation", "q214_unicode_curation",
      "q217_curation_predlang", "q224_curation_lmbucket")
    val hs = names.map { n =>
      try PlanHash.of(Registry.queries(n)(spark, dir))
      finally Checkpoints.releaseAll(spark)
    }
    assert(hs.distinct.size == names.size, names.zip(hs).mkString(", "))
  }

  test("the multiply form of the eval split selects the ceil-division form's ids") {
    // hashEvalPred tests x·n < 10·2^20 where the split was defined as
    // x < ceil(10·2^20 / n), x = md5 hash mod 2^20
    val a = 10L * 1048576L
    val rng = new scala.util.Random(17)
    val bad = (1L to 200000L).iterator.flatMap { n =>
      val thr = (a + n - 1L) / n
      (Seq(0L, 1L, 1048575L, thr - 1L, thr, thr + 1L) ++
        Seq.fill(4)(rng.nextInt(1048576).toLong))
        .filter(x => x >= 0L && x < 1048576L)
        .filter(x => (x * n < a) != (x < thr)).map(n -> _)
    }.take(5).toList
    assert(bad.isEmpty, s"(n, x) where the forms disagree: $bad")
  }
}
