package graft

import graft.core.PlanHash
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

  test("tracked checkpoints fold the truncated lineage into the hash") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two UPSTREAM plans that differ only above the checkpoint; the
    // post-checkpoint tail (schema + tail ops) is identical — exactly
    // the q147-vs-q214 shape the r19 verdict flagged. The base must
    // not be a LocalRelation (ConvertToLocalRelation folds projections
    // into the literal rows and both upstreams would plan as one bare
    // LocalTableScan) — range() survives optimization.
    val base = spark.range(100).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    def tail(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"))
    val up1 = base.filter(col("k") > 0)
    val up2 = base.filter(col("k") > 0)
      .withColumn("v", concat(col("v"), lit("x")))
      .select("k", "v")
    // raw localCheckpoint: both tails hash IDENTICALLY (the defect)
    val raw1 = PlanHash.of(tail(up1.localCheckpoint(true)))
    val raw2 = PlanHash.of(tail(up2.localCheckpoint(true)))
    assert(raw1 == raw2, "raw checkpoint tails should be hash-blind")
    // tracked checkpoint: the upstream difference distinguishes them,
    // and an identical upstream reproduces the same hash
    val t1 = PlanHash.of(tail(PlanHash.localCheckpointTracked(up1)))
    val t2 = PlanHash.of(tail(PlanHash.localCheckpointTracked(up2)))
    val t1b = PlanHash.of(tail(PlanHash.localCheckpointTracked(
      base.filter(col("k") > 0))))
    assert(t1 != t2, "tracked hash must see the upstream difference")
    assert(t1 == t1b, "tracked hash must be stable across rebuilds")
    assert(t1 != raw1, "tracked hash folds lineage the raw hash lacks")
  }
}
