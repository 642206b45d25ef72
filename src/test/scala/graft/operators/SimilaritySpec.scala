package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated clusters along different axes, 30 vectors each
  private def clustered = {
    val rnd = new scala.util.Random(99)
    (0 until 90).map { i =>
      val c = i % 3
      val base = Array.fill(12)(0.0f)
      base(c * 4) = 10.0f // cluster axis
      val noisy = base.map(v => v + rnd.nextFloat() * 0.5f)
      (i.toLong, c, noisy.toSeq)
    }.toDF("vec_id", "cluster", "vec")
  }

  test("centroids recover the cluster axes") {
    val cents = Similarity.centroids(clustered, "cluster", "vec")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cents.size == 3)
    (0 until 3).foreach { c =>
      val cent = cents(c)
      assert(cent(c * 4) > 9.5 && cent(c * 4) < 10.6)
      assert(cent.zipWithIndex.filter(_._2 != c * 4).forall(_._1 < 1.0))
    }
  }

  test("ivfSearch with nprobe=1 matches brute force for an in-cluster query") {
    val query = Seq.tabulate(12)(i => if (i == 4) 10.0 else 0.1) // cluster 1 axis
    val ivf = Similarity.ivfSearch(clustered, "cluster", "vec", "vec_id",
      query, nprobe = 1, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteTopK(clustered, "vec", "vec_id", query, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == brute)
    assert(ivf.forall(_ % 3 == 1)) // all results from cluster 1
  }

  test("embeddingDedup drops planted cosine near-duplicates") {
    val rnd = new scala.util.Random(5)
    val base = Array.tabulate(12)(i => rnd.nextFloat() * 2 - 1)
    val docs = Seq(
      (1L, base.toSeq),
      (2L, base.map(_ * 1.01f).toSeq),        // same direction → cosine ≈ 1
      (3L, base.map(v => -v).toSeq),           // opposite → cosine -1, no shared band
      (4L, Array.tabulate(12)(i => if (i == 3) 5.0f else 0.01f).toSeq))
      .toDF("vec_id", "vec")
    val kept = Similarity.embeddingDedup(docs, "vec_id", "vec", 0.95,
      nBands = 4, bitsPerBand = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L)) // 2 dropped as near-dup of 1
  }

  test("banded dedup recall 1.0 on a planted near-dup corpus") {
    // 300 random unit-ish vectors, 40 of them near-duplicated (tiny
    // perturbation → cosine > 0.99); banding must catch every pair that
    // brute-force exact cosine finds
    val rnd = new scala.util.Random(17)
    val originals = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(32)(_ => rnd.nextFloat() * 2 - 1).toSeq)
    }
    val dups = (0 until 40).map { i =>
      (1000L + i, originals(i * 7)._2.map(v => v * 1.001f + 0.0005f).toSeq)
    }
    val docs = (originals ++ dups).toDF("vec_id", "vec")
    val kept = Similarity.embeddingDedup(docs, "vec_id", "vec", 0.95,
      nBands = 8, bitsPerBand = 16)
      .select("vec_id").as[Long].collect().toSet
    // ground truth: brute-force all-pairs cosine
    val a = docs.select(col("vec_id").as("id_a"), col("vec").as("v_a"))
    val b = docs.select(col("vec_id").as("id_b"), col("vec").as("v_b"))
    val expectDropped = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("v_a"), col("v_b")) >= 0.95)
      .select(col("id_b")).as[Long].collect().toSet
    assert(kept == (0 until 300).map(_.toLong).toSet ++
      (1000L until 1040L).toSet -- expectDropped)
    assert(expectDropped.size >= 40) // every planted dup found
  }

  test("HyperplaneBands signature is stable and bucket-bounded") {
    // signature deterministic across invocations and partitionings
    val docs = clustered
    val s1 = docs.select(col("vec_id"),
      graft.functions.HyperplaneBands(col("vec"), 8, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val s2 = docs.repartition(7).select(col("vec_id"),
      graft.functions.HyperplaneBands(col("vec"), 8, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(s1 == s2)
    assert(s1.values.forall(_.length == 8))
    // 16-bit band values stay in [0, 65536)
    assert(s1.values.flatten.forall(v => v >= 0 && v < 65536))
  }

  test("centroids on an empty input returns an empty frame, not an exception") {
    val empty = clustered.filter(col("vec_id") < 0)
    val out = Similarity.centroids(empty, "cluster", "vec")
    assert(out.columns.toSeq == Seq("cluster", "centroid"))
    assert(out.count() == 0)
  }

  test("ivfSearch through the persisted index equals the build-per-query path") {
    val query = Seq.tabulate(12)(i => if (i == 4) 10.0 else 0.1)
    val idx = Similarity.ivfIndex(clustered, "cluster", "vec", dim = 12)
    val viaIndex = Similarity.ivfSearch(clustered, "cluster", "vec", "vec_id",
      query, nprobe = 1, k = 5, precomputedCentroids = Some(idx))
      .select("vec_id").as[Long].collect().toSeq
    val rebuilt = Similarity.ivfSearch(clustered, "cluster", "vec", "vec_id",
      query, nprobe = 1, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIndex == rebuilt)
    // a second build plans an InMemoryRelation over the SAME cache
    // entry (Spark's plan-keyed cache manager) and adds no new one
    def builders(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder
      }
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val again = Similarity.ivfIndex(clustered, "cluster", "vec", dim = 12)
    val Seq(b0) = builders(idx)
    val Seq(b1) = builders(again)
    assert(b1 eq b0)
    assert(persisted == before)
  }

  test("ivfSearch with nprobe=all equals brute force everywhere") {
    val query = Seq.tabulate(12)(i => 1.0 + i * 0.1)
    val ivf = Similarity.ivfSearch(clustered, "cluster", "vec", "vec_id",
      query, nprobe = 3, k = 10)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq
    val brute = Similarity.bruteTopK(clustered, "vec", "vec_id", query, 10)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq
    assert(ivf.map(_._1) == brute.map(_._1))
  }
}
