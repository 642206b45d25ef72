package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r15 verdict item: every iterative loop — not just
  * ConnectedComponents — must offer the reliable-`checkpoint()` arm
  * (checkpointDir), because localCheckpoint-only loops cannot survive
  * executor loss on a real cluster. For each operator the reliable arm
  * must (a) return EXACTLY the localCheckpoint twin's result, and
  * (b) actually write one reliable RDD checkpoint PER ROUND — pinned by
  * the Checkpoints.reliableCreated counter against the known round
  * structure, so a regression that silently drops back to
  * localCheckpoint for some rounds (the unrecoverable mixed mode)
  * fails here. release() now DELETES superseded rounds' rdd-N
  * directories (r16 advice), so the spec additionally pins the on-disk
  * dir count == created − deleted: the loop's footprint stays bounded
  * instead of O(rounds × dataset).
  */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def ckptDirs(dir: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("rdd-") &&
        java.nio.file.Files.isDirectory(p))
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-rel-ckpt-$tag")

  /** Run `body` with a fresh counter window; assert exactly `created`
    * reliable checkpoints were written and that the rdd-* dirs left in
    * `dir` equal created − deleted (superseded rounds physically gone).
    */
  private def pinned[T](dir: java.nio.file.Path, created: Int)(body: => T): T = {
    val c0 = graft.core.Checkpoints.reliableCreated.get()
    val d0 = graft.core.Checkpoints.reliableDeleted.get()
    val out = body
    val c = (graft.core.Checkpoints.reliableCreated.get() - c0).toInt
    val d = (graft.core.Checkpoints.reliableDeleted.get() - d0).toInt
    assert(c == created,
      s"expected $created reliable checkpoints, counted $c — a round dropped to local?")
    assert(ckptDirs(dir) == c - d,
      s"on-disk rdd dirs ${ckptDirs(dir)} != created $c - deleted $d")
    assert(d > 0 || created <= 3,
      s"no superseded round was deleted across $created checkpoints")
    out
  }

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 4L), (7L, 1L), (7L, 4L), (8L, 7L))

  test("ConnectedComponents.run: reliable arm == local arm, one checkpoint per round") {
    val e = edges.toDF("src", "dst")
    val local = ConnectedComponents.run(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.values.toSet == Set(1L)) // one component
    val dir = tmp("cc")
    // statics (sym, labels_0) + one per round: 3 rounds on this graph
    // (two relabelling rounds, then the stable-sum round)
    val rel = pinned(dir, 2 + 3) {
      ConnectedComponents.run(e, checkpointDir = Some(dir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rel == local)
  }

  test("PageRank.run: reliable arm == local arm, one checkpoint per round") {
    val e = edges.toDF("src", "dst")
    val rounds = 4
    val local = PageRank.run(e, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tmp("pr")
    // static sides (nodes, linked) + one per round
    val rel = pinned(dir, 2 + rounds) {
      PageRank.run(e, rounds = rounds, checkpointDir = Some(dir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rel == local)
  }

  test("PageRank.runRedistributed + runSeeded: reliable arms match local") {
    val e = edges.toDF("src", "dst")
    val lr = PageRank.runRedistributed(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dirR = tmp("prr")
    // nodes (dangling flag folded in, r20 opt) + linked statics, then
    // one per round — the separate dangling checkpoint is gone
    val rr = pinned(dirR, 2 + 3) {
      PageRank.runRedistributed(e, rounds = 3,
          checkpointDir = Some(dirR.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rr == lr)

    val seeds = Seq(1L, 4L).toDF("node")
    val ls = PageRank.runSeeded(e, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dirS = tmp("prs")
    val rs = pinned(dirS, 2 + 3) {
      PageRank.runSeeded(e, seeds, rounds = 3,
          checkpointDir = Some(dirS.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rs == ls)
  }

  test("Hits.run: reliable arm == local arm, three checkpoints per round") {
    val e = edges.toDF("src", "dst")
    val rounds = 3
    val local = Hits.run(e, rounds)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dir = tmp("hits")
    // statics (e, nodes) + per round: rawAuth, auth, rawHub, hub
    val rel = pinned(dir, 2 + 4 * rounds) {
      Hits.run(e, rounds, checkpointDir = Some(dir.toString))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rel == local)
  }

  test("LabelProp run + runConverged: reliable arms match local") {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val local = LabelProp.run(sym, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tmp("lp")
    val rel = pinned(dir, 2 + 4) { // nodes + e statics, one per round
      LabelProp.run(sym, 4, checkpointDir = Some(dir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rel == local)

    val (lc, lrounds) = LabelProp.runConverged(sym, 10)
    val dirC = tmp("lpc")
    // statics (nodes, e) + label_0 + one per executed round INCLUDING
    // the fixpoint-proving probe round
    val (rc, rrounds) = pinned(dirC, 3 + lrounds + 1) {
      val out = LabelProp.runConverged(sym, 10,
        checkpointDir = Some(dirC.toString))
      out._1.collect() // materialize inside the counter window
      out
    }
    assert(rrounds == lrounds)
    assert(rc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      lc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("KCore.fixpoint: reliable arm == local arm") {
    // triangle core survives k=2; the path tail peels over 2 rounds
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val (localCore, lr) = KCore.fixpoint(es, 2)
    val dir = tmp("kcore")
    // initial edges + one per peeling round + the no-change probe
    val (relCore, rr) = pinned(dir, 1 + lr + 1) {
      val out = KCore.fixpoint(es, 2, checkpointDir = Some(dir.toString))
      out._1.collect()
      out
    }
    assert(rr == lr)
    assert(relCore.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      localCore.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("KCenter run + runBatched: reliable arms match local") {
    val pts = (0L until 40L)
      .map(i => (i, Array(i % 7, (i * 3) % 11, (i * 5) % 13)))
      .toDF("id", "vq")
    val k = 5
    val local = KCenter.run(pts, k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dir = tmp("kc")
    val rel = pinned(dir, k) { // state_0 + one per added center
      KCenter.run(pts, k, checkpointDir = Some(dir.toString))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rel == local)

    val dirB = tmp("kcb")
    val c0 = graft.core.Checkpoints.reliableCreated.get()
    val relB = KCenter.runBatched(pts, k, m = 8,
        checkpointDir = Some(dirB.toString))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(relB == local) // batched ≡ sequential, reliable ≡ local
    // state_0 + >=1 outer round written; superseded rounds deleted
    assert(graft.core.Checkpoints.reliableCreated.get() - c0 >= 2)
    assert(ckptDirs(dirB) <= 2)
  }
}
