package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.streaming.{FileReplay, StateRebake, StreamDedup}

/** At-scale record for the STATE-ROTATION lifecycle (r18 verdict item
  * 4): a continuous-ingest dedup stream runs a delta, the
  * [[StateRebake.RebakePolicy]] decision trips on the live progress,
  * the index is REBAKED into a fresh snapshot checkpoint, the old tree
  * is deleted, and the stream resumes over the next delta. Claims
  * gated here, at macro scale:
  *
  *  1. TWIN EQUALITY: the post-rotation delta's verdicts are EXACTLY
  *     the never-rotated monolithic stream's (same deterministic LSH
  *     pipeline on both sides, so equality is bit-level, not
  *     statistical).
  *  2. CLOSED-FORM DROPS: planted duplicate classes (exact-vs-corpus,
  *     exact-vs-prior-delta-survivor, near-vs-prior-delta-DROPPED-doc
  *     at J≈0.95) are all caught and nothing else drops — base texts
  *     draw from a 2^30 token space, so incidental J ≥ 0.8 is
  *     impossible.
  *  3. BOUNDED CHECKPOINT: the fresh checkpoint holds exactly ONE
  *     committed batch; its size and the superseded tree's size are
  *     reported (rotation is the mechanism that stops monotone
  *     checkpoint growth).
  *
  * Fixture is generated DISTRIBUTED (pure Catalyst — token streams from
  * xxhash64 of a source id, planted classes by copying another id's
  * text expression), so the bench scales past driver memory.
  *
  * Usage: RebakeMacroBench [nCorpus] [nDelta] (defaults 500000, 50000)
  */
object RebakeMacroBench {

  /** base token stream of a SOURCE id: 32-47 tokens from a 2^30 space. */
  private def baseTextExpr(src: org.apache.spark.sql.Column) = {
    val nTok = (pmod(xxhash64(src, lit(0)), lit(16)) + 32).cast("int")
    concat_ws(" ", transform(sequence(lit(1), nTok),
      i => concat(lit("t"), pmod(xxhash64(src, i), lit(1L << 30)))))
  }

  private def du(f: java.io.File): Long = {
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(du).sum
  }

  def main(args: Array[String]): Unit = {
    val nCorpus = args.headOption.map(_.toLong).getOrElse(500000L)
    val nDelta = args.drop(1).headOption.map(_.toLong).getOrElse(50000L)
    require(nDelta % 100 == 0 && nDelta >= 200, s"nDelta=$nDelta")
    val spark = Session()
    import spark.implicits._

    val C = nCorpus
    val D = nDelta

    // ---- distributed fixture ------------------------------------------
    val corpus = spark.range(C)
      .select(col("id").as("doc_id"), baseTextExpr(col("id")).as("text"))
      .localCheckpoint(true)

    // delta1 (ids C..C+D): %100==0 exact copy of corpus doc (off*97)%C;
    // %100==50 corpus doc (off*89)%C + two fresh tokens (J≈0.94 — drops
    // but its block is INDEXED); else unique
    val delta1 = spark.range(C, C + D).select(col("id").as("doc_id"),
      {
        val off = col("id") - C
        when(off % 100 === 0, baseTextExpr(pmod(off * 97, lit(C))))
          .when(off % 100 === 50,
            concat(baseTextExpr(pmod(off * 89, lit(C))),
              lit(" ea"), col("id"), lit(" eb"), col("id")))
          .otherwise(baseTextExpr(col("id")))
      }.as("text"))

    // delta2 (ids C+D..C+2D): %100==0 exact copy of corpus; %100==20
    // exact copy of a delta1 UNIQUE doc (a survivor); %100==50 near
    // copy (last token swapped) of delta1's %100==50 DROPPED doc —
    // J = (k+1)/(k+3) ≈ 0.95 vs the dropped doc; else unique
    val delta2 = spark.range(C + D, C + 2 * D).select(col("id").as("doc_id"),
      {
        val off2 = col("id") - C - D
        val d1dropped = off2 + C // off1 = off2 (%100==50 aligned)
        when(off2 % 100 === 0, baseTextExpr(pmod(off2 * 83, lit(C))))
          .when(off2 % 100 === 20, baseTextExpr(off2 - lit(19) + C))
          .when(off2 % 100 === 50,
            concat(baseTextExpr(pmod((off2) * 89, lit(C))),
              lit(" ea"), d1dropped, lit(" zq"), col("id")))
          .otherwise(baseTextExpr(col("id")))
      }.as("text"))

    def verdicts(path: String, minId: Long): Map[Long, Boolean] =
      spark.read.parquet(path)
        .groupBy("docId").agg(max(col("matched")).as("matched"))
        .as[(Long, Boolean)].collect().toMap.filter(_._1 >= minId)

    val base = java.nio.file.Files
      .createTempDirectory("graft_rebake_macro").toFile

    // ---- monolithic twin: never rotated --------------------------------
    val tm0 = System.nanoTime()
    val monoOut = new java.io.File(base, "mono_out").getAbsolutePath
    StateRebake.withConf(spark, changelog = true) {
      val srcM = new java.io.File(base, "mono_src")
      FileReplay.stageOrderedReplay(
        delta1.unionByName(delta2), "doc_id", srcM, nBuckets = 10)
      val q = StateRebake.startDedupQuery(spark, srcM,
        new java.io.File(base, "mono_ck").getAbsolutePath, monoOut, corpus)
      try q.processAllAvailable() finally q.stop()
    }
    val monoSecs = (System.nanoTime() - tm0) / 1e9

    // ---- rotated run ----------------------------------------------------
    // phase 1: delta1 against the corpus index
    val tr0 = System.nanoTime()
    val out1 = new java.io.File(base, "rot_out1").getAbsolutePath
    val ck1 = new java.io.File(base, "rot_ck1")
    val policy = StateRebake.RebakePolicy(maxStateRows = 1L) // trip NOW
    var tripped: Option[String] = None
    StateRebake.withConf(spark, changelog = true) {
      val src1 = new java.io.File(base, "rot_src1")
      FileReplay.stageOrderedReplay(delta1, "doc_id", src1, nBuckets = 5)
      val q = StateRebake.startDedupQuery(spark, src1,
        ck1.getAbsolutePath, out1, corpus)
      try {
        q.processAllAvailable()
        tripped = StateRebake.shouldRotate(q, policy)
      } finally q.stop()
    }
    require(tripped.isDefined, "policy did not trip after delta1")
    val phase1Secs = (System.nanoTime() - tr0) / 1e9

    // phase 2: REBAKE corpus ∪ all delta1 arrivals into a fresh tree
    val rebaked = corpus.unionByName(delta1).localCheckpoint(true)
    val src2 = new java.io.File(base, "rot_src2")
    val ck2 = new java.io.File(base, "rot_ck2")
    val out2 = new java.io.File(base, "rot_out2").getAbsolutePath
    val tb0 = System.nanoTime()
    val bakedRows = StateRebake.bakeDedupCheckpoint(spark, rebaked, src2,
      ck2.getAbsolutePath, out2)
    val bakeSecs = (System.nanoTime() - tb0) / 1e9
    val commits = new java.io.File(ck2, "commits").listFiles()
      .map(_.getName).filter(_.matches("\\d+"))
    require(commits.toSeq == Seq("0"),
      s"fresh checkpoint has ${commits.toSeq} commits, want exactly [0]")
    val oldBytes = du(ck1)
    val newBytes = du(ck2)
    val td0 = System.nanoTime()
    StateRebake.deleteCheckpointTree(ck1)
    val delSecs = (System.nanoTime() - td0) / 1e9

    // phase 3: resume over delta2 from the baked checkpoint
    val tr3 = System.nanoTime()
    StateRebake.withConf(spark, changelog = true) {
      FileReplay.stageOrderedReplay(delta2, "doc_id", src2,
        nBuckets = 5, clear = false)
      val q = StateRebake.startDedupQuery(spark, src2,
        ck2.getAbsolutePath, out2, rebaked)
      try q.processAllAvailable() finally q.stop()
    }
    val phase3Secs = (System.nanoTime() - tr3) / 1e9

    // ---- claims ---------------------------------------------------------
    val mono2 = verdicts(monoOut, minId = C + D)
    val rot2 = verdicts(out2, minId = C + D)
    require(rot2 == mono2,
      s"rotated delta2 verdicts diverge from the monolithic twin: " +
        s"${rot2.toSet.diff(mono2.toSet).take(5)} / " +
        s"${mono2.toSet.diff(rot2.toSet).take(5)}")
    val expectedDrops = (0L until D).filter(o =>
      o % 100 == 0 || o % 100 == 20 || o % 100 == 50).map(_ + C + D).toSet
    val gotDrops = rot2.filter(_._2).keySet
    require(gotDrops == expectedDrops,
      s"drop set != planted classes: extra=${gotDrops.diff(expectedDrops).take(5)} " +
        s"missing=${expectedDrops.diff(gotDrops).take(5)}")

    println(f"""{"metric":"rebake_macro","corpus":$C,"delta":$D,""" +
      f""""mono_sec":$monoSecs%.1f,"phase1_sec":$phase1Secs%.1f,""" +
      f""""bake_sec":$bakeSecs%.1f,"delete_sec":$delSecs%.2f,""" +
      f""""phase3_sec":$phase3Secs%.1f,"baked_state_rows":$bakedRows,""" +
      f""""old_ck_bytes":$oldBytes,"new_ck_bytes":$newBytes,""" +
      f""""trip_reason":"${tripped.get}","delta2_drops":${gotDrops.size},""" +
      f""""exact":true}""")
    spark.stop()
  }
}
