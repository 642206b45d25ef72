package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.streaming.{FileReplay, StateRebake, StreamCuration, StreamDedup}

/** POLICY-TRIGGERED state rotation at the REAL index scale (r19
  * verdict item 6): RebakeMacroBench proves the lifecycle at 500k docs
  * — where the fresh snapshot (carrying the enlarged index) is BIGGER
  * than the young tree it replaces; this arm runs the 3M-corpus /
  * ~9M-bucket stream-curation index, trips [[StateRebake.RebakePolicy]]
  * on `maxStateBytes` MID-STREAM (after the first delta half), rebakes,
  * deletes the old tree, resumes over the second half, and records the
  * fresh-vs-old checkpoint byte ratio at a scale where rotation PAYS
  * (ratio < 1 is a hard gate).
  *
  * Why the old tree is bigger here: a long-lived stream's checkpoint
  * retains its version history — periodic full RocksDB snapshots plus
  * per-batch changelogs, all kept inside the `minBatchesToRetain`
  * window. A bench-scale run compresses that timeline with
  * `maintenanceInterval=2s` / `minDeltasForSnapshot=3` (a stream that
  * runs for days hits the 60 s/10-delta defaults many times over), so
  * the old tree carries the bake snapshot + later snapshots + the
  * changelogs, while the fresh tree is exactly ONE snapshot of the
  * enlarged index. Rotation truncates the version history — that, not
  * instantaneous index bytes, is the bounded claim (the r18 honest
  * note, now with the ratio measured on the paying side).
  *
  * Correctness gate: the rotated run's delta-B verdicts are EXACTLY
  * the never-rotated monolithic twin's (the StateRebake equivalence:
  * re-flagging prior arrivals corpus=true is invisible to
  * `corpus || id < arrival` for every later-id arrival).
  *
  * Usage: RotateCurationMacroBench [nCorpus] [nDelta] [nBucketsPerPhase]
  *        [maxStateMb] (defaults 3M, 300k, 12, 100 — delta splits in
  *        half, 12 batches per phase so maintenance uploads post-bake
  *        snapshots; the byte cap must sit under the index footprint
  *        at the chosen scale to trip)
  */
object RotateCurationMacroBench {

  private def du(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(du).sum

  def main(args: Array[String]): Unit = {
    val nCorpus = args.headOption.map(_.toLong).getOrElse(3000000L)
    val nDelta = args.drop(1).headOption.map(_.toLong).getOrElse(300000L)
    val nBuckets = args.drop(2).headOption.map(_.toInt).getOrElse(12)
    val maxStateMb = args.drop(3).headOption.map(_.toLong).getOrElse(100L)
    // compress the long-lived stream's snapshot timeline (doc above)
    val spark = Session(confs = Seq(
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "2s",
      "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "3"))
    import spark.implicits._

    val corpus = StreamCurationMacroBench
      .synthDocs(spark, 0L, nCorpus, col("id"))
      .localCheckpoint(true)
    // ~3% planted exact copies of corpus docs, both halves
    val delta = StreamCurationMacroBench
      .synthDocs(spark, nCorpus, nCorpus + nDelta,
        when(col("id") % 100 < 3, col("id") - nCorpus).otherwise(col("id")))
      .localCheckpoint(true)
    val half = nCorpus + nDelta / 2
    val deltaA = delta.filter(col("doc_id") < half)
    val deltaB = delta.filter(col("doc_id") >= half)

    val words = StreamCuration.packedEvalBloom(
      corpus.filter(col("doc_id") % 99991 === 0)
        .select(explode(StreamCuration.gramKeys(col("text"))).as("gk"))
        .distinct(),
      m = 65536L)

    def packedInit(indexDocs: DataFrame): DataFrame = {
      val q = indexDocs.filter(StreamCuration.qualityScore(col("text")) > 0)
      StreamDedup.bandRows(q, "doc_id", "text").toDF()
        .groupBy("bandHash")
        .agg(collect_list(struct(col("docId"), lit(true).as("corpus"),
          col("shh"))).as("members"))
        .select(col("bandHash"),
          StreamDedup.packMembersCol(col("members")).as("packed"))
        .localCheckpoint(true)
    }

    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val chgKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provKey)
    val prevChg = spark.conf.getOption(chgKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def startQuery(srcDir: java.io.File, ckpt: String, outDir: String,
        init: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
      val packed = init.as[(Long, Array[Long])]
        .groupByKey(_._1).mapValues(_._2)
      val stream = spark.readStream
        .schema(delta.select(col("doc_id"), col("text")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.getAbsolutePath)
      // the StreamCurationMacroBench pushdown barrier (r15)
      val spread = stream.repartition(Session.cpus)
        .as[(Long, String)].map(identity).toDF("doc_id", "text")
      StreamCuration.curationStream(
          StreamCuration.curationRows(spread, "doc_id", "text", words), packed)
        .toDF()
        .writeStream
        .foreachBatch(
          graft.streaming.StateRebake.idempotentBatchAppend(outDir) _)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    }

    /** Sentinel-only snapshot-mode bake into `ckpt` (r16 trap: a
      * changelog-mode bake replays the whole index as changelog on
      * restart); returns (bakeSecs, the staged srcDir).
      */
    def bakeInit(tag: String, init: DataFrame, ckpt: java.io.File,
        outDir: String): (Double, java.io.File) = {
      val srcDir = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_rotcur_src_$tag")
      StateRebake.stageBootstrapSentinel(spark, srcDir)
      spark.conf.set(chgKey, "false")
      val tb = System.nanoTime()
      val bake = startQuery(srcDir, ckpt.getAbsolutePath, outDir, init)
      try bake.processAllAvailable() finally bake.stop()
      spark.conf.set(chgKey, "true")
      ((System.nanoTime() - tb) / 1e9, srcDir)
    }

    /** Stream `docs` through `nB` replay buckets from the baked
      * checkpoint; returns streamSecs.
      */
    def streamDelta(srcDir: java.io.File, init: DataFrame, docs: DataFrame,
        nB: Int, ckpt: java.io.File, outDir: String)
        (onDone: org.apache.spark.sql.streaming.StreamingQuery => Unit)
        : Double = {
      FileReplay.stageOrderedReplay(docs.select(col("doc_id"), col("text")),
        "doc_id", srcDir, nB, clear = false)
      val ts = System.nanoTime()
      val q = startQuery(srcDir, ckpt.getAbsolutePath, outDir, init)
      try { q.processAllAvailable(); onDone(q) } finally q.stop()
      (System.nanoTime() - ts) / 1e9
    }

    def verdicts(path: String, minId: Long): Map[Long, Boolean] =
      spark.read.parquet(path)
        .groupBy("docId").agg(max(col("matched")).as("matched"))
        .as[(Long, Boolean)].collect().toMap.filter(_._1 >= minId)

    val base = java.nio.file.Files
      .createTempDirectory("graft_rotcur").toFile

    try {
      // ---- monolithic twin: A then B, never rotated -------------------
      val monoOut = new java.io.File(base, "mono_out").getAbsolutePath
      val monoCk = new java.io.File(base, "mono_ck")
      val initC = packedInit(corpus)
      val (monoBake, monoSrc) = bakeInit("mono", initC, monoCk, monoOut)
      val monoStream = streamDelta(monoSrc, initC,
        deltaA.unionByName(deltaB), nBuckets * 2, monoCk, monoOut)(_ => ())

      // ---- rotated run: phase A trips the policy ----------------------
      val out1 = new java.io.File(base, "rot_out1").getAbsolutePath
      val ck1 = new java.io.File(base, "rot_ck1")
      // ~200 MB sst at the 3M index scale — 100 MB is a realistic cap
      // a production deployment would set, and it trips here
      val policy = StateRebake.RebakePolicy(maxStateBytes = maxStateMb << 20)
      var tripped: Option[String] = None
      var seenBytes = -1L
      val (bake1, srcA) = bakeInit("a", initC, ck1, out1)
      val streamA = streamDelta(srcA, initC, deltaA, nBuckets,
        ck1, out1) { q =>
        tripped = StateRebake.shouldRotate(q, policy)
        val pr = q.lastProgress
        if (pr != null && pr.stateOperators.nonEmpty)
          seenBytes = StateRebake.stateBytes(pr.stateOperators(0))
      }
      require(tripped.isDefined,
        s"maxStateBytes policy (cap ${maxStateMb << 20}) did not trip " +
          s"after phase A — observed $seenBytes state bytes")

      // give the compressed maintenance timeline a moment to upload the
      // last snapshot version before sizing the old tree
      Thread.sleep(6000)
      val oldBytes = du(ck1)
      if (sys.env.contains("SPARK_GRAFT_CK_DEBUG")) {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(ck1).groupBy(f => f.getName.replaceAll("^[0-9]+", "N"))
          .toSeq.sortBy(-_._2.map(_.length()).sum)
          .foreach { case (pat, fs) =>
            System.err.println(f"[ck1] $pat%-30s n=${fs.size}%5d " +
              f"bytes=${fs.map(_.length()).sum}")
          }
      }

      // ---- rebake: corpus ∪ ALL phase-A arrivals into a fresh tree ----
      // the byte comparison is taken AT ROTATION TIME: the tree being
      // deleted (with its accrued version history) vs the tree just
      // baked — both before any phase-B traffic
      val rebakedDocs = corpus.unionByName(deltaA).localCheckpoint(true)
      val ck2 = new java.io.File(base, "rot_ck2")
      val out2 = new java.io.File(base, "rot_out2").getAbsolutePath
      val tb0 = System.nanoTime()
      val initR = packedInit(rebakedDocs)
      val (bake2, srcB) = bakeInit("b", initR, ck2, out2)
      val rebakeTotal = (System.nanoTime() - tb0) / 1e9
      val newBytes = du(ck2)
      val td0 = System.nanoTime()
      StateRebake.deleteCheckpointTree(ck1)
      val delSecs = (System.nanoTime() - td0) / 1e9
      val streamB = streamDelta(srcB, initR, deltaB, nBuckets,
        ck2, out2)(_ => ())

      // ---- claims -----------------------------------------------------
      val monoB = verdicts(monoOut, minId = half)
      val rotB = verdicts(out2, minId = half)
      require(rotB == monoB,
        s"rotated delta-B verdicts diverge from the monolithic twin: " +
          s"rotOnly=${rotB.toSet.diff(monoB.toSet).take(5)} " +
          s"monoOnly=${monoB.toSet.diff(rotB.toSet).take(5)}")
      val ratio = newBytes.toDouble / oldBytes
      println(f"""{"metric":"rotate_curation_macro","corpus":$nCorpus,""" +
        f""""delta":$nDelta,"mono_bake_sec":$monoBake%.1f,""" +
        f""""mono_stream_sec":$monoStream%.1f,"bake1_sec":$bake1%.1f,""" +
        f""""streamA_sec":$streamA%.1f,"rebake_sec":$rebakeTotal%.1f,""" +
        f""""streamB_sec":$streamB%.1f,"delete_sec":$delSecs%.2f,""" +
        f""""old_ck_bytes":$oldBytes,"new_ck_bytes":$newBytes,""" +
        f""""byte_ratio":$ratio%.3f,"trip_reason":"${tripped.get}",""" +
        f""""matched_b":${rotB.count(_._2)},"exact":true}""")
      require(ratio < 1.0,
        f"fresh checkpoint ($newBytes B) not smaller than the rotated-out " +
          f"tree ($oldBytes B) — ratio $ratio%.3f")
    } finally {
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
      prevChg match {
        case Some(p) => spark.conf.set(chgKey, p)
        case None => spark.conf.unset(chgKey)
      }
    }
    spark.stop()
  }
}
