package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Dedup
import graft.streaming.{FileReplay, StreamCuration, StreamDedup}

/** Streaming-curation SCALE record (round-13 verdict item 5): q183
  * gates the semantics at fixture scale; this arm replays a 10% delta
  * against a 10×-larger persisted corpus index and records rows/s,
  * state size, and survivor-set equality against the batch incremental
  * pipeline.
  *
  * Fixture: TextMacroBench's synthetic corpus (text is a pure function
  * of doc_id), `nCorpus` docs indexed, `nDelta` arrivals with ~3%
  * PLANTED exact copies of corpus docs (delta id % 100 < 3 reuses the
  * corpus doc's token seed) — a planted copy whose corpus twin passed
  * quality MUST verify at Jaccard 1, so the closed-form subset gate is
  * `planted∩quality ⊆ matched`, and the full gate is exact equality of
  * the stream's matched set with a BATCH twin computing the identical
  * incremental rule (band join → compact candidate pairs → exact
  * set-Jaccard ≥ 0.8 against corpus members and smaller-id arrivals).
  *
  * State is the per-band member index — 16 bands × corpus size — which
  * exceeds executor heap at 3M docs, so the stream runs on the RocksDB
  * state store (the r12 transformWithState lesson generalizes: set the
  * provider for the stream, restore in finally). State rows/bytes are
  * read from the final StreamingQueryProgress; the invariant is state
  * ≈ index size + delta additions, NEVER corpus×delta.
  *
  * Usage: StreamCurationMacroBench [nCorpus] [nDelta] [nBuckets]
  *        (defaults 3M, 300k, 10 — ~20-60 tokens/doc)
  */
object StreamCurationMacroBench {

  private[graft] def synthDocs(spark: SparkSession, lo: Long, hi: Long,
      genId: org.apache.spark.sql.Column): DataFrame = {
    // TextMacroBench's generator shape: ~45% hot tokens, 100k tail,
    // 20-60 tokens; text is a pure function of the GENERATING id
    val nTok = (pmod(xxhash64(col("gen_id")), lit(41)) + 20).cast("int")
    val tok = {
      val h = xxhash64(col("gen_id"), col("i"))
      when(pmod(h, lit(100)) < 45,
        concat(lit("h"), pmod(xxhash64(col("gen_id"), col("i"), lit(1)), lit(16))))
        .otherwise(
          concat(lit("w"), pmod(xxhash64(col("gen_id"), col("i"), lit(2)), lit(100000))))
    }
    spark.range(lo, hi)
      .select(col("id").as("doc_id"), genId.as("gen_id"))
      .select(col("doc_id"), col("gen_id"),
        explode(sequence(lit(1), nTok)).as("i"))
      .select(col("doc_id"), tok.as("tok"))
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val nCorpus = args.headOption.map(_.toLong).getOrElse(3000000L)
    val nDelta = args.drop(1).headOption.map(_.toLong).getOrElse(300000L)
    val nBuckets = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = Session(partitionsPerCpu = 4)
    import spark.implicits._

    val corpus = synthDocs(spark, 0L, nCorpus, col("id"))
      .localCheckpoint(true)
    // ~3% of delta ids replay a corpus doc's token seed → exact copies
    val delta = synthDocs(spark, nCorpus, nCorpus + nDelta,
      when(col("id") % 100 < 3, col("id") - nCorpus).otherwise(col("id")))
      .localCheckpoint(true)

    // tiny eval split (the bloom stage is a stateless rider here; its
    // cost story is q162's — the macro stresses the dedup state path).
    // Distributed build: only the one packed row reaches the driver.
    val words = StreamCuration.packedEvalBloom(
      corpus.filter(col("doc_id") % 99991 === 0)
        .select(explode(StreamCuration.gramKeys(col("text"))).as("gk"))
        .distinct(),
      m = 65536L)

    val corpusQ = corpus.filter(StreamCuration.qualityScore(col("text")) > 0)
    // corpus band rows computed ONCE and checkpointed: the initial
    // state, the batch twin's member side, and the payload table all
    // reuse this frame instead of re-shingling 3M docs three times
    val cbFull = StreamDedup.bandRows(corpusQ, "doc_id", "text").toDF()
      .localCheckpoint(true)

    // ---------------- stream: index as initial state ------------------
    val srcDir = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir")), "graft_scur_macro_src")
    // BOOTSTRAP-CHECKPOINT pre-load (r15's named batch-0 lever, r16):
    // the ~60 s of flatMapGroupsWithState initial-state per-key
    // machinery (~100 µs/key × 9M buckets) is an INDEX-BUILD cost, not
    // a streaming cost — so pay it once in a sentinel-only bootstrap
    // batch that bakes the packed band index into the RocksDB
    // checkpoint, then restart the stream from that checkpoint: the
    // restart skips initialState entirely (state comes from the store)
    // and its batch 0 is a normal data batch. Production shape: bake
    // per index build, stream for days.
    // Stage ONLY the bootstrap sentinel first — one quality-failing doc
    // (empty text) that triggers batch 0 without reaching the stateful
    // operator. The real delta files are staged after the bake.
    if (srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()
    locally {
      val stage = new java.io.File(srcDir.getParentFile,
        srcDir.getName + "_stage").getAbsolutePath
      Seq((-1L, "")).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, "a_bootstrap.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1704067100000L)
    }

    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Round-15 throughput levers (the r14 verdict's 27×-premium item):
    //  - changelog checkpointing: each micro-batch commit uploads a
    //    delta changelog instead of a full RocksDB snapshot — the
    //    initial 9M-row index load no longer re-snapshots per batch;
    //  - state partitions = cores (not the batch twin's cores×4): a
    //    stateful query commits EVERY state-store instance per batch,
    //    so surplus partitions buy nothing but 4× the commit overhead.
    //    (The stream binds its state partitioning at start; the conf is
    //    restored before the batch twin plans its joins.)
    val chgKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevChg = spark.conf.getOption(chgKey)
    spark.conf.set(chgKey, "true")
    val partKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partKey)
    spark.conf.set(partKey, Session.cpus.toString)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_scur_macro_ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_scur_macro_out").toString
    var stateRows = -1L
    var stateBytes = -1L
    // the initialState plan is a CHILD of the stateful operator and
    // RE-EXECUTES on every micro-batch's re-planning (measured: ~25 s
    // of every 30 s batch was this 6.9M-row groupBy+pack, with all
    // state metrics near zero) — materialize the packed index ONCE so
    // later batches re-scan a compact checkpoint instead of
    // re-aggregating the corpus
    val initFrame = cbFull
      .groupBy("bandHash")
      .agg(collect_list(struct(col("docId"), lit(true).as("corpus"),
        col("shh"))).as("members"))
      .select(col("bandHash"),
        StreamDedup.packMembersCol(col("members")).as("packed"))
      .localCheckpoint(true)
    val init = initFrame
      .as[(Long, Array[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)
    // the query DAG, restartable: memory sink cannot recover from a
    // checkpoint, so verdicts append to parquet via foreachBatch
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream
        .schema(delta.select(col("doc_id"), col("text")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.getAbsolutePath)
      // each staged replay file is ONE partition (coalesce(1) staging) —
      // without redistribution the heavy stateless front (quality fold,
      // shingles, 64-hash MinHash) runs on a single core per micro-batch
      // and the whole stream serializes on it. A bare repartition is NOT
      // enough: PushDownPredicates pushes the quality FILTER (alias-
      // substituted, the full md5 fold) through Repartition back into the
      // one-task file-read stage (measured: a 1-task ~10 s stage per
      // batch while the 24-task state stage ran <1 s). The typed
      // map(identity) barrier after the repartition is optimizer-opaque,
      // so the filter stays on the 24-way side — the same barrier trick
      // the operator itself uses against projection collapse.
      val spread = stream.repartition(Session.cpus)
        .as[(Long, String)].map(identity).toDF("doc_id", "text")
      StreamCuration.curationStream(
          StreamCuration.curationRows(spread,
            "doc_id", "text", words), init)
        .toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    }
    var tBake = 0.0
    var tStream = 0.0
    var firstBatchMs = -1L
    try {
      // ---- bake: sentinel-only batch 0 commits the 9M-bucket index ----
      // changelog checkpointing OFF for the bake: its commit must write
      // a full RocksDB SNAPSHOT, not the whole index as a changelog —
      // measured: a changelog-mode bake made the restart's first batch
      // REPLAY 9M puts (rocksdbReplayChangeLogLatencyMs ≈ 786 s
      // aggregate, 45 s wall). Snapshot-mode bake → the restart loads
      // sst files directly.
      spark.conf.set(chgKey, "false")
      val tb = System.nanoTime()
      val bake = startQuery()
      try bake.processAllAvailable() finally bake.stop()
      tBake = (System.nanoTime() - tb) / 1e9
      spark.conf.set(chgKey, "true")
      // ---- real stream: restart from the baked checkpoint ----
      FileReplay.stageOrderedReplay(delta.select(col("doc_id"), col("text")),
        "doc_id", srcDir, nBuckets, clear = false)
      val t0 = System.nanoTime()
      // the per-batch dump below reads a listener, which sees every
      // batch; recentProgress keeps only the last
      // spark.sql.streaming.numRecentProgressUpdates (100)
      val log = new FileReplay.ProgressLog
      spark.streams.addListener(log)
      try {
        val sq = startQuery()
        try sq.processAllAvailable() finally sq.stop()
        tStream = (System.nanoTime() - t0) / 1e9
        val prog = sq.lastProgress
        if (prog != null && prog.stateOperators.nonEmpty) {
          stateRows = prog.stateOperators(0).numRowsTotal
          stateBytes = prog.stateOperators(0).memoryUsedBytes
        }
        // per-batch breakdown on stderr: where does the wall go?
        val (batches, complete) = log.progress(sq.runId)
        batches.foreach { p =>
          val so = p.stateOperators.headOption
          if (firstBatchMs < 0 && p.numInputRows > 0)
            firstBatchMs = p.batchDuration
          System.err.println(s"[scur batch ${p.batchId}] rows=${p.numInputRows} " +
            s"batchMs=${p.batchDuration} durations=${p.durationMs} " +
            so.map(o => s"updTimeMs=${o.allUpdatesTimeMs} " +
              s"commitMs=${o.commitTimeMs} " +
              s"custom=${o.customMetrics}").getOrElse(""))
        }
        if (!complete)
          System.err.println("[scur] no terminated event within 30 s: later batches may be missing")
      } finally spark.streams.removeListener(log)
    } finally {
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
      prevChg match {
        case Some(p) => spark.conf.set(chgKey, p)
        case None => spark.conf.unset(chgKey)
      }
      spark.conf.set(partKey, prevParts)
    }
    // the restarted stream's FIRST data batch must be a NORMAL batch —
    // the ~60 s initial-state machinery belongs to the bake now
    require(firstBatchMs >= 0 && firstBatchMs < 20000,
      s"restarted batch 0 took $firstBatchMs ms — bootstrap bake not effective")

    val streamMatched = spark.read.parquet(outDir)
      .groupBy(col("docId").as("doc_id"))
      .agg(max(col("matched")).as("matched"))
      .filter(col("matched"))
      .select("doc_id").as[Long].collect().toSet

    // ---------------- batch twin: identical incremental rule ----------
    val t1 = System.nanoTime()
    val deltaQ = delta.filter(StreamCuration.qualityScore(col("text")) > 0)
    val cb = cbFull
      .select(col("bandHash"), col("docId").as("mid"), lit(true).as("corpus"))
    val db = StreamDedup.bandRows(deltaQ, "doc_id", "text").toDF()
      .localCheckpoint(true)
    val members = cb.unionByName(db.select(col("bandHash"),
      col("docId").as("mid"), lit(false).as("corpus")))
    val cand = db.select(col("bandHash"), col("docId").as("did"))
      .join(members, "bandHash")
      .filter(col("corpus") || col("mid") < col("did"))
      .select("did", "mid").distinct()
    val shhAll = db.select(col("docId"), col("shh")).distinct()
      .unionByName(cbFull.select(col("docId"), col("shh")).distinct())
      .distinct()
    val batchMatched = cand
      .join(shhAll.select(col("docId").as("did"), col("shh").as("sa")), "did")
      .join(shhAll.select(col("docId").as("mid"), col("shh").as("sb")), "mid")
      .select(col("did"),
        expr("size(array_intersect(sa, sb))").as("inter"),
        (size(col("sa")) + size(col("sb"))).as("sz"))
      .filter(col("inter").cast("double") /
        (col("sz") - col("inter")).cast("double") >= 0.8)
      .select("did").distinct().as[Long].collect().toSet
    val tBatch = (System.nanoTime() - t1) / 1e9

    // closed-form subset: planted copies whose twin passed quality
    val plantedQ = delta.filter(col("doc_id") % 100 < 3)
      .filter(StreamCuration.qualityScore(col("text")) > 0)
      .select("doc_id").as[Long].collect().toSet

    require(plantedQ.subsetOf(streamMatched),
      s"${plantedQ.diff(streamMatched).size} planted copies missed " +
        s"(of ${plantedQ.size})")
    require(streamMatched == batchMatched,
      s"stream/batch survivor divergence: stream-only " +
        s"${streamMatched.diff(batchMatched).size}, batch-only " +
        s"${batchMatched.diff(streamMatched).size}")
    val rate = nDelta / tStream
    println(f"stream_curation_macro: corpus=$nCorpus delta=$nDelta " +
      f"buckets=$nBuckets bake=$tBake%.1f s stream=$tStream%.1f s " +
      f"(${rate}%.0f docs/s) first_batch_ms=$firstBatchMs " +
      f"batch_twin=$tBatch%.1f s state_rows=$stateRows " +
      f"state_mb=${stateBytes / 1048576.0}%.0f matched=${streamMatched.size} " +
      f"planted_q=${plantedQ.size}  EXACT")
    spark.stop()
  }
}
