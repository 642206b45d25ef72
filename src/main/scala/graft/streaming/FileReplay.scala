package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic micro-batch REPLAY harness: stages a bounded event
  * table as time-ordered parquet files so a file-source stream consumes
  * it one time-range per trigger — the event-time watermark then only
  * ever advances, which makes watermark-dependent operators (windowed
  * aggregation, EventTimeTimeout sessionization) produce exactly the
  * batch answer. Two far-future "flush" sentinel rows advance the
  * watermark past every real timeout/window and then fire them in a
  * guaranteed data batch (no reliance on no-data micro-batches). Used
  * by the streaming correctness-gate queries (q83, q87); results filter
  * `event_type != 'flush'` / `user_id >= 0` to drop the sentinels.
  */
object FileReplay {

  /** Stage `df` as ONE parquet file named `name` in `srcDir` with a
    * pinned modification time — the staging primitive every replay and
    * bootstrap path shares (write to a sibling `_stage` dir, move the
    * single part file into place, pin mtime so the file source's
    * oldest-first order IS the staged order). Factored once (r20
    * review: three divergent inline copies).
    */
  private[graft] def stageOne(df: DataFrame, srcDir: java.io.File,
      name: String, mtime: Long): Unit = {
    val stage = new java.io.File(srcDir.getParentFile,
      srcDir.getName + "_stage").getAbsolutePath
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(srcDir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.setLastModified(mtime)
  }

  /** Stage `sel` — (event_id long, ts timestamp, user_id long,
    * event_type string, value double/decimal) — into `srcDir` as
    * `nBuckets` equal event-time ranges plus two sentinel files, with
    * strictly increasing modification times (the file source's oldest-
    * first order). Idempotent: clears `srcDir` first. Sentinel rows are
    * cast to `sel`'s own schema so a decimal-valued selection stages
    * uniformly-typed files (a raw double sentinel mixed physical
    * parquet types with decimal buckets — r20 review).
    */
  def stageEventReplay(sel: DataFrame, srcDir: java.io.File,
      nBuckets: Int = 5, nSentinels: Int = 2): Unit = {
    val s = sel.sparkSession
    if (srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()

    val bounds = sel
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    require(!bounds.isNullAt(0),
      "stageEventReplay: empty selection — nothing to stage")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = (hi - lo) / nBuckets + 1

    for (k <- 0 until nBuckets) {
      val (bLo, bHi) = (lo + k * step, lo + (k + 1) * step)
      stageOne(sel.filter(unix_micros(col("ts")) >= bLo &&
        unix_micros(col("ts")) < bHi), srcDir, f"b$k%02d.parquet",
        1704067200000L + k * 1000L)
    }
    import s.implicits._
    for (k <- nBuckets until nBuckets + nSentinels) {
      val sentinel = Seq((-k.toLong, new java.sql.Timestamp(
          (hi / 1000) + k.toLong * 10 * 86400 * 1000),
        -k.toLong, "flush", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(sel.schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      stageOne(sentinel, srcDir, f"b$k%02d.parquet",
        1704067200000L + k * 1000L)
    }
  }

  /** Stage an arbitrary bounded table as an ordered replay: `nBuckets`
    * equal ranges of the LONG column `orderCol`, one file per range with
    * strictly increasing modification times. No watermark is involved,
    * so no sentinel rows — the stateful consumer sees arrivals in
    * `orderCol` order across micro-batches (ties land in the same file).
    * Used by the streaming-dedup gate (q156), where arrival order is
    * doc_id order by construction.
    */
  def stageOrderedReplay(sel: DataFrame, orderCol: String,
      srcDir: java.io.File, nBuckets: Int = 5,
      clear: Boolean = true): Unit = {
    // clear = false appends to an already-staged dir (the bootstrap-
    // checkpoint pattern: a sentinel file is staged and consumed before
    // the real replay files land); staged names b00.. never collide
    if (clear && srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()
    val bounds = sel.agg(min(col(orderCol)), max(col(orderCol))).head()
    require(!bounds.isNullAt(0),
      "stageOrderedReplay: empty selection — nothing to stage")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = (hi - lo) / nBuckets + 1
    for (k <- 0 until nBuckets) {
      val (bLo, bHi) = (lo + k * step, lo + (k + 1) * step)
      stageOne(sel.filter(col(orderCol) >= bLo && col(orderCol) < bHi),
        srcDir, f"b$k%02d.parquet", 1704067200000L + k * 1000L)
    }
  }

  /** Run a streaming transform of the staged replay to completion and
    * return the memory sink's rows. `build` maps the file-source stream
    * (schema = `schema`) to the streaming result. With a `debug` sink
    * (by default stderr when SPARK_GRAFT_STREAM_DEBUG is set) every
    * batch's duration breakdown and state operator metrics go to it
    * (guide §1 — measure before theorizing about where a replayed
    * stream's wall goes).
    */
  def runToTable(s: org.apache.spark.sql.SparkSession,
      srcDir: java.io.File, schema: org.apache.spark.sql.types.StructType,
      queryName: String,
      outputMode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Append(),
      debug: Option[String => Unit] = streamDebug)(
      build: DataFrame => DataFrame): DataFrame = {
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
    // a listener sees every batch; recentProgress keeps only the last
    // spark.sql.streaming.numRecentProgressUpdates (100) and would drop
    // batch 0 of a longer replay without notice
    val log = debug.map(_ => new ProgressLog)
    log.foreach(s.streams.addListener)
    try {
      val sq = build(stream)
        .writeStream.format("memory").queryName(queryName)
        .outputMode(outputMode).start()
      try sq.processAllAvailable() finally sq.stop()
      for (l <- log; out <- debug) l.of(sq.runId).foreach(out)
    } finally log.foreach(s.streams.removeListener)
    // the memory sink publishes its rows as a temp view named after the
    // query: resolve it once, then drop the name, so the query leaves no
    // view behind (the returned frame holds the sink's plan directly)
    val out = s.table(queryName)
    s.catalog.dropTempView(queryName)
    out
  }

  private val streamDebug: Option[String => Unit] =
    sys.env.get("SPARK_GRAFT_STREAM_DEBUG").map(_ => System.err.println(_: String))

  /** The progress events of a session's queries, collected as they
    * arrive on the listener bus.
    */
  private[graft] final class ProgressLog
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    private val events =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val ended = scala.collection.mutable.Set[java.util.UUID]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
      ended += e.runId
      notifyAll()
    }

    /** Every batch's progress of run `runId`, in batch order, and
      * whether the run's terminated event came in within 30 s. The bus
      * hands a query's events over in order, the terminated one last, so
      * once that is in, so are all its batches.
      */
    def progress(runId: java.util.UUID): (Seq[StreamingQueryProgress], Boolean) = {
      val complete = synchronized {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!ended(runId) && System.nanoTime() < deadline)
          wait(math.max(1L, (deadline - System.nanoTime()) / 1000000))
        ended(runId)
      }
      (events.iterator().asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId),
        complete)
    }

    /** One line per batch of run `runId`, in batch order. */
    def of(runId: java.util.UUID): Seq[String] = {
      val (progress, complete) = this.progress(runId)
      val batches = progress.map { p =>
        val d = p.durationMs
        val st = p.stateOperators.headOption.map(o =>
          s" stateRows=${o.numRowsTotal} updated=${o.numRowsUpdated}" +
            s" updMs=${o.allUpdatesTimeMs} commitMs=${o.commitTimeMs}" +
            s" memUsed=${o.memoryUsedBytes}").getOrElse("")
        s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
          s"triggerMs=${d.get("triggerExecution")} " +
          s"addBatchMs=${d.get("addBatch")} " +
          s"getBatchMs=${d.get("getBatch")} " +
          s"planMs=${d.get("queryPlanning")}$st"
      }
      if (complete) batches
      else batches :+ "[stream] no terminated event within 30 s: later batches may be missing"
    }
  }
}
