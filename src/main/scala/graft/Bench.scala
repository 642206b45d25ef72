package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.queries.Registry

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json).
  */
object Bench {

  /** Full-materialization action: checksum EVERY output column so Catalyst
    * cannot prune away result-producing work (a bare `count()` lets the
    * optimizer drop final projections — e.g. WKT string synthesis — and
    * under-measure). `bit_xor` keeps the fold overflow-free under ANSI.
    * Returns the checksum (0 for an empty frame).
    */
  def materialize(df: DataFrame): Long = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)))
      .collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Sums task metrics across the whole app; queries run sequentially,
    * so the before/after delta around one pass IS that query's I/O.
    * Shuffle bytes are the scale currency — a headline query whose
    * shuffle grows round-over-round has a plan problem even when its
    * wall-clock hides it in VM noise.
    */
  private final class IoListener extends org.apache.spark.scheduler.SparkListener {
    val input = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        input.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot: (Long, Long, Long) =
      (input.get, shuffleRead.get, shuffleWrite.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(confs = Session.headline)

    // SPARK_GRAFT_ONLY=q47_kmv_sketch,q60_flood_detailed → time just those
    // (iterating on one query without paying for the whole suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val targets = Registry.headlines
      .filter(q => only.forall(_.contains(q.name)))
    // Warm the OS page cache for the sf dir: a cold VM's first read of the
    // parquet inputs inflated BENCH_r05 by 52% vs a warm re-run. The whole
    // sf0.1 dir is ~17 MB — reading it through is effectively free.
    // best-effort only: a missing/unreadable sf dir must surface as
    // per-query err statuses in the JSON, not kill the run pre-output
    try {
      val buf = new Array[Byte](1 << 20)
      def slurp(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.foreach(slurp)
        else {
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
      slurp(new java.io.File(sfDir))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] page-cache warm skipped: $e")
    }
    // TWO warm-up passes so JIT/codegen and file listing don't dominate:
    // one pass leaves C2 tiering mid-flight (the r10 driver sidecar still
    // showed pass-1 30-50% above pass-3 after a single warm-up, and the
    // published cold totals ran 40% over the converged number three
    // rounds running). Warm-up failures are tolerated (the timed passes
    // report them). The first pass captures each query's canonicalized
    // plan fingerprint: a timing drift next round is then decidable as
    // noise (same hash) vs plan change (different hash) without a judge
    // re-bench.
    val planHashes = targets.map { q =>
      val h =
        try {
          val df = q.run(spark, sfDir)
          val hash = graft.core.PlanHash.of(df)
          materialize(df)
          hash
        } catch { case scala.util.control.NonFatal(_) => "err" }
      q.name -> h
    }.toMap
    targets.foreach { q =>
      try materialize(q.run(spark, sfDir))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Quiesce GC once between the warm-up and timed regions (r21): the
    // two warm-up passes execute every query twice and leave a young-gen
    // full of shuffle/codegen debris whose collection otherwise lands in
    // the FIRST timed query's passes (the prime non-cotenant explanation
    // for r20's q01 reading 3.8× its band in the driver's cold run while
    // plan-identical and 1.0 s at 8 cores). Outside every timed region;
    // per-query methodology (N passes, min) is unchanged.
    System.gc()
    Thread.sleep(200)
    // N timed passes per query (consecutive, min reported): one pass cannot
    // defend against co-tenant contention or a cold VM, and a corrupted
    // official record masquerades as a regression every round. The min is
    // the headline number; every pass is emitted for honesty.
    // a malformed SPARK_GRAFT_PASSES must not throw before the JSON line is
    // emitted — fall back to the default and warn on stderr
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES")
      .flatMap { s =>
        val p = scala.util.Try(s.toInt).toOption.filter(_ >= 1)
        if (p.isEmpty)
          System.err.println(s"[bench] ignoring malformed SPARK_GRAFT_PASSES=$s; using 3")
        p
      }
      .getOrElse(3)
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    // a failing query must surface as status=err and a nonzero exit,
    // never as a silently-near-zero timing
    val results = targets.map { q =>
      // label the timed jobs (guide §1.5) so stage-debug lines and any
      // UI inspection attribute work to the right query
      spark.sparkContext.setJobDescription(q.name)
      // I/O delta measured around the FIRST timed pass (metrics are
      // deterministic per pass; timings are not)
      val ioBefore = io.snapshot
      val passes = (1 to nPasses).map { _ =>
        val t0 = System.nanoTime()
        val status =
          try { materialize(q.run(spark, sfDir)); "ok" }
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] ${q.name} FAILED: $e")
              "err"
          }
        ((System.nanoTime() - t0) / 1e9, status)
      }
      val ioAfter = io.snapshot
      // averaged over the passes: the listener is async, so a straggling
      // task's metrics may land in the next delta — averaging bounds the
      // error to noise while shuffle volumes differ by orders of magnitude
      val perPass = Seq(
        (ioAfter._1 - ioBefore._1) / nPasses,
        (ioAfter._2 - ioBefore._2) / nPasses,
        (ioAfter._3 - ioBefore._3) / nPasses)
      val status = if (passes.exists(_._2 == "err")) "err" else "ok"
      // the headline min counts only SUCCESSFUL passes — a fast-failing
      // pass must never report as a near-zero timing
      val okTimes = passes.collect { case (t, "ok") => t }
      val headline =
        if (okTimes.nonEmpty) okTimes.min else passes.map(_._1).max
      (q.name, headline, passes.map(_._1), status, perPass)
    }
    val qs = results
      .map { case (k, v, _, _, _) => "\"" + k + f"""\":$v%.4f""" }
      .mkString("{", ",", "}")
    val allPasses = results
      .map { case (k, _, ps, _, _) =>
        "\"" + k + "\":" + ps.map(p => f"$p%.4f").mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    val statuses = results
      .map { case (k, _, _, st, _) => "\"" + k + "\":\"" + st + "\"" }
      .mkString("{", ",", "}")
    val hashes = results
      .map { case (k, _, _, _, _) =>
        "\"" + k + "\":\"" + planHashes.getOrElse(k, "err") + "\""
      }
      .mkString("{", ",", "}")
    val ioStats = results
      .map { case (k, _, _, _, ip) =>
        val mb = ip.map(_ / 1048576.0)
        "\"" + k + "\":" +
          f"""{"input_mb":${mb(0)}%.3f,"shuffle_read_mb":${mb(1)}%.3f,"shuffle_write_mb":${mb(2)}%.3f}"""
      }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // subtotals so deep history stays one-glance comparable: the legacy
    // 15 (r7–r12 headline set, hashes stable since r7/r10) vs the LLM
    // flagships added in r13 — split by query number (every r13+
    // addition is >= q144), so the sets track the registry automatically
    // toIntOption: a future headline whose name is not q<digits> must
    // land in the "new" bucket, not kill the whole bench report
    def qNum(name: String): Int =
      name.drop(1).takeWhile(_.isDigit).toIntOption.getOrElse(Int.MaxValue)
    val legacySubtotal =
      results.filter(r => qNum(r._1) < 144).map(_._2).sum
    val new5Subtotal =
      results.filter(r => qNum(r._1) >= 144).map(_._2).sum
    val overall = if (results.exists(_._4 == "err")) "err" else "ok"
    // The driver tail-captures stdout: BENCH_r07.json came back parsed:null
    // because this line outgrew its window once passes/plan_hash/io joined
    // it. The stdout contract is therefore COMPACT (total + per-query min +
    // overall status only); the full diagnostics go to a sidecar file whose
    // path is announced on stderr.
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "/tmp/graft_bench_detail.json")
    val detail =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","legacy15_sec":$legacySubtotal%.4f,"new5_sec":$new5Subtotal%.4f,"queries":$qs,"passes":$allPasses,"status":$statuses,"plan_hash":$hashes,"io":$ioStats,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detail) finally w.close()
      System.err.println(s"[bench] detail written to $detailPath")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] detail write failed ($detailPath): $e")
    }
    println(
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"status":"$overall","sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._4 == "err")) sys.exit(1)
  }
}
