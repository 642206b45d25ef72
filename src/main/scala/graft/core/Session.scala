package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{RuntimeConfig, SparkSession}

/** The one SparkSession set-up every graft main uses (Bench, Verify,
  * Explain and the macro benches). Specs keep their own fixed session
  * (`SparkSpec`), which reads none of the environment below.
  *
  * Environment:
  *  - SPARK_GRAFT_CPUS: local cores (default: the host's processor
  *    count); shuffle partitions are a per-main multiple of it;
  *  - SPARK_GRAFT_CONF="k=v;k2=v2": extra runtime SQL confs, applied
  *    after the main's own confs (see `parseConf`);
  *  - SPARK_GRAFT_STAGE_DEBUG=1: every completed stage of 50 ms or more
  *    on stderr.
  */
object Session {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS=$s is not a positive integer"))
  }

  // Parallelism floors for compute-dense-per-byte stages (r20 opt
  // round, measured): the curation/dedup kernels (tokenize + 64-hash
  // MinHash + gram builds) are orders of magnitude more CPU per byte
  // than a relational scan, and BOTH default floors collapsed them to
  // 1-2 tasks at sf0.1 — AQE coalesces post-shuffle partitions down
  // to minPartitionSize (default 1m > the whole shuffled corpus), and
  // FilePartition floors the input split at openCostInBytes (default
  // 4m > the whole parquet file). q147 2.2→1.5 s, q214 2.9→1.9 s,
  // q47 0.9→0.6 s; all 22 plan hashes bit-identical (runtime-only).
  // Scale posture: both floors are inert at cluster scale (any
  // partition over 64 KB / input split over ~4 MB behaves as before);
  // they matter exactly when a heavy kernel sits downstream of a
  // small-byte stage — tiny-SF benches and post-filter tails alike.
  private val floors = Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.files.openCostInBytes" -> "131072")

  // ObjectHashAggregate falls back to SORT-based aggregation past a
  // GROUP-COUNT threshold whose default (128) is pathologically
  // conservative for the flood ensemble aggregations: q60 groups
  // ~8k grid cells whose collect_list buffers total exactly the
  // partition's input bytes either way, but the fallback pays a
  // full per-partition sort + per-group buffer ser/deser (measured:
  // q60 1.84 → 1.00 s at sf0.1). Memory posture at scale: hash-mode
  // object buffers are bounded by the partition's own value bytes —
  // the same bytes the sort buffer would hold — so the group-count
  // cap is the wrong guard for value-accumulating buffers; 64k
  // groups keeps a sane cap for genuinely huge-cardinality keys.
  // SEMANTICS PRECONDITION (r20 advice): hash mode and the sort
  // fallback can feed an object-agg buffer its within-group rows in
  // DIFFERENT orders, and Verify (the oracle-checked session)
  // deliberately omits this floor — so every headline object-agg
  // buffer must be ORDER-INSENSITIVE (current set: collect_list is
  // array_sort'ed downstream in FloodOps, sketch buffers are
  // commutative). Re-checked r21 by a full Verify pass at sf0.01
  // with SPARK_GRAFT_CONF setting this same floor: value-equal.
  // The promotion-time rule lives at queries/Q.scala.
  private val ohaFallback =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536"

  /** A 64 MB broadcast threshold: the default 10 MB would plan
    * SortMergeJoins for dimension sides the headline set broadcasts.
    */
  val broadcast64m: (String, String) =
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString

  /** The headline session: what Bench times and Explain prints. */
  val headline: Seq[(String, String)] = floors ++ Seq(ohaFallback, broadcast64m)

  /** The oracle-checked session: the floors (runtime-only, so pre-AQE
    * plan hashes and results are unaffected) but deliberately NO
    * objectHashAggregate fallback floor: hash-mode memory for
    * bounded-sketch aggregators is groups × buffer — q43's KMV buffers
    * OOM'd an 8g heap at sf0.1 under a 65536-group floor. That floor is
    * a per-workload setting, valid where the aggregation shapes are
    * known (the headline set: value-accumulating buffers whose hash-mode
    * memory equals the partition's own bytes). The broadcast threshold
    * stays at the default, which the committed plan baselines pin.
    */
  val verify: Seq[(String, String)] = floors

  /** Parses SPARK_GRAFT_CONF="k=v;k2=v2" into trimmed pairs, keeping
    * everything after a key's first '=' as its value and dropping
    * entries with no '=' or an empty key. Values containing ';' are
    * unrepresentable (the separator).
    */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  /** Sets each pair that is a runtime SQL conf of `conf` and returns one
    * line per pair: `k=v` when set, `skipped k: <why>` otherwise.
    * SPARK_GRAFT_CONF is a measurement hook (A/B of one runtime conf
    * without recompiling, or one oracle pass with a Bench-only floor), so
    * a pair it cannot apply is reported and skipped, never fatal. A core
    * key such as `spark.master` is skipped rather than set: `conf.set`
    * accepts it once the session runs, but it no longer has any effect.
    */
  def applyConf(conf: RuntimeConfig, pairs: Seq[(String, String)]): Seq[String] =
    pairs.map { case (k, v) =>
      if (!conf.isModifiable(k)) s"skipped $k: not a runtime SQL conf"
      else
        try { conf.set(k, v); s"$k=$v" }
        catch { case scala.util.control.NonFatal(e) => s"skipped $k: $e" }
    }

  /** `local[cpus]`, UTC, UI off, `cpus × partitionsPerCpu` shuffle
    * partitions, then `confs`, then SPARK_GRAFT_CONF; WARN logging.
    */
  def apply(partitionsPerCpu: Int = 1,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toLong * partitionsPerCpu)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    sys.env.get("SPARK_GRAFT_CONF").foreach { s =>
      applyConf(spark.conf, parseConf(s))
        .foreach(m => System.err.println(s"[session] SPARK_GRAFT_CONF $m"))
    }
    spark.sparkContext.setLogLevel("WARN")
    // Decide WHERE a slow run spends its time before touching it (guide
    // §1): the giveaway of a parallelism-starved stage is a heavy stage
    // with tasks=1-5. Opt-in diagnostics on stderr; stdout is unchanged.
    if (sys.env.contains("SPARK_GRAFT_STAGE_DEBUG"))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val ms = (for {
            a <- si.completionTime; b <- si.submissionTime
          } yield a - b).getOrElse(-1L)
          if (ms >= 50)
            System.err.println(
              f"[stage ${si.stageId}] ${ms / 1000.0}%6.2fs tasks=${si.numTasks}%4d " +
                s"${si.name.takeWhile(_ != '\n').take(110)}")
        }
      })
    spark
  }
}
