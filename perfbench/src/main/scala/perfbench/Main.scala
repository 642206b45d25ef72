package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import graft.queries.Registry

/** Runs one workload and writes a run record (host, set-up times, every
  * op with its phases and checks, and in a traced run the job and stage
  * spans) as JSON. `perfbench/run.py` builds this, launches it and turns
  * the record into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file>
  *        Main --record <verify dump dir> --data <dir> --work <dir>
  */
object Main {

  /** The session the repository's `graft.Bench` builds, minus its
    * environment overrides; `spark.local.dir` and the warehouse are
    * placed under the work directory by `session`.
    */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    "spark.ui.enabled" -> "false")

  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupReps = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val data = Paths.get(o("data")).toAbsolutePath
    val work = Paths.get(o("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, work)
    try {
      if (o.contains("record")) record(spark, data, Paths.get(o("record")))
      else run(spark, o, data, work, cpus)
    } finally spark.stop()
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
    confs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(spark: SparkSession, o: Map[String, String], data: Path,
      work: Path, cpus: Int): Unit = {
    val sc = spark.sparkContext
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w = Workload(o("workload"), spark, seed, data, work)
    val setupS = (1 to SetupReps).map { _ =>
      release(spark, Set.empty, 0L)
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val floorIds = sc.getPersistentRDDs.keySet.toSet
    val floorBytes = BenchAccess.rddBlockBytes(sc)

    val tracer = new Tracer
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    w.warmup.zipWithIndex.foreach { case (op, i) =>
      ops += runOp(spark, op, s"w.$i", -1, false, floorIds, floorBytes)
    }
    // a traced run records spans for every timed op; the tracing overhead
    // is its result against an untraced run of the same workload
    if (trace) sc.addSparkListener(tracer)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    while (r < w.maxRounds && (r < w.minRounds || elapsed < seconds)) {
      w.round(r).zipWithIndex.foreach { case (op, i) =>
        ops += runOp(spark, op, s"r$r.$i", r, trace, floorIds, floorBytes)
      }
      r += 1
    }
    val measuredS = elapsed
    if (trace) {
      BenchAccess.drainListeners(sc)
      sc.removeSparkListener(tracer)
    }

    val record = Map(
      "host" -> Map(
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "confs" -> confs(cpus).toMap),
      "workload" -> o("workload"), "seed" -> seed, "trace" -> trace,
      "inputs" -> w.inputs,
      "skipped" -> w.skipped.map { case (q, why) => Map("name" -> q, "reason" -> why) },
      "session_s" -> sessionS, "setup_s" -> setupS,
      "measured_s" -> measuredS, "rounds" -> r,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> ops,
      "jobs" -> tracer.jobs, "stages" -> tracer.stages)
    Files.writeString(Paths.get(o("out")), json.writeValueAsString(record))
  }

  private def runOp(spark: SparkSession, op: Op, id: String, round: Int,
      traced: Boolean, floorIds: Set[Int], floorBytes: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val p = new Phases(spark)
    sc.setJobGroup(id, op.kind, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val check = Try(op.run(p))
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val cacheBytes = BenchAccess.rddBlockBytes(sc) - floorBytes
    val out = check.flatMap(f => Try(f())) match {
      case Success(x) => x
      case Failure(e) => Outcome(0L, 0L, 0L, Some(e.toString))
    }
    val left = release(spark, floorIds, floorBytes)
    val error = out.error.orElse(
      if (left > 0) Some(s"${op.kind} left $left bytes cached after release")
      else None)
    error.foreach(e => System.err.println(s"[perfbench] op $id ${op.kind} FAILED: $e"))
    Map("id" -> id, "kind" -> op.kind, "role" -> op.role, "round" -> round,
      "traced" -> traced,
      "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
      "phases" -> p.marks.map { case (n, s, e) =>
        Map("name" -> n, "start_ms" -> s, "end_ms" -> e) },
      "read_rows" -> out.readRows,
      "write_rows" -> out.writeRows, "bytes_out" -> out.bytesOut,
      "cache_bytes" -> cacheBytes, "cache_left_bytes" -> left,
      "error" -> error.orNull)
  }

  /** Drops every cache and local checkpoint an op created, keeping the
    * set-up's (`keep`), and waits for the blocks to go. Returns the RDD
    * block bytes still held above the set-up floor.
    */
  def release(spark: SparkSession, keep: Set[Int], floorBytes: Long): Long = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = BenchAccess.rddBlockBytes(sc) - floorBytes
    while (left > 0 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      left = BenchAccess.rddBlockBytes(sc) - floorBytes
    }
    left
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  /** Writes `expected_sf0.01.json` into `data`: each input table's row
    * count and md5, and each headline query's row count and checksum as
    * read from a `graft.Verify` dump (which `tools/check.py` compares
    * with the DuckDB oracle). Fails unless a fresh execution of every
    * query gives the same checksum as its dump.
    */
  private def record(spark: SparkSession, data: Path, dumps: Path): Unit = {
    val sfDir = data.resolve("sf0.01")
    val tables = Files.list(sfDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".parquet")).map { f =>
        Expected.tableOf(f.toString) ->
          ((Expected.parquetRows(spark, f), Expected.md5Of(f)))
      }.toMap
    val queries = Registry.headlines
      .filterNot(q => HeadlineQueries.Skipped.contains(q.name)).map { q =>
        val dumped = Checksum.of(spark.read.parquet(dumps.resolve(q.name).toString).collect())
        val live = Checksum.of(q.run(spark, sfDir.toString).collect())
        spark.catalog.clearCache()
        require(dumped == live, s"${q.name}: dump $dumped != live $live")
        System.err.println(s"[perfbench] ${q.name} $live")
        q.name -> dumped
      }.toMap
    Files.writeString(data.resolve("expected_sf0.01.json"),
      Expected.render(tables, queries))
  }
}
