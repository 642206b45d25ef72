package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec

/** The replay's per-batch debug dump holds every batch, also when the
  * query keeps fewer recent progress updates than it ran batches.
  */
class FileReplaySpec extends SparkSpec {
  import spark.implicits._

  test("the stream debug dump keeps batch 0 past the recent-progress cap") {
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val sel = (0 until 50).map { i =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + i * 60000L),
          (i % 7).toLong, "view", i * 0.5)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val srcDir = Files.createTempDirectory("graft_replay_dbg").resolve("src").toFile
      // 5 buckets + 2 sentinels: one file, and so one batch, each
      FileReplay.stageEventReplay(sel, srcDir)
      val lines = ArrayBuffer[String]()
      val out = FileReplay.runToTable(spark, srcDir, sel.schema, "graft_replay_dbg",
        debug = Some(l => lines.synchronized(lines += l)))(identity)
      assert(out.count() == 52)
      val batches = lines.toSeq.map(_.split(' ')(1))
      assert(batches == (0 until 7).map(b => s"batch=$b"), lines)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
