package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session

/** Pins the conf profiles the mains get from `core.Session`, the
  * SPARK_GRAFT_CONF grammar and which of its pairs apply, without
  * building a second SparkContext.
  */
class SessionSpec extends AnyFunSuite {

  test("the headline profile is the conf set perfbench/README.md documents for Bench") {
    // AQE stays on as the Spark default; master, shuffle partitions,
    // UTC and UI-off are set by the builder itself
    assert(Session.headline.toMap == Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.files.openCostInBytes" -> "131072",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "67108864"))
    assert(Session.headline.size == Session.headline.toMap.size)
  }

  test("Verify's profile is the headline one minus the OHA fallback and the broadcast threshold") {
    assert(Session.verify.toMap == Session.headline.toMap --
      Seq("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "spark.sql.autoBroadcastJoinThreshold"))
  }

  test("SPARK_GRAFT_CONF parsing trims, keeps '=' inside values and drops malformed entries") {
    assert(Session.parseConf("k=v; k2 = v2;;bad;=x;k3=a=b") ==
      Seq("k" -> "v", "k2" -> "v2", "k3" -> "a=b"))
    assert(Session.parseConf("") == Nil)
  }

  test("SPARK_GRAFT_CONF applies runtime SQL confs and reports the rest as skipped") {
    // a child session: its own SQL conf over the shared SparkContext
    val conf = SparkSpec.session.newSession().conf
    val removedKnobs = Seq(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "32k",
      "spark.sql.files.openCostInBytes" -> "65536",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
      "spark.sql.shuffle.partitions" -> "7")
    val lines = Session.applyConf(conf, ("spark.master" -> "local[9]") +: removedKnobs)
    assert(lines.head == "skipped spark.master: not a runtime SQL conf")
    assert(lines.tail == removedKnobs.map { case (k, v) => s"$k=$v" })
    removedKnobs.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.sql.shuffle.partitions") == "7")
    assert(SparkSpec.session.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
