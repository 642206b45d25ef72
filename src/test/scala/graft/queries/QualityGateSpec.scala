package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The quality gate keeps every input column as it is, also one whose
  * name holds a dot or a backtick.
  */
class QualityGateSpec extends SparkSpec {
  import spark.implicits._

  test("a dotted or backticked column name passes the quality gate as itself") {
    val text = "every token here is a distinct word of this one document"
    val docs = Seq((1L, text, "web", "x"), (2L, "", "web", "y"))
      .toDF("doc_id", "text", "src.name", "a`b")
    val out = PipelineQueries.qualityGate(docs)
    assert(out.columns.toSeq ==
      Seq("doc_id", "text", "src.name", "a`b", "n_tokens", "diversity", "quality"))
    val rows = out.select(col("doc_id"), col("`src.name`"), col("`a``b`"), col("n_tokens"))
      .as[(Long, String, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "web", "x", 11.0)))
  }
}
