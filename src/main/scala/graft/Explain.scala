package graft

import graft.core.Session
import graft.queries.Registry

/** Plan inspector: prints the formatted physical plan of the named
  * queries (or all headlines) so pushdown/broadcast/codegen can be
  * audited. Usage: Explain [sfDir] [query names...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq else Registry.headlines.map(_.name)
    // Bench's session, so the dumped plans are the plans the bench
    // actually times.
    val spark = Session(confs = Session.headline)
    // SPARK_GRAFT_PLAN_OUT=<dir> additionally writes each query's
    // formatted plan to <dir>/<name>.txt (the OPTIMIZATION_r{N}
    // before/after evidence files).
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = Registry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(txt)
      outDir.foreach { d =>
        val w = new java.io.PrintWriter(s"$d/$n.txt", "UTF-8")
        try w.println(txt) finally w.close()
      }
    }
    spark.stop()
  }
}
