package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan of selected queries (args =
  * query names; default = every headline QueryDef, the bench set) for
  * shuffle / pushdown / codegen review. SPARK_GRAFT_EXEC=1 additionally
  * EXECUTES each query and prints the final adaptive plan — under AQE,
  * exchange reuse (ReusedExchange/stage cache) only appears at runtime, so
  * a static dump over-counts scans for shared-lineage plans.
  *
  * Usage: scripts/probe.sh graft.tools.PlanAudit [names...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    // default 4 for quick shape reads; set SPARK_GRAFT_CPUS=32 to audit
    // the BENCH session shape (AQE decisions are partition-count sensitive)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // allDefs, not queries: headline-only twins (gate = false) are
    // bench rows too and need plan audits (r13)
    val defs = if (args.isEmpty) SparkEntry.allDefs.filter(_.headline)
      else args.toSeq.map(n => SparkEntry.allDefs.find(_.name == n)
        .getOrElse(sys.error(s"no such query: $n")))
    defs.foreach { d =>
      println(s"\n========== ${d.name} ==========")
      val df = d.build(spark, sfDir)
      if (exec) {
        // collect() drives df's OWN QueryExecution so the printed plan is
        // the FINALIZED adaptive one (a noop write would execute a copy)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
