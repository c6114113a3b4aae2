package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Dev tool: dump formatted plans for representative queries so the
  * pushdown/broadcast/codegen audit (SURVEY §6) is reviewable. Each
  * query then runs once and graft's own physical operators
  * (graft.plans.*) print their SQL metrics. */
object Explain extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q1_agg", "q3_join", "gt_topk_cosine", "dedup_minhash", "simhash_ann",
                  "ivf_search")
    val spark = Tables.session("graft-explain", "4")
    for (n <- names) {
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      df.collect()
      collect(df.queryExecution.executedPlan) {
        case p if p.getClass.getName.startsWith("graft.plans.") => p
      }.foreach { p =>
        println(s"${p.nodeName} metrics: " + p.metrics.toSeq.sortBy(_._1)
          .map { case (k, m) => s"${m.name.getOrElse(k)}=${m.value}" }.mkString(", "))
      }
    }
    spark.stop()
  }
}
