package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostics: write `explain("formatted")` of named gates to files —
  * the per-round plan-diff evidence (`plans/rNN/<gate>_{before,after}.txt`).
  *
  * `runMain graft.PlanDump <outDir> <suffix> <sfDir> <q1,q2,...|all>`
  *
  * Writes `<outDir>/<gate>_<suffix>.txt` per gate. Same session shape as
  * [[PlanAudit]] digest mode (AQE off) so before/after files are
  * comparable across commits: the static Catalyst plan is the artifact.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <outDir> <suffix> <sfDir> <q1,q2,...|all>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val dir = args(2)
    val spark = GraftSession.builder(4).master("local[4]")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs =
      if (args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    for (q <- qs) {
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"${q}_$suffix.txt"), txt.getBytes("UTF-8"))
        graft.pipeline.Checkpoints.free(df)
        System.err.println(s"[plandump] wrote ${q}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
