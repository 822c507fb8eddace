package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: write `.explain("formatted")` output for the given query names
  * to files, under the SAME session configuration as graft.Bench
  * (local[SPARK_GRAFT_CPUS], default 4; shuffle.partitions = cpus; AQE on)
  * so plan shapes match what the bench actually executes. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> [names...]
  * (default names: all queries)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r06"
    val names = if (args.length > 2) args.drop(2).toSeq else graft.Queries.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    for (n <- names) {
      val df = graft.Queries.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$n$suffix.txt"), plan)
      println(s"wrote $outDir/$n$suffix.txt (${plan.count(_ == '\n')} lines)")
    }
    spark.stop()
  }
}
