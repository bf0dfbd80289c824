package graft

/** Dump `explain("formatted")` for named SparkEntry queries to files —
  * the optimization rounds' before/after plan artifacts
  * (`plans/r<N>/<query>_<suffix>.txt`). The session is [[Bench]]'s
  * ([[GraftSession]] confs) so the dumped plan is the one the bench runs.
  * `runMain graft.PlanDump <outDir> <suffix> <sfDir> <query...>`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(parallelism = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
