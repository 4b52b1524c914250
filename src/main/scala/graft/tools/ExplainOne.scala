package graft.tools

/** Writes one `<out_dir>/<query><suffix>.txt` formatted-plan file per named
  * query — the per-round before/after plan evidence
  * (`plans/rNN/<query>_{before,after}.txt`).
  * Usage: `runmain.sh graft.tools.ExplainOne <sfDir> <outDir> <suffix> <q1,q2,...>`.
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"$name$suffix.txt")
      java.nio.file.Files.writeString(p, plan)
      println(s"wrote $p (${plan.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
