package graft

/** Dev tool (r18 optimization round): dump `.explain("formatted")` for a
  * set of declared queries into per-query text files — the before/after
  * plan evidence `plans/r18/` commits alongside OPTIMIZATION_r18.md.
  * Same [[Session]] shape as Bench, so the captured static plans are the
  * ones the bench actually runs.
  *
  * Usage: graft.PlanDump <sfDir> <outDir> <q1,q2,...> [suffix]
  *   writes <outDir>/<query><suffix>.txt  (suffix e.g. "_before")
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <q1,q2,...> [suffix]")
      sys.exit(1)
    }
    val Array(sfDir, outDir, csv) = args.take(3)
    val suffix = if (args.length > 3) args(3) else ""
    val spark = Session.local(Session.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = SparkEntry.queries
    csv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      require(qs.contains(name), s"unknown query: $name")
      val df = qs(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), txt)
      spark.catalog.clearCache()
      println(s"[plandump] $name -> $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
