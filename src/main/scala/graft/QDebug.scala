package graft
/** Dev-only: run one named query (args: name [sfDir]) and show rows + plan. */
object QDebug {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session.local(Session.cpus)
    val df =
      if (name == "entry") SparkEntry.entry(spark)
      else SparkEntry.queries(name)(spark, sfDir)
    df.show(20, truncate = false)
    df.explain("formatted")
    // three timed runs (first includes codegen/JIT warmup)
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      df.count()
      println(f"TIMED run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
