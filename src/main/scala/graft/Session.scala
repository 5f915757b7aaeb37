package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape every main and the test fixture use:
  * `local[cpus]` with `cpus` shuffle partitions, UTC session time zone,
  * no UI, ERROR-level logging. Extra confs ride on top (SpillProbe's
  * `spark.memory.fraction`). Mains pass [[cpus]]; PlanSnap and the test
  * fixture pass 4, the shape the committed plan snapshots were taken at.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
