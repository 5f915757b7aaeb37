package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Dev-side stage profiler for the `pipeline_curate` capstone (not part of
  * the driver contract, not CI): times each stage's MARGINAL cost at sf0.1
  * (each stage consumes its predecessors' pinned frames, so the deltas sum
  * to the end-to-end wall-clock) and A/Bs the pin strategy —
  * persist(MEMORY_AND_DISK) (the declared path: keeps lineage for fault
  * recovery) vs localCheckpoint (truncates lineage; what r6 shipped).
  * Results are recorded in BASELINE.md ("pipeline_curate stage costs").
  * Run on an OTHERWISE-IDLE host (Bench protocol): `sbt compile` then
  * plain java with the bench classpath, class graft.CurateProfile.
  */
object CurateProfile {

  private def t[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt
    val spark = Session.local(Session.cpus)
    spark.read.parquet(s"$sf/documents.parquet").count() // footer warmup

    def staged(pin: DataFrame => DataFrame): Map[String, Double] = {
      val fr = ops.Curation.curateStages(spark, sf, pin)
      val m = scala.collection.mutable.LinkedHashMap[String, Double]()
      m("s1_quality_exact_dedup") = t(fr.exact.count())
      m("s2_minhash_edges") = t(fr.edges.count())
      m("s3_cc_collapse") = t(fr.kept.count())
      m("s4_train_pin") = t(fr.train.count())
      m("s5_decontaminate") = t(fr.contam.count())
      m("s6_split_aggregate") = t(fr.result.count())
      spark.catalog.clearCache()
      m.toMap ++ Map("total" -> m.values.sum)
    }

    def endToEnd(pin: DataFrame => DataFrame): Double = {
      val sec = t(ops.Curation.curateStages(spark, sf, pin).result.count())
      spark.catalog.clearCache()
      sec
    }

    val persistPin: DataFrame => DataFrame =
      _.persist(StorageLevel.MEMORY_AND_DISK)
    val lcPin: DataFrame => DataFrame = _.localCheckpoint()

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    // stage table under the declared (persist) strategy
    val stageRuns = (1 to runs).map(_ => staged(persistPin))
    val stages = stageRuns.head.keys.toSeq.map { k =>
      k -> med(stageRuns.map(_(k)))
    }
    stages.foreach { case (k, v) => println(f"""{"stage":"$k","sec":$v%.3f}""") }

    // end-to-end A/B: persist vs localCheckpoint, interleaved
    val ab = (1 to runs).map(_ => (endToEnd(persistPin), endToEnd(lcPin)))
    println(f"""{"metric":"curate_ab","persist_sec":${med(ab.map(_._1))}%.3f,""" +
      f""""localCheckpoint_sec":${med(ab.map(_._2))}%.3f,"runs":$runs,"sf":"$sf"}""")
    spark.stop()
  }
}
