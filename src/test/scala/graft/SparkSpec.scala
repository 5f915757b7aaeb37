package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all suites (SURVEY.md §5.2). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  // One session for the whole forked test JVM — Spark startup is ~5s.
  // local[4]: the shape the committed plan snapshots (PLANSNAP*.json)
  // were taken at — PlanSnap's generator main passes the same 4.
  lazy val session: SparkSession = Session.local(4)
}
