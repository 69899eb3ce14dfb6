package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Cell

object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("4")
}

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def cells(cs: Seq[Cell]): Dataset[Cell] = {
    import spark.implicits._
    spark.createDataset(cs)
  }

  /** Spark jobs `f` submits from this thread, counted through a job
    * group (so a parallel suite's jobs on the shared context never
    * count) once the asynchronous listener bus has settled. */
  def jobsOf(f: => Unit): Int = {
    val group = s"jobsof-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == js.properties.getProperty("spark.jobGroup.id"))
          n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "SparkSpec.jobsOf")
    try {
      f
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }

  /** (rowString, familyString, qualifierString, ts, valueString) tuples of a
    * resolved cell frame — convenient for assertions. */
  def collectCells(df: DataFrame): Set[(String, String, String, Long, String)] = {
    df.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("row"), "UTF-8"),
        r.getAs[String]("family"),
        new String(r.getAs[Array[Byte]]("qualifier"), "UTF-8"),
        r.getAs[Long]("ts"),
        Option(r.getAs[Array[Byte]]("value")).map(new String(_, "UTF-8")).orNull)
    }.toSet
  }
}
