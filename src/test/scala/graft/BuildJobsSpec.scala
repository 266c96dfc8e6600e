package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** Building a query's DataFrame should cost metadata, not Spark jobs:
  * fixture schemas are declared in `Tables`, so the only build-time job
  * a fixture read may run is the `events.ts` flavor probe. A listener
  * counts the jobs that start while a query function builds (nothing
  * is drained). */
class BuildJobsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private def fixtureViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet.intersect(Tables.names.toSet)

  /** Jobs started while `name` builds, and the fixture views it left
    * registered (all fixture views are dropped first). */
  private def build(name: String): (Int, Set[String]) = {
    val sc = spark.sparkContext
    Tables.names.foreach(spark.catalog.dropTempView)
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, SparkSpec.sfDir)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, fixtureViews)
  }

  test("sql_* queries build without a job unless they read events") {
    val over = SparkEntry.queries.keys.filter(_.startsWith("sql_")).toSeq
      .sorted.flatMap { name =>
        val (jobs, views) = build(name)
        val budget = if (views("events")) 1 else 0
        if (jobs > budget) Some(s"$name: $jobs jobs (budget $budget)")
        else None
      }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("sql_tpch_q6 registers only the lineitem view") {
    assert(build("sql_tpch_q6")._2 == Set("lineitem"))
  }

  test("DataFrame ops over declared fixtures build without a job") {
    Seq("join_multiway", "agg_hash").foreach { name =>
      assert(build(name)._1 == 0, name)
    }
  }

  test("win_rolling_stats builds with at most the events ts probe") {
    val (jobs, _) = build("win_rolling_stats")
    assert(jobs <= 1, s"$jobs build jobs")
  }
}
