package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Chain, GraftSession}
import graft.ops._
import TestSpark._

/** Building a chain runs no Spark job: sources bound through
  * [[GraftSession.readParquet]] infer their schema once per file version,
  * and the ops below plan lazily. Jobs are counted within one job group,
  * so concurrently running suites cannot disturb the count.
  */
class ConstructionJobsSpec extends AnyFunSuite {

  /** Spark jobs `body` starts, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"construction-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      GraftListenerBus.drain(sc)
      (jobs.get, r)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** The registry queries of the benchmark's `reference_batch` workload. */
  private val referenceBatch = Seq("q_drop_columns", "q_substring", "q_filter", "q_join",
    "q_multi_union", "q_describe", "q_lag", "q_cumulative_agg", "q_sessionize",
    "q_datetrunc", "q_datespine", "q_target_encode", "q_bin_ntile",
    "q_flag_outliers_robust", "q_pivot")

  test("rebuilding the reference_batch queries runs no Spark job, except PrefixScan's") {
    referenceBatch.foreach { q =>
      Chain.releaseCheckpoints(SparkEntry.queries(q)(spark, sfDir))
    }
    val jobs = referenceBatch.map { q =>
      val (n, df) = jobsOf(SparkEntry.queries(q)(spark, sfDir))
      Chain.releaseCheckpoints(df)
      q -> n
    }.toMap
    // q_bin_ntile's PrefixScan folds partition boundaries while it is
    // built; that is the one construction job left (and shows the
    // counter counts)
    assert(jobs("q_bin_ntile") > 0, s"the job counter saw nothing: $jobs")
    val building = jobs.filter { case (q, n) => q != "q_bin_ntile" && n > 0 }
    assert(building.isEmpty, s"chain construction ran Spark jobs: $building")
  }

  test("describe runs no job beyond the first read of its source") {
    val dir = Files.createTempDirectory("graft_describe_jobs")
    Files.copy(Paths.get(s"$sfDir/part.parquet"), dir.resolve("part.parquet"))
    val path = dir.resolve("part.parquet").toString
    val (first, c) = jobsOf(Chain(spark, "part", GraftSession.readParquet(spark, path)).describeTable())
    assert(first == 1, s"first read + describe build ran $first jobs; only schema inference may run")
    val (again, _) = jobsOf(Chain(spark, "part", GraftSession.readParquet(spark, path)).describeTable())
    assert(again == 0, s"second describe build ran $again jobs")
    assert(c.df.count() == spark.read.parquet(path).columns.length)
  }

  test("a second datasetFromParquet of the same path runs no job") {
    val sess = GraftSession(spark)
    val path = s"$sfDir/supplier.parquet"
    sess.datasetFromParquet(path, "supplier_a")
    val (n, c) = jobsOf(sess.datasetFromParquet(path, "supplier_b"))
    assert(n == 0, s"the second bind ran $n jobs")
    assert(rows(c.df) == rows(spark.read.parquet(path)))
  }
}
