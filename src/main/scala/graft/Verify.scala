package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import Bench.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Stall-proof by construction: `oracle_sql.json` is written BEFORE the query
  * loop, every query's parquet is flushed as it completes, and a status line is
  * appended to `_verify_status.jsonl` per query — so a killed or timed-out run
  * still yields a correctness signal for everything that finished. Each query
  * additionally runs under a watchdog (`SPARK_GRAFT_QUERY_TIMEOUT`, sec,
  * default 600) that cancels its Spark job group rather than hanging the whole
  * dump, and an optional global budget (`SPARK_GRAFT_TIME_BUDGET`, sec) skips
  * the remaining queries once exceeded.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      // events.parquet carries TIMESTAMP(NANOS) which Spark4 otherwise rejects
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Oracle SQL first: a stall in any later query must not cost the round the
    // whole oracle map (round 4 failure mode: rc=124 → empty correctness file).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val statusPath = Paths.get(s"$outDir/_verify_status.jsonl")
    def status(line: String): Unit = {
      Files.writeString(statusPath, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      System.err.println(s"[verify] $line")
    }

    val budgetSec = sys.env.get("SPARK_GRAFT_TIME_BUDGET").map(_.toDouble)
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val watchdog = new java.util.Timer("verify-watchdog", true)

    // Dev convenience: SPARK_GRAFT_ONLY=q_a,q_b runs a subset (the driver
    // never sets it, so the gate always runs everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      if (budgetSec.exists(elapsed > _)) {
        status(s"""{"q":${jsonString(name)},"status":"skipped_budget"}""")
      } else {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        val cancel = new java.util.TimerTask {
          def run(): Unit = spark.sparkContext.cancelJobGroup(name)
        }
        watchdog.schedule(cancel, queryTimeoutSec * 1000)
        val qt0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val sec = (System.nanoTime() - qt0) / 1e9
          status(f"""{"q":${jsonString(name)},"status":"ok","sec":$sec%.2f}""")
        } catch { case e: Throwable =>
          status(s"""{"q":${jsonString(name)},"status":"fail","err":${jsonString(e.toString.take(300))}}""")
        } finally {
          cancel.cancel()
          spark.sparkContext.clearJobGroup()
          // queries are independent; storage left behind by one (persisted
          // barriers, checkpoint blocks) must not leak into the next.
          // clearCache only drops CacheManager entries — localCheckpoint
          // blocks are plain RDD persists and need the explicit sweep.
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        }
      }
    }
    spark.stop()
  }
}
