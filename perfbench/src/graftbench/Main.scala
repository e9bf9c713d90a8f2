package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import graft.core.Chain

/** Closed-loop, one-client benchmark of graft through its public surface.
  *
  *   --workload reference_batch|llm_pipeline|transpile  --seed N
  *   --seconds S  --trace 0|1  --data DIR  --work DIR  --lists DIR
  *   --pins FILE  [--pin-out FILE]
  *
  * Set-up (`setup_s`, from JVM start) builds the session and runs one
  * untimed warm-up pass. The timed phase then runs whole passes, each in
  * an order drawn from the seed, until `--seconds` have elapsed and at
  * least [[MinPasses]] passes (per mode, in trace mode) are done. Every
  * output of every pass is checked. The last stdout line is the result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, lists: String, pins: String,
                        pinOut: Option[String]) {
    val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  }

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("lists"), need("pins"), m.get("pin-out"))
  }

  /** One execution of a [[Work]]: its latency, check verdict and counts. */
  final case class Result(name: String, latency: Double, error: Option[String],
                          output: String, rddsLeft: Int, memLeftB: Long,
                          sqlBytes: Long = 0, steps: Int = 0, stepsNoSql: Int = 0)

  val QueryTimeoutMs = 120000L
  /** Timed passes per run, at least: one pass of a few queries is too noisy. */
  val MinPasses = 2

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(o.work))
    val works = workList(o)
    val pins = Pins.load(o.pins)
    val order = new Random(o.seed)

    // ---- set-up: session build + one untimed, checked warm-up pass
    val spark = session(o)
    val bench = new Runner(spark, o, pins)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (o.pinOut.nonEmpty) {
      // pin mode: one pass in list order, every output recorded
      Pins.write(o.pinOut.get, works.map(bench.run(_, 0, check = false)))
      spark.stop()
      return
    }
    val warm = order.shuffle(works).map(bench.run(_, 0, check = true, semantic = true))
    bench.reportFailures(warm, "warm-up")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[graftbench] set-up $setupS%.3f s: session ready at $sessionS%.3f s, warm-up pass ${setupS - sessionS}%.3f s")

    // ---- timed passes (trace mode alternates untraced and traced passes)
    val timed = ArrayBuffer.empty[(Boolean, Double, Seq[Result])]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var pass = 0
    while (pass < (if (o.trace) 2 * MinPasses else MinPasses) || elapsed < o.seconds) {
      pass += 1
      val traced = o.trace && pass % 2 == 0
      val p0 = System.nanoTime()
      val rs = bench.withTracing(traced) { order.shuffle(works).map(bench.run(_, pass, check = true)) }
      timed += ((traced, (System.nanoTime() - p0) / 1e9, rs))
    }
    val plain = timed.filterNot(_._1)
    val results = plain.flatMap(_._3)
    bench.reportFailures(timed.flatMap(_._3).toSeq, "timed")
    val failures = (warm ++ timed.flatMap(_._3)).filter(_.error.nonEmpty)
    val lat = results.filter(_.error.isEmpty).map(_.latency).sorted.toSeq
    val qps = results.count(_.error.isEmpty) / plain.map(_._2).sum
    val heapMb = {
      // queued listener events still hold job and stage data, and Spark's
      // ContextCleaner frees unreachable broadcast blocks only after a GC
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      System.gc()
      Thread.sleep(1000)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    Files.write(Paths.get(o.work, "latencies.tsv"), timed.zipWithIndex.flatMap { case ((tr, _, rs), i) =>
      rs.map(r => s"${i + 1}\t${if (tr) 1 else 0}\t${r.name}\t${r.latency}\t${r.error.getOrElse("")}")
    }.mkString("pass\ttraced\tquery\tlatency_s\terror\n", "\n", "\n").getBytes("UTF-8"))
    val p80n = lat.size - math.ceil(lat.size * 0.8).toInt
    System.err.println(f"[graftbench] ${o.workload}: ${plain.size} timed passes, ${lat.size} latency samples, $p80n beyond p80")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("queries_per_s", qps, "1/s"),
        ("latency_p50_s", Stats.quantile(lat, 0.5), "s"),
        ("latency_p80_s", Stats.quantile(lat, 0.8), "s"),
        ("driver_heap_mb", heapMb, "MB"))
      else {
        val tracedPasses = timed.filter(_._1)
        val tracedQps = tracedPasses.flatMap(_._3).count(_.error.isEmpty) / tracedPasses.map(_._2).sum
        val layer = bench.layerMetrics(tracedPasses.flatMap(_._3).toSeq, tracedPasses.size)
        val kernels = Kernels.run(spark, o.data)
        bench.writeSpans(Paths.get(o.work, s"spans_${o.workload}_seed${o.seed}.jsonl"))
        layer ++ kernels ++ Seq(
          ("trace.queries_per_s", tracedQps, "1/s"),
          ("trace.overhead_qps", tracedQps - qps, "1/s"))
      }
    spark.stop()

    val attempted = warm.size + timed.map(_._3.size).sum
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
      s""""metrics":{${body.mkString(",")}}}""")
  }

  def workList(o: Opts): Seq[Work] = {
    def list(n: String) =
      Files.readAllLines(Paths.get(o.lists, s"$n.txt")).toArray(Array.empty[String]).toSeq.map(_.trim).filter(_.nonEmpty)
    o.workload match {
      case "reference_batch" | "llm_pipeline" =>
        Work.registry(list(o.workload)).map { case (n, f) => Batch(n, f) }
      case "transpile" =>
        Work.registry(list("reference_batch") ++ list("llm_pipeline")).map { case (n, f) => PlanOnly(n, f) } ++
          Seq(8, 32, 128).map(d => Deep(s"chain_d$d", d, o.seed * 1000003L + d))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** The session `graft.Bench` builds, with scratch paths kept in `--work`. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the deep chains' rendered SQL reads `lineitem`; checking it runs on
    // this ~2k-row slice
    s.read.parquet(s"${o.data}/lineitem.parquet").where("l_orderkey < 500")
      .createOrReplaceTempView("lineitem")
    s
  }
}

/** Runs [[Work]] items on one session, timing each layer boundary. */
final class Runner(spark: SparkSession, o: Main.Opts, pins: Pins) {
  import Main.Result

  private val sc = spark.sparkContext
  private val watchdog = new java.util.Timer("graftbench-watchdog", true)
  private val tracer = new Tracer(sc)
  private var tracing = false
  private val deepSql = scala.collection.mutable.Map.empty[String, String]
  private val dbtDir = Paths.get(o.work, "dbt")

  def withTracing[T](on: Boolean)(body: => T): T = {
    if (on) { sc.addSparkListener(tracer); tracing = true }
    try body finally if (on) { tracer.drain(); sc.removeSparkListener(tracer); tracing = false }
  }

  private def phase[T](name: String, q: String, pass: Int, parent: Long)(body: Long => T): (T, Double) =
    if (tracing) { val (r, s) = tracer.span(name, q, pass, parent)(body); (r, s.seconds) }
    else { val t0 = System.nanoTime(); val r = body(0L); (r, (System.nanoTime() - t0) / 1e9) }

  private def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Run one work item. `check` compares its output with the pins;
    * `semantic` (Deep only) also executes the rendered SQL and compares it
    * with the chain's own result.
    */
  def run(w: Work, pass: Int, check: Boolean, semantic: Boolean = false): Result = {
    val name = w.name
    sc.setJobGroup(name, name, interruptOnCancel = true)
    val fired = new AtomicBoolean(false)
    val cancel = new java.util.TimerTask {
      def run(): Unit = { fired.set(true); sc.cancelJobGroup(name) }
    }
    watchdog.schedule(cancel, Main.QueryTimeoutMs)
    var latency = 0.0
    var frame: Option[DataFrame] = None
    def timed[T](layer: String, parent: Long)(body: => T): T = {
      val (r, s) = phase(layer, name, pass, parent)(_ => body)
      latency += s
      r
    }
    try {
      val (res, _) = phase("query", name, pass, 0L) { q =>
        val r = w match {
          case Batch(_, fn) =>
            val df = timed("chain.build", q)(fn(spark, o.data))
            frame = Some(df)
            val out = Fingerprint.attach(df)
            val qe = out.queryExecution
            timed("catalyst.plan", q)(qe.executedPlan)
            timed("exec.action", q)(execute(qe, name))
            val (rows, hash) = Fingerprint.read(out)
            Result(name, 0, None, s"$rows:$hash", 0, 0)
          case PlanOnly(_, fn) =>
            val df = timed("chain.build", q)(fn(spark, o.data))
            frame = Some(df)
            timed("catalyst.plan", q)(df.queryExecution.executedPlan)
            Result(name, 0, None, sha1(df.schema.toDDL), 0, 0)
          case Deep(_, depth, seed) =>
            val chain = timed("chain.build", q)(
              Work.deepChain(spark, spark.read.parquet(s"${o.data}/lineitem.parquet"), depth, seed))
            frame = Some(chain.df)
            timed("catalyst.plan", q)(chain.df.queryExecution.executedPlan)
            val sql = timed("render.sql", q)(chain.sql())
            timed("render.dbt", q)(chain.toDbt(dbtDir.resolve(name).toString, name))
            if (semantic) checkRendered(name, depth, seed, sql)
            Result(name, 0, None, sha1(sql), 0, 0, sql.getBytes("UTF-8").length.toLong,
              chain.steps.size, chain.steps.count(_.sqlText.isEmpty))
        }
        frame.foreach(df => phase("storage.release", name, pass, q)(_ => Chain.releaseCheckpoints(df)))
        r
      }
      val verdict = if (!check) None else w match {
        case _: Deep => deepSql.get(name) match {
          case Some(h) if h != res.output => Some(s"OutputMismatch: rendered SQL changed between passes")
          case None if !semantic => Some("OutputMismatch: rendered SQL was never checked")
          case _ => None
        }
        case _: Batch => pins.checkBatch(name, res.output)
        case _: PlanOnly => pins.checkSchema(name, res.output)
      }
      if (semantic && verdict.isEmpty) deepSql(name) = res.output
      storageAfter(res.copy(latency = latency, error = verdict))
    } catch { case e: Throwable =>
      val why = if (fired.get) s"WatchdogCancel: exceeded ${Main.QueryTimeoutMs / 1000}s"
                else s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
      storageAfter(Result(name, latency, Some(why), "", 0, 0))
    } finally {
      cancel.cancel()
      sc.clearJobGroup()
    }
  }

  /** Run a planned query to completion, consuming every row, as one SQL
    * execution (the query is not planned again, unlike a `write` action).
    */
  private def execute(qe: QueryExecution, name: String): Unit =
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))

  /** Record what the query left persisted, then sweep it so the next
    * query starts clean.
    */
  private def storageAfter(r: Result): Result = {
    val left = sc.getPersistentRDDs
    val mem = sc.getRDDStorageInfo.map(_.memSize).sum
    spark.catalog.clearCache()
    left.values.foreach(_.unpersist(blocking = true))
    r.copy(rddsLeft = left.size, memLeftB = mem)
  }

  /** Check a deep chain's rendered SQL. Up to depth [[SemanticDepth]] the
    * chain is rebuilt over the 2k-row `lineitem` view: it must render the
    * same SQL, and executing that SQL must give the chain's own result.
    * Spark needs about 30 s to analyze the 128-CTE statement, so deeper
    * chains are only parsed; they come from the same op generator.
    */
  private def checkRendered(name: String, depth: Int, seed: Long, sql: String): Unit =
    if (depth > Runner.SemanticDepth) CatalystSqlParser.parsePlan(sql)
    else {
      val chain = Work.deepChain(spark, spark.table("lineitem"), depth, seed)
      if (chain.sql() != sql) throw new IllegalStateException("rendered SQL depends on the input frame")
      def fp(df: DataFrame): String = {
        val out = Fingerprint.attach(df)
        execute(out.queryExecution, name)
        val (rows, hash) = Fingerprint.read(out)
        s"$rows:$hash"
      }
      val viaChain = fp(chain.df)
      val viaSql = fp(spark.sql(sql))
      if (viaChain != viaSql)
        throw new IllegalStateException(s"rendered SQL computes $viaSql, the chain computes $viaChain")
    }

  def reportFailures(rs: Seq[Result], stage: String): Unit = {
    rs.filter(_.error.nonEmpty).foreach(r => System.err.println(s"[graftbench] FAIL ($stage) ${r.name}: ${r.error.get}"))
    val leaks = rs.filter(_.rddsLeft > 0).map(r => s"${r.name}=${r.rddsLeft}").distinct
    if (leaks.nonEmpty) System.err.println(s"[graftbench] left persisted RDDs ($stage): ${leaks.mkString(" ")}")
  }

  /** Per-layer metrics over the traced passes, each per pass. */
  def layerMetrics(rs: Seq[Result], passes: Int): Seq[(String, Double, String)] = {
    val n = math.max(passes, 1).toDouble
    val spans = tracer.spans.toSeq
    def sum(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    def c(layer: String) = Option(tracer.counters.get(layer)).getOrElse(new Counters)
    val build = c("chain.build")
    val ex = c("exec.action")
    val actionS = sum("exec.action")
    val latency = rs.map(_.latency).sum / n
    val byParent = spans.groupBy(_.parent)
    val gap = spans.filter(_.name == "exec.action").map { s =>
      tracer.selfSeconds(s, byParent.getOrElse(s.id, Seq.empty).filter(_.name == "spark.job"))
    }.sum / n
    val self = tracer.selfByLayer()
    val steps = rs.map(_.steps).sum
    Seq(
      ("chain.build_s", sum("chain.build"), "s"),
      ("chain.build_jobs", build.jobs / n, "count"),
      ("chain.build_tasks", build.tasks / n, "count"),
      ("chain.build_share", if (latency > 0) sum("chain.build") / latency else 0.0, "ratio"),
      ("catalyst.plan_s", sum("catalyst.plan"), "s"),
      ("exec.action_s", actionS, "s"),
      ("exec.jobs", ex.jobs / n, "count"),
      ("exec.stages", ex.stages / n, "count"),
      ("exec.tasks", ex.tasks / n, "count"),
      ("exec.task_run_s", ex.taskRunMs / 1e3 / n, "s"),
      ("exec.task_cpu_s", ex.taskCpuNs / 1e9 / n, "s"),
      ("exec.cpu_util", if (actionS > 0) ex.taskCpuNs / 1e9 / n / (actionS * o.cpus) else 0.0, "ratio"),
      ("exec.shuffle_read_mb", ex.shuffleReadB / 1048576.0 / n, "MB"),
      ("exec.shuffle_write_mb", ex.shuffleWriteB / 1048576.0 / n, "MB"),
      ("exec.spill_mb", ex.spillB / 1048576.0 / n, "MB"),
      ("exec.gc_s", ex.gcMs / 1e3 / n, "s"),
      ("exec.input_rows", ex.inputRows / n, "count"),
      ("exec.tasks_failed", ex.tasksFailed / n, "count"),
      ("exec.driver_gap_s", gap, "s"),
      ("storage.rdds_left", rs.map(_.rddsLeft).sum / n, "count"),
      ("storage.mem_mb_left", rs.map(_.memLeftB).sum / 1048576.0 / n, "MB"),
      ("render.sql_s", sum("render.sql"), "s"),
      ("render.dbt_s", sum("render.dbt"), "s"),
      ("render.sql_kb", rs.map(_.sqlBytes).sum / 1024.0 / n, "KB"),
      ("render.steps_without_sql", if (steps > 0) rs.map(_.stepsNoSql).sum.toDouble / steps else 0.0, "ratio")
    ) ++ Seq("query", "chain.build", "catalyst.plan", "exec.action", "storage.release",
      "render.sql", "render.dbt", "spark.job").map(l => (s"self.${l}_s", self.getOrElse(l, 0.0) / n, "s"))
  }

  def writeSpans(path: java.nio.file.Path): Unit = tracer.write(path)
}

object Runner {
  val SemanticDepth = 32
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linearly interpolated quantile of sorted `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val pos = q * (xs.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, xs.size - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
