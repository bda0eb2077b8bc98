package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.broadcast

/** The harness JVM. `perfbench/run.py` builds it, starts it once per
  * run and turns the raw record it writes into the reported metrics.
  *
  * One closed-loop client: each op starts when the previous one ends.
  * A query op is timed as declare (build the DataFrame through the
  * engine's public entry points), plan (`queryExecution.executedPlan`)
  * and execute: every row of that planned physical plan is consumed
  * and dropped, the work a `noop` write does, without a second planning
  * pass. `count()` is never the timed action: it lets Catalyst prune
  * most of a declared plan. */
object Main {
  private val SetupReps = 3
  val OpTimeoutS = 120L

  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, data: String, work: String,
                        expected: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null) = kv.getOrElse(k, Option(d).getOrElse(
      throw new IllegalArgumentException(s"missing --$k")))
    Args(get("mode", "run"), get("workload", ""), get("seed", "0").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1", get("cores").toInt,
      get("data"), get("work"), get("expected", ""), get("out"))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val record = try a.mode match {
      case "run" => run(spark, a) + ("session_ready_ms" -> sessionReadyMs)
      case "expected" => expected(spark, a)
      case "bridge" => Bridge.run(spark, a)
      case "selftest" => Map("selftest" -> Checks.selfTest(spark).toMap)
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    } finally spark.stop()
    json.writeValue(Paths.get(a.out).toFile, record)
  }

  def env(a: Args): Env = {
    val want: Map[String, Checks.Digest] =
      if (a.expected.isEmpty || !Files.exists(Paths.get(a.expected))) Map.empty
      else json.readValue(Paths.get(a.expected).toFile, classOf[Map[String, Map[String, Any]]])
        .map { case (k, v) => k -> Checks.Digest(v("rows").toString.toLong, v("digest").toString) }
    Env(a.data, a.work, a.seed, want)
  }

  private def expected(spark: SparkSession, a: Args): Map[String, Any] = {
    val e = env(a)
    val w = new QueryWorkload(spark, e, Workloads.Catalog)
    w.prepare(1)
    w.digests().map { case (k, d) => k -> Map("rows" -> d.rows, "digest" -> d.digest) }.toMap
  }

  private def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val runner = new Runner(spark)
    val wl = Workloads(a.workload, spark, env(a))
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val reps = (1 to SetupReps).map(r => timed(wl.prepare(r)))
    val warmPasses = (1 to wl.warmPasses).map { w =>
      timed {
        wl.beforePass()
        wl.ops(-w).zipWithIndex.foreach { case (op, i) => runner.run(op, s"w$w/$i", traced = false) }
        wl.afterPass()
      }
    }

    val tracer = if (a.trace) Some(new Tracer) else None
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val timingBeginMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 0
    // whole passes until the time is up, and never fewer than the
    // workload's floor; a traced run interleaves traced and untraced
    // passes (T U U T T U ...) so it can price the tracing itself without
    // favouring either side with a warmer JVM
    val floor = math.max(wl.minPasses, if (a.trace) 4 else 1)
    while (pass < floor || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      pass += 1
      val traced = a.trace && pass % 4 <= 1
      wl.beforePass()
      tracer.filter(_ => traced).foreach(spark.sparkContext.addSparkListener)
      val p0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val ps = wl.ops(pass).zipWithIndex.map { case (op, i) =>
        runner.run(op, s"p$pass/$i", traced) + ("pass" -> pass)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val endMs = System.currentTimeMillis()
      tracer.filter(_ => traced).foreach { t =>
        Bus.drain(spark.sparkContext, 30000L)
        spark.sparkContext.removeSparkListener(t)
      }
      samples ++= ps
      wl.afterPass()
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> endMs) ++ wl.passFacts()
    }
    val timingEndMs = System.currentTimeMillis()
    val checks = mutable.ArrayBuffer.empty[Check]
    val checkS = timed(checks ++= wl.check())

    val failedChecks = checks.filterNot(_.ok).map(_.key).toSet
    val marked = samples.map(s => s + ("check_failed" -> failedChecks.contains(s("check_key").toString)))

    // The last executed query stays reachable after it ends, and with it
    // any broadcast it built; run a fixed tiny one so that the retained
    // heap does not depend on which op the seed put last. Spark's cleaner
    // drops broadcast and shuffle state only after a GC has collected its
    // owners, so settle twice and keep the least.
    runner.consume(spark.range(8).join(broadcast(spark.range(8)), "id"))
    val rt = Runtime.getRuntime
    val heapMb = (1 to 2).map { _ =>
      System.gc(); Thread.sleep(250)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min

    val traceOut: Map[String, Any] = tracer match {
      case Some(t) =>
        val (jobs, stages) = t.export()
        Map("jobs" -> jobs, "stages" -> stages,
          "kernels" -> Kernels.run(spark, a.data, runner.consume))
      case None => Map.empty
    }
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql") ||
        k == "spark.master" || k == "spark.driver.memory" },
      "spark_version" -> spark.version,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "setup_reps_s" -> reps, "warm_passes_s" -> warmPasses, "check_s" -> checkS,
      "ops_per_pass" -> wl.ops(0).size, "min_passes" -> wl.minPasses,
      "timing_begin_ms" -> timingBeginMs, "timing_end_ms" -> timingEndMs,
      "checks" -> checks.toSeq.map(c => Map("key" -> c.key, "ok" -> c.ok, "detail" -> c.detail)),
      "samples" -> marked.toSeq, "passes" -> passes.toSeq,
      "heap_retained_mb" -> heapMb, "facts" -> wl.facts()) ++ traceOut
  }
}

/** Runs one op in phases and returns its sample. */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Consumes every row of the planned physical plan and returns the
    * row count, inside an SQL execution like any Dataset action. */
  def execute(qe: QueryExecution): Long =
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.count())

  def consume(df: DataFrame): Long = execute(df.queryExecution)

  def run(op: Op, span: String, traced: Boolean): Map[String, Any] = {
    val group = s"perfbench/$span"
    sc.setJobGroup(group, op.name, interruptOnCancel = true)
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, Main.OpTimeoutS, TimeUnit.SECONDS)
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
    def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty(Tracer.SpanKey, s"$span/$name")
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body finally phases += ((name, t0, System.nanoTime(), ms, System.currentTimeMillis()))
    }
    var rows = -1L
    var nodes = -1L
    var outputRowsSum = -1L
    var filesRead = -1L
    val error = try {
      op match {
        case q: QueryOp =>
          val df = phase("declare")(q.declare())
          val qe = df.queryExecution
          val plan = phase("plan")(qe.executedPlan)
          if (traced) nodes = PlanStats.nodes(plan)
          rows = phase("exec")(execute(qe))
          if (traced) {
            outputRowsSum = PlanStats.metricSum(qe.executedPlan, "numOutputRows")
            filesRead = PlanStats.metricSum(qe.executedPlan, "numFiles")
          }
        case w: WriteOp => phase("exec")(w.run())
      }
      ""
    } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      cancel.cancel(false)
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.SpanKey, null)
    }
    // Off the clock: let Spark's listener bus finish the events of this
    // op, so that the next op does not pay for them. Left running, that
    // work lands on whichever op the seed's order puts next.
    val s0 = System.nanoTime()
    Bus.drain(sc, 30000L)
    val settleS = (System.nanoTime() - s0) / 1e9
    def secs(name: String) = phases.find(_._1 == name).map(p => (p._3 - p._2) / 1e9).getOrElse(0.0)
    Map("op" -> op.name, "check_key" -> op.checkKey, "span" -> span, "traced" -> traced,
      "kind" -> (op match { case _: QueryOp => "query"; case _ => "write" }),
      "declare_s" -> secs("declare"), "plan_s" -> secs("plan"), "exec_s" -> secs("exec"),
      "phases" -> phases.toSeq.map(p => Map("name" -> p._1, "start_ms" -> p._4, "end_ms" -> p._5,
        "s" -> (p._3 - p._2) / 1e9)),
      "rows" -> rows, "plan_nodes" -> nodes, "output_rows_sum" -> outputRowsSum,
      "files_read" -> filesRead, "settle_s" -> settleS, "error" -> error)
  }
}
