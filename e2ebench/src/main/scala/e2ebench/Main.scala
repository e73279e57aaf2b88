package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.operators.Dedup

/** One run of one workload in a fresh JVM.
  *
  * set up (5×, median) → first pass (cold) → untimed warm-up passes until
  * two in a row agree → timed passes for `--seconds` → untimed correctness
  * gate. Every pass starts with `Dedup.releaseCaches`, so each pass does the
  * same work, and no pass forces a GC. With `--trace 1` the instruments of
  * [[Probes]] are registered and timed passes alternate traced / untraced,
  * so the tracing overhead is measured in the same process.
  *
  * Usage: e2ebench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --fixtures DIR --out FILE
  *        e2ebench.Main --dump-oracle FILE
  */
object Main {
  val SetUps = 5
  val MaxWarmUps = 2
  val WarmTolerance = 0.10
  val Layers = Seq("bench", "pipeline", "operators", "driver", "sources", "exec", "plan", "jvm")

  final case class OpResult(name: String, group: String, buildS: Double, execS: Double,
      error: Option[String]) {
    def totalS: Double = buildS + execS
  }

  final case class PassResult(traced: Boolean, wallS: Double, ops: Seq[OpResult],
      jvm: JvmCounters.Snap, heapMb: Double, counters: Option[Counters], spanId: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.get("dump-oracle") match {
      case Some(out) =>
        val sql = SparkEntry.oracleSql
        val json = Json.obj(SparkEntry.queries.keys.toSeq.sorted.map(q =>
          q -> sql.get(q).map(Json.str).getOrElse("null")))
        Files.writeString(Paths.get(out), json)
      case None =>
        val r = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
          Paths.get(a("work")), Paths.get(a("fixtures")))
        Files.writeString(Paths.get(a("out")), r.execute())
    }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    graft.SparkPosture(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  /** One benchmark run; `execute` returns the result document. */
  final class Run(workloadName: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, fixtures: Path) {
    private val cores = Runtime.getRuntime.availableProcessors
    private val spans = new SpanRecorder(System.nanoTime())
    private val workload = Workload(workloadName, fixtures, seed)
    private val failures = mutable.ArrayBuffer.empty[(String, String)]
    private var attempted = 0L
    private var spark: SparkSession = _
    private var probes: Option[Probes] = None
    private val runSpan = spans.newId()
    private val passSpans = mutable.Set.empty[Long]

    private def tearDown(): Unit = {
      probes.foreach(_.unregister())
      Dedup.releaseCaches(spark)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    private def setUp(): Unit = {
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("ERROR")
      workload.setUp(spark, work)
      probes = if (trace) Some(new Probes(spark, spans)) else None
      probes.foreach(_.register())
    }

    private def frame(parent: Long, name: String, layer: String, traced: Boolean)(
        body: Long => Unit): Unit = {
      val id = spans.newId()
      val start = spans.now()
      if (traced) spark.sparkContext.setJobGroup(id.toString, name)
      try body(id)
      finally if (traced) spans.addFrame(Span(id, parent, name, layer, start, spans.now()))
    }

    private def runOp(op: Op, passSpan: Long, traced: Boolean): OpResult = {
      attempted += 1
      var buildS, execS = 0.0
      var error: Option[String] = None
      frame(passSpan, op.name, op.layer, traced) { opSpan =>
        try {
          var df: DataFrame = null
          frame(opSpan, "build", "driver", traced) { _ =>
            val t = System.nanoTime()
            df = op.build()
            buildS = (System.nanoTime() - t) / 1e9
          }
          val layer = if (op.layer == "pipeline") "sources" else "driver"
          frame(opSpan, "execute", layer, traced) { _ =>
            val t = System.nanoTime()
            op.execute(df)
            execS = (System.nanoTime() - t) / 1e9
          }
        } catch {
          case NonFatal(e) =>
            error = Some(e.toString.linesIterator.take(3).mkString(" "))
            failures += op.name -> error.get
        }
      }
      if (traced) spark.sparkContext.clearJobGroup()
      OpResult(op.name, op.group, buildS, execS, error)
    }

    private def runPass(p: Int, traced: Boolean): PassResult = {
      Dedup.releaseCaches(spark)
      probes.foreach { pr => pr.take(); pr.on = traced } // late events of the last pass stay out
      val before = JvmCounters.snap()
      val passSpan = spans.newId()
      val start = spans.now()
      val t = System.nanoTime()
      val ops = workload.pass(spark, p).map(op => runOp(op, passSpan, traced))
      val wall = (System.nanoTime() - t) / 1e9
      if (traced) {
        passSpans += passSpan
        spans.addFrame(Span(passSpan, runSpan, s"pass $p", "bench", start, spans.now()))
      }
      val after = JvmCounters.snap()
      val counters = probes.filter(_ => traced).map(_.take())
      probes.foreach(_.on = false)
      PassResult(traced, wall, ops,
        JvmCounters.Snap(after.gcMs - before.gcMs, after.gcCount - before.gcCount,
          after.codegenClasses - before.codegenClasses, after.codegenNs - before.codegenNs),
        JvmCounters.heapUsedMb(), counters, passSpan)
    }

    def execute(): String = {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      // The first set-up counts from JVM start; the others tear the session
      // down first (untimed) and redo everything.
      val setUpS = (0 until SetUps).map { i =>
        if (i > 0) tearDown()
        val t = System.nanoTime()
        setUp()
        if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else (System.nanoTime() - t) / 1e9
      }

      val first = runPass(0, traced = false)
      var p = 1
      val warmUps = mutable.ArrayBuffer.empty[Double]
      def agreed = warmUps.length >= 2 && {
        val (a, b) = (warmUps(warmUps.length - 2), warmUps.last)
        math.abs(a - b) <= WarmTolerance * math.min(a, b)
      }
      while (!agreed && p <= MaxWarmUps) {
        warmUps += runPass(p, traced = false).wallS
        p += 1
      }

      val timed = mutable.ArrayBuffer.empty[PassResult]
      val minTimed = if (trace) 4 else 3
      val t = System.nanoTime()
      while (timed.length < minTimed || (System.nanoTime() - t) / 1e9 < seconds) {
        timed += runPass(p, traced = trace && timed.length % 2 == 0)
        p += 1
      }

      probes.foreach(_.on = false)
      workload.checks(spark).foreach { c =>
        attempted += 1
        try c.run()
        catch { case NonFatal(e) => failures += c.name -> e.toString.linesIterator.take(3).mkString(" ") }
      }
      val counts = if (trace) workload.counts(spark) else Map.empty[String, Double]
      tearDown()

      val untraced = timed.filterNot(_.traced).toSeq
      val samples = untraced.flatMap(_.ops.filter(_.error.isEmpty).map(_.totalS))
      val detail = Seq(
        "workload" -> Json.str(workloadName), "seed" -> seed.toString,
        "cores" -> cores.toString,
        "set_ups" -> Json.arr(setUpS.map(Json.num)),
        "first_pass_s" -> Json.num(first.wallS),
        "warm_up_passes" -> Json.arr(warmUps.map(Json.num).toSeq),
        "timed_passes" -> Json.arr(timed.map(r => Json.num(r.wallS)).toSeq),
        "query_samples" -> samples.length.toString,
        "query_p90_s" -> Stats.tail(samples, 0.9).map(s => Json.num(s.value)).getOrElse("null"),
        "op_first_s" -> Json.obj(first.ops.map(o => o.name -> Json.num(o.totalS))),
        "op_median_s" -> Json.obj(first.ops.map(_.name).sorted.map { n =>
          val xs = untraced.flatMap(_.ops.filter(o => o.name == n && o.error.isEmpty).map(_.totalS))
          n -> (if (xs.isEmpty) "null" else Json.num(Stats.median(xs).value))
        }),
        "failures" -> Json.arr(failures.map { case (n, e) => Json.arr(Seq(Json.str(n), Json.str(e))) }.toSeq))
      val metrics =
        if (trace) perLayer(timed.toSeq, counts)
        else endToEnd(setUpS, first, untraced)
      if (trace) {
        spans.addFrame(Span(runSpan, 0L, s"run $workloadName-$seed", "bench", 0.0, spans.now()))
        writeSpans()
      }
      Json.obj(Seq(
        "attempted" -> attempted.toString,
        "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "detail" -> Json.obj(detail)))
    }

    /** Wall times a user sees. `query_p50_s` is the median per-op time of
      * each timed pass (its queries, or on the pipeline its stages), then
      * the median over passes: pooling a pipeline's four very different
      * stages would put the median in the gap between two of them. */
    private def endToEnd(setUpS: Seq[Double], first: PassResult, timed: Seq[PassResult]
        ): Map[String, Double] = Map(
      "setup_s" -> Stats.median(setUpS).value,
      "first_pass_s" -> first.wallS,
      "pass_s" -> Stats.median(timed.map(_.wallS)).value,
      "query_p50_s" -> {
        val perPass = timed.map(_.ops.filter(_.error.isEmpty).map(_.totalS)).filter(_.nonEmpty)
        if (perPass.isEmpty) Double.NaN else Stats.median(perPass.map(Stats.median(_).value)).value
      })

    private def perLayer(timed: Seq[PassResult], counts: Map[String, Double]): Map[String, Double] = {
      val on = timed.filter(_.traced)
      val off = timed.filterNot(_.traced)
      def med(f: PassResult => Double): Double = Stats.median(on.map(f)).value
      def c(f: Counters => Double): Double = med(r => f(r.counters.get))
      def opTime(names: String => Boolean)(r: PassResult): Double =
        r.ops.filter(o => names(o.group) || names(o.name)).map(_.totalS).sum
      val m = mutable.LinkedHashMap.empty[String, Double]
      Seq("load_raw", "dim_locations", "master", "serve").foreach(stage =>
        m(s"pipeline.${stage}_s") = med(opTime(Set(stage))))
      Seq("raw_rows", "dim_rows", "master_rows", "served_rows").foreach(k =>
        m(s"pipeline.$k") = counts.getOrElse(s"pipeline.$k", 0.0))
      m("sources.csv_bytes") = counts.getOrElse("sources.csv_bytes", 0.0)
      m("sources.lake_bytes") = counts.getOrElse("sources.lake_bytes", 0.0)
      m("sources.jdbc_rows_per_s") =
        if (m("pipeline.serve_s") > 0) m("pipeline.served_rows") / m("pipeline.serve_s") else 0.0
      Workload.BiHeavyFamilies.foreach(f => m(s"operators.${f}_s") = med(opTime(Set(f))))
      Workload.BiHeavy.foreach(q => m(s"query.${q}_s") = med(opTime(Set(q))))
      m("driver.build_s") = med(_.ops.map(_.buildS).sum)
      m("driver.analysis_s") = c(_.analysisMs / 1e3)
      m("driver.optimization_s") = c(_.optimizationMs / 1e3)
      m("driver.planning_s") = c(_.planningMs / 1e3)
      m("driver.codegen_classes") = med(_.jvm.codegenClasses.toDouble)
      m("driver.codegen_compile_s") = med(_.jvm.codegenNs / 1e9)
      m("exec.jobs") = c(_.jobs.toDouble)
      m("exec.stages") = c(_.stages.toDouble)
      m("exec.tasks") = c(_.tasks.toDouble)
      m("exec.task_run_s") = c(_.taskRunMs / 1e3)
      m("exec.task_cpu_s") = c(_.taskCpuNs / 1e9)
      m("exec.idle_core_frac") = med(r => 1 - r.counters.get.taskRunMs / 1e3 / (cores * r.wallS))
      m("exec.input_bytes") = c(_.inputBytes.toDouble)
      m("exec.shuffle_write_bytes") = c(_.shuffleWriteBytes.toDouble)
      m("exec.shuffle_read_bytes") = c(_.shuffleReadBytes.toDouble)
      m("exec.spill_bytes") = c(_.spillBytes.toDouble)
      m("exec.task_skew") = c(_.maxTaskSkew)
      m("exec.failed_tasks") = c(_.failedTasks.toDouble)
      m("plan.scans") = c(_.scans.toDouble)
      m("plan.exchanges") = c(_.exchanges.toDouble)
      m("plan.reused_exchanges") = c(_.reusedExchanges.toDouble)
      m("plan.broadcasts") = c(_.broadcasts.toDouble)
      m("jvm.gc_s") = med(_.jvm.gcMs / 1e3)
      m("jvm.gc_count") = med(_.jvm.gcCount.toDouble)
      m("jvm.heap_after_pass_mb") = med(_.heapMb)
      val self = selfTimeByPass()
      Layers.foreach { layer =>
        m(s"self.${layer}_s") = med(r => self.getOrElse(r.spanId, Map.empty).getOrElse(layer, 0.0))
      }
      m("trace.pass_s") = med(_.wallS)
      m("trace.overhead_s") = m("trace.pass_s") - Stats.median(off.map(_.wallS)).value
      m.toMap
    }

    /** pass span id → layer → self seconds of the spans under that pass. */
    private def selfTimeByPass(): Map[Long, Map[String, Double]] = {
      val all = spans.withOrphansAttached
      val byId = all.map(s => s.id -> s).toMap
      def passOf(s: Span): Option[Long] =
        if (passSpans(s.id)) Some(s.id) else byId.get(s.parent).flatMap(passOf)
      all.groupBy(passOf).collect { case (Some(pass), ss) => pass -> Spans.selfByLayer(ss) }
    }

    private def writeSpans(): Unit = {
      val runId = s"$workloadName-$seed"
      val lines = spans.withOrphansAttached.sortBy(_.start).map { s =>
        Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start" -> Json.num(s.start), "end" -> Json.num(s.end)))
      }
      Files.writeString(work.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
  }
}

/** Just enough JSON for the result document. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
