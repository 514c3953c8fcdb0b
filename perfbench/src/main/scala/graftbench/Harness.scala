package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Json
import Stats.Outcome

/** One benchmark run in one JVM: a closed loop with a single client, each
  * operation starting after the previous one ends.
  *
  * {{{
  * graftbench.Harness --workload NAME --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --examples DIR --digests FILE --out FILE
  *   [--commit ID] [--record]
  * }}}
  *
  * Writes the full result (environment stamp, per-operation samples and,
  * traced, every span) to `--out`; the runner script prints the summary.
  * With `--record` the output digests are written instead of compared. */
object Harness {

  final case class Sample(op: Int, seconds: Double, cpu: Double,
                          outcome: Outcome, traced: Boolean, layers: Map[String, Double])


  /** Untimed operations between set-up and the timed window. The first,
    * cold one pays class loading, JIT and code generation; operation times
    * then fall for about five more as the JIT settles. A fixed count, so
    * every run follows the same trajectory into its window. */
  val WarmupOps = 5

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpu(): Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val record = argv.contains("--record")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    // the session graft.Main.main builds for every CLI command
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkSessionExtension")
      .appName("graft-build")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try run(spark, a, record)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Map[String, String], record: Boolean): Int = {
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val ctx = Workloads.Ctx(spark, data, Paths.get(a("work")).toAbsolutePath,
      Paths.get(a("examples")).toAbsolutePath, seed)
    val expected: Map[String, String] =
      if (record) Map.empty
      else Json.obj(Json.parse(Files.readString(Paths.get(a("digests"))))).get(workloadName)
        .map(Json.obj(_).map { case (k, v) => k -> Json.str(v) }).getOrElse(Map.empty)
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(new SparkTrace(tracer))
      spark.listenerManager.register(new CatalystTrace(tracer))
    }
    def drain(): Unit = org.apache.spark.graft.BusAccess.waitUntilListenerBusEmpty(spark.sparkContext)

    val w = Workloads(workloadName, ctx)
    w.setup()
    w.reset()

    var opId = 0
    /** One operation: prepare, timed run, check, reset. */
    def operation(traced: Boolean): Sample = {
      w.prepare()
      opId += 1
      if (traced) { drain(); tracer.op = opId; tracer.root = tracer.newId(); tracer.on = true }
      val gc0 = gcSeconds()
      val c0 = processCpu()
      val s0 = System.nanoTime()
      val ran =
        try w.run(tracer, traced)
        catch { case e: Throwable => problems += e.toString.take(300); false }
      val s1 = System.nanoTime()
      val cpu = processCpu() - c0
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          drain()
          val gc = gcSeconds() - gc0
          tracer.record(s"op $opId", "root", s0, s1, parent = 0L, id = tracer.root)
          val figures = w.layerFigures(tracer)
          tracer.on = false
          val counted = tracer.take()
          // children are clipped to the root: spans recorded after the
          // timed run (the compile pass) do not count against it
          val children = tracer.opSpans(opId).filter(_.parent == tracer.root)
            .map(s => (s.start, s.end))
          val derived = Map(
            "driver.cpu_s" -> (cpu - counted.getOrElse("spark.executor_cpu_s", 0.0)),
            "jvm.gc_s" -> gc,
            "jvm.peak_rss_mb" -> peakRssMb(),
            "trace.unattributed_share" -> Stats.selfTime(s0, s1, children).toDouble / (s1 - s0))
          counted ++ figures ++ derived
        }
      val outcome =
        if (!ran) Outcome.Failed
        else w.check() match {
          case Left(msg) => problems += msg; Outcome.Wrong
          case Right(got) =>
            if (record) {
              // a digest that changes within one run is not deterministic
              val drift = got.filter { case (k, d) => recorded.get(k).exists(_ != d) }
              recorded ++= got
              if (drift.isEmpty) Outcome.Ok
              else { problems += s"digest changed between operations: ${drift.keys.mkString(",")}"; Outcome.Wrong }
            }
            else {
              val bad = got.filter { case (k, d) => !expected.get(k).contains(d) }
              val missing = expected.keySet -- got.keySet
              if (bad.isEmpty && missing.isEmpty) Outcome.Ok
              else { problems += s"output digest differs or is missing for ${(bad.keySet ++ missing).mkString(",")}"; Outcome.Wrong }
            }
        }
      w.reset()
      Sample(opId, (s1 - s0) / 1e9, cpu, outcome, traced, layers)
    }
    // traced runs alternate traced and untraced operations, starting with
    // a traced one, so the tracing overhead is measured under the same
    // conditions
    def next(i: Int): Sample = operation(trace && i % 2 == 0)

    val warmSamples = (0 until WarmupOps).map(next)
    // JVM start to the first timed operation
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // timed loop: whole operations while the next one still fits the window
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (samples.isEmpty || elapsed * (samples.size + 1) / samples.size <= seconds)
      samples += next(samples.size)
    val windowS = elapsed

    val untraced = samples.filterNot(_.traced)
    val traced = samples.filter(_.traced)
    val outcomes = samples.map(_.outcome).toSeq
    val failed = outcomes.count(_ != Outcome.Ok)
    val correct = failed == 0 && warmSamples.forall(_.outcome == Outcome.Ok)

    def p50(xs: Seq[Sample]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.seconds))
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", p50(samples.toSeq), "s"),
      ("ops_per_s", samples.size / samples.map(_.seconds).sum, "1/s"),
      ("cpu_s_per_op", Stats.median(samples.map(_.cpu).toSeq), "s"))
    val extra: Seq[(String, Double, String)] =
      Stats.percentile(samples.map(_.seconds).toSeq, 90).map(v => ("op_p90_s", v, "s")).toSeq :+
        (("fail_ratio", Stats.failRatio(outcomes), "ratio"))

    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        val keys = traced.flatMap(_.layers.keys).distinct.sorted
        val medians = keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap
        def m(k: String) = medians.getOrElse(k, 0.0)
        val commits = m("relations.commits")
        val ratio = if (commits == 0) 1.0 else (commits - m("relations.commit_conflicts")) / commits
        val overhead = if (untraced.isEmpty) 0.0 else p50(traced.toSeq) - p50(untraced.toSeq)
        PerLayer.all.map { case (k, unit) =>
          val v = k match {
            case "relations.commit_success_ratio" => ratio
            case "trace.op_p50_s" => p50(traced.toSeq)
            case "trace.untraced_op_p50_s" => p50(untraced.toSeq)
            case "trace.overhead_s" => overhead
            case other => m(other)
          }
          (k, v, unit)
        }
      }

    def metricsJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (k, v, u) => s"${Json.quote(k)}:{\"value\":${num(v)},\"unit\":${Json.quote(u)}}" }
        .mkString("{", ",", "}")
    val summary = s"""{"correct":$correct,"attempted":${samples.size},"failed":$failed,""" +
      s""""metrics":${metricsJson(if (trace) perLayer else endToEnd)}}"""

    val stamp = Stamp(spark, a.getOrElse("commit", "unknown"), workloadName, seed, trace, data,
      graft.Main.Args().threads)
    val samplesJson = (warmSamples ++ samples).map { s =>
      s"""{"op":${s.op},"seconds":${num(s.seconds)},""" +
        s""""cpu_s":${num(s.cpu)},"outcome":${Json.quote(s.outcome.toString)},"traced":${s.traced},"warmup":${warmSamples.contains(s)}}"""
    }.mkString("[", ",", "]")
    val spansJson =
      if (!trace) "[]"
      else tracer.spans.asScala.toSeq.sortBy(s => (s.op, s.start)).map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.quote(s.name)},""" +
          s""""layer":${Json.quote(s.layer)},"start_ns":${s.start},"end_ns":${s.end}}"""
      }.mkString("[", ",", "]")
    val full = s"""{"summary":$summary,"stamp":$stamp,"end_to_end":${metricsJson(endToEnd ++ extra)},""" +
      s""""per_layer":${metricsJson(perLayer)},""" +
      s""""window_s":${num(windowS)},"problems":${problems.map(Json.quote).mkString("[", ",", "]")},""" +
      s""""digests":${recorded.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }.mkString("{", ",", "}")},""" +
      s""""samples":$samplesJson,"spans":$spansJson}"""
    Files.writeString(Paths.get(a("out")), full)
    problems.take(10).foreach(p => System.err.println(s"[perfbench] $p"))
    if (correct) 0 else 1
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** The per-layer metrics a traced run reports, in `BENCHMARK.json` order. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "core.load_s" -> "s", "core.nodes" -> "count",
    "compile.render_s" -> "s",
    "runner.run_s" -> "s", "runner.node_s_sum" -> "s", "runner.idle_thread_s" -> "s",
    "runner.nodes_failed" -> "count",
    "quality.tests" -> "count", "quality.test_s_sum" -> "s",
    "relations.store_calls" -> "count", "relations.store_s" -> "s",
    "relations.commits" -> "count", "relations.commit_conflicts" -> "count",
    "relations.commit_success_ratio" -> "ratio",
    "relations.bytes_written" -> "bytes", "relations.rows_written" -> "count",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count", "queries.execute_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes", "spark.gc_s" -> "s",
    "catalyst.actions" -> "count", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "driver.cpu_s" -> "s", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB",
    "trace.unattributed_share" -> "ratio",
    "trace.op_p50_s" -> "s", "trace.untraced_op_p50_s" -> "s", "trace.overhead_s" -> "s")
}

/** The environment a result was measured in. Two results are comparable
  * only when their stamps agree on everything but the commit. */
object Stamp {
  val confKeys: Seq[String] = Seq(
    "spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone", "spark.sql.extensions")

  def apply(spark: SparkSession, commit: String, workload: String, seed: Long, trace: Boolean,
            data: String, runnerThreads: Int): String = {
    def q(s: String) = Json.quote(s)
    val confs = confKeys.map(k => s"${q(k)}:${q(spark.conf.getOption(k).getOrElse(""))}").mkString("{", ",", "}")
    val files = Files.list(Paths.get(data)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .map(p => s"${q(p.getFileName.toString)}:${Files.size(p)}").mkString("{", ",", "}")
    s"""{"commit":${q(commit)},"workload":${q(workload)},"seed":$seed,"trace":$trace,""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},"jdk":${q(System.getProperty("java.version"))},""" +
      s""""spark":${q(spark.version)},"runner_threads":$runnerThreads,"confs":$confs,""" +
      s""""data_files":$files}"""
  }
}
