package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{Json, NodeType, Project, Relation, SqlCode}
import graft.relations.{FileStore, RelationManager}
import graft.runner.{Commands, RunResult, Runner}

/** What the harness needs from a workload. An operation is `prepare`
  * (untimed), `run` (timed) and `check` (untimed); `reset` restores the
  * session state every operation starts from. */
trait Workload {
  def name: String
  def setup(): Unit
  def prepare(): Unit = ()
  /** Runs one operation; false when the program reported a failure. */
  def run(tracer: Tracer, traced: Boolean): Boolean
  /** The operation's output digests by name, or what went wrong. */
  def check(): Either[String, Map[String, String]]
  def reset(): Unit
  /** Per-operation layer figures the workload itself knows (node spans
    * and counts); called after a traced `run`. */
  def layerFigures(tracer: Tracer): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "curation_build" =>
      new BuildWorkload(ctx, name, stage(ctx, "curation"), Map.empty) {
        override def check() = checked(_ => Map("audit" -> auditDigest()))
      }
    case "nightly_increment" => new NightlyIncrement(ctx)
    case "tpch_build" =>
      new BuildWorkload(ctx, name, stage(ctx, "tpch_pipeline"), Map.empty) {
        override def check() = checked(_ => Map("pricing_summary" ->
          digest(new RelationManager(spark, warehouse).read(Relation("graft", "main", "pricing_summary")))))
      }
    case "wide_dag" => new WideDag(ctx)
    case "query_serve" => new QueryServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Run context: the session, the input data, a private work dir. */
  final case class Ctx(spark: SparkSession, data: String, work: Path, examples: Path, seed: Long)

  /** Copy a checked-in example project into the work dir with every
    * `sources.*` directory pointed at the benchmark's data. */
  def stage(ctx: Ctx, example: String): Path = {
    val src = ctx.examples.resolve(example)
    require(Files.isDirectory(src), s"missing example project $src")
    val dst = ctx.work.resolve(example)
    deleteTree(dst)
    Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val rel = src.relativize(p)
      val to = dst.resolve(rel.toString)
      Files.createDirectories(to.getParent)
      if (rel.toString == "graft_project.conf")
        Files.writeString(to, Files.readString(p).linesIterator.map {
          case l if l.trim.startsWith("sources.") => l.split("=")(0).trim + s" = ${ctx.data}"
          case l => l
        }.mkString("", "\n", "\n"))
      else Files.copy(p, to)
    }
    dst
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Order-independent SHA-256 of a result: column names plus every row
    * rendered with doubles rounded to 9 significant digits, sorted. */
  def digest(df: DataFrame): String = digest(df.columns.toSeq, df.collect().toSeq)

  def digest(columns: Seq[String], collected: Seq[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case other => other.toString
    }
    val rows = collected.map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md.update(("\n" + r).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Session state every operation starts from: no cached frames, none
    * of the views operations register, and the parquet nanos conf as the
    * session was built. */
  def resetSession(spark: SparkSession, nanosAsLong: Option[String], views: Seq[String]): Unit = {
    spark.catalog.clearCache()
    (graft.Tables.names.map(n => s"corpus_$n") ++ views).foreach(spark.catalog.dropTempView)
    nanosAsLong match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }
}

import Workloads._

/** `graft build` of a project on a fresh (or restored) warehouse. The
  * untraced operation is `graft.Main.execute`; the traced one rebuilds
  * its `build` branch from the same public calls, one span per call. */
class BuildWorkload(ctx: Ctx, val name: String, val proj: Path, vars: Map[String, String])
    extends Workload {
  protected val spark: SparkSession = ctx.spark
  protected val nanos: Option[String] = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
  protected def target: Path = proj.resolve("target")
  protected def warehouse: String = target.resolve("warehouse").toString
  private val sink = new java.io.PrintWriter(java.io.Writer.nullWriter(), true)
  private var lastResults: Seq[RunResult] = Nil
  private var runSpan: (Long, Long) = (0L, 0L)
  private var lastBuild: Option[(Project.Loaded, Runner)] = None
  val threads: Int = graft.Main.Args().threads

  def setup(): Unit = ()
  override def prepare(): Unit = deleteTree(target)

  def run(tracer: Tracer, traced: Boolean): Boolean =
    if (!traced)
      graft.Main.execute(spark, graft.Main.Args(command = "build",
        project = proj.toString, vars = vars), sink) == 0
    else tracedBuild(tracer)

  private def tracedBuild(t: Tracer): Boolean = {
    t.span("natives", "core") {
      graft.ops.CurationRecipe.installNatives()
      graft.ops.CurationIngest.installNatives()
      graft.ops.Retrieval.installNatives()
    }
    val loaded = t.span("Project.load", "core")(Project.load(proj.toString))
    t.add("core.nodes", loaded.manifest.nodes.size.toDouble)
    t.span("registerSources", "core")(Project.registerSources(spark, loaded.config))
    val runner = t.span("Runner.new", "runner") {
      val store = new CountingFileStore(FileStore.forRoot(warehouse), t)
      val rm = new RelationManager(spark, warehouse, store)
      Files.createDirectories(target)
      new Runner(spark, rm, loaded.manifest,
        vars = loaded.config.vars ++ vars,
        defaultSchema = loaded.config.schema,
        database = loaded.config.database,
        threads = threads)
    }
    val r0 = System.nanoTime()
    val results = t.span("Runner.run", "runner")(runner.run(Nil, Nil, withTestEdges = true,
      onRunStart = loaded.config.onRunStart, onRunEnd = loaded.config.onRunEnd))
    runSpan = (r0, System.nanoTime())
    lastResults = results
    t.span("artifacts", "runner") {
      runner.writeRunResults(results, target.resolve("run_results.json").toString)
      Commands.writeManifest(loaded.manifest, target.resolve("manifest.json").toString,
        defaultSchema = loaded.config.schema, projectName = loaded.config.name)
    }
    lastBuild = Some((loaded, runner))
    !results.exists(r => Set("error", "fail")(r.status))
  }

  override def layerFigures(t: Tracer): Map[String, Double] = {
    // compile every SQL node once more, after the timed build, so the
    // template layer's cost is visible on its own
    val c0 = System.nanoTime()
    lastBuild.foreach { case (loaded, runner) =>
      loaded.manifest.nodes.values
        .filter(n => n.code.exists(_.isInstanceOf[SqlCode]) && n.nodeType != NodeType.Seed)
        .foreach(n => try runner.compileSql(n) catch { case _: Exception => () })
    }
    val c1 = System.nanoTime()
    t.record("compileSql", "compile", c0, c1)
    lastBuild = None
    val (r0, r1) = runSpan
    val runId = t.opSpans(t.op).find(_.name == "Runner.run").map(_.id).getOrElse(t.root)
    val nodes = lastResults.map { r =>
      val isTest = r.uniqueId.startsWith("test.")
      val s = t.fromEpochMs(r.startedAt.toEpochMilli)
      val e = t.fromEpochMs(r.completedAt.toEpochMilli)
      t.record(r.uniqueId, if (isTest) "quality" else "runner", s, e, parent = runId)
      (isTest, (e - s) / 1e9, r.status)
    }
    val runS = (r1 - r0) / 1e9
    val nodeSum = nodes.map(_._2).sum
    Map(
      "runner.run_s" -> runS,
      "runner.node_s_sum" -> nodeSum,
      "runner.idle_thread_s" -> Stats.idleThreadSeconds(threads, runS, nodeSum),
      "runner.nodes_failed" -> nodes.count(n => Set("error", "fail")(n._3)).toDouble,
      "quality.tests" -> nodes.count(_._1).toDouble,
      "quality.test_s_sum" -> nodes.filter(_._1).map(_._2).sum,
      "core.load_s" -> t.opSpans(t.op).filter(_.name == "Project.load").map(_.seconds).sum,
      "compile.render_s" -> (c1 - c0) / 1e9)
  }

  /** Node statuses from the run_results.json the build wrote. */
  protected def statuses(): Seq[(String, String)] = {
    val doc = Json.obj(Json.parse(Files.readString(target.resolve("run_results.json"))))
    Json.arr(doc("results")).map(Json.obj).map(r => Json.str(r("unique_id")) -> Json.str(r("status")))
  }

  protected def checked(digests: Seq[(String, String)] => Map[String, String]): Either[String, Map[String, String]] =
    try {
      val st = statuses()
      val bad = st.filterNot { case (_, s) => s == "success" || s == "pass" }
      if (st.isEmpty) Left("no node results")
      else if (bad.nonEmpty) Left(s"${bad.size} nodes did not succeed: ${bad.take(3).mkString(", ")}")
      else Right(digests(st))
    } catch { case e: Exception => Left(s"check failed: $e") }

  protected def auditDigest(): String =
    digest(new RelationManager(spark, warehouse).read(Relation("graft", "main", "audit")))

  def check(): Either[String, Map[String, String]] = checked(_ => Map.empty)

  def reset(): Unit = resetSession(spark, nanos, Nil)
}

/** Generation-2 nightly build over a generation-1 warehouse restored
  * from the copy made at set-up. */
class NightlyIncrement(ctx: Ctx) extends BuildWorkload(ctx, "nightly_increment",
    stage(ctx, "curation_incremental"), Map("run_end" -> "2025-01-03T00:00:00Z")) {
  private val gen1 = ctx.work.resolve("nightly_gen1")

  override def setup(): Unit = {
    deleteTree(target)
    val code = graft.Main.execute(spark, graft.Main.Args(command = "build",
      project = proj.toString, vars = Map("run_end" -> "2025-01-02T00:00:00Z")),
      new java.io.PrintWriter(java.io.Writer.nullWriter(), true))
    require(code == 0, s"generation-1 build exited $code")
    reset()
    deleteTree(gen1)
    copyTree(target, gen1)
  }

  override def prepare(): Unit = {
    deleteTree(target)
    copyTree(gen1, target)
  }

  override def check() = checked(_ => Map("audit" -> auditDigest()))
}

/** dbt's `01_2000_simple_models` shape: `chains` chains of `length`
  * one-line view models, each a `union all` over its predecessor. The
  * seed decides which of 20 model sub-directories each file lands in. */
class WideDag(ctx: Ctx, chains: Int = 10, length: Int = 20)
    extends BuildWorkload(ctx, "wide_dag", ctx.work.resolve("wide_dag"), Map.empty) {
  private def model(c: Int, i: Int) = s"path_${c}_node_$i"
  private val views = for (c <- 0 until chains; i <- 0 until length) yield s"main__${model(c, i)}"

  override def setup(): Unit = {
    deleteTree(proj)
    val rnd = new scala.util.Random(ctx.seed)
    val files = rnd.shuffle((0 until chains).flatMap(c => (0 until length).map(i => (c, i))))
    Files.createDirectories(proj)
    Files.writeString(proj.resolve("graft_project.conf"), "name = wide_dag\nschema = main\n")
    files.zipWithIndex.foreach { case ((c, i), k) =>
      val dir = proj.resolve("models").resolve(f"part_${k % 20}%02d")
      Files.createDirectories(dir)
      val sql =
        if (i == 0) s"{{ config(materialized='view', tags='chain_$c') }}\nselect 1 as id"
        else s"select * from {{ ref('${model(c, i - 1)}') }} union all select $i as id"
      Files.writeString(dir.resolve(s"${model(c, i)}.sql"), sql)
    }
  }

  override def check() = checked { st =>
    if (st.size != chains * length) throw new IllegalStateException(s"${st.size} nodes ran")
    val tails = (0 until chains).map(c =>
      s"select $c as chain, count(*) as n from main__${model(c, length - 1)}").mkString(" union all ")
    spark.sql(tails).collect().foreach { r =>
      if (r.getLong(1) != length)
        throw new IllegalStateException(s"chain ${r.getInt(0)} tail has ${r.getLong(1)} rows")
    }
    Map.empty
  }

  override def reset(): Unit = resetSession(spark, nanos, views)
}

/** One operation is one pass over the query set in a seed-permuted
  * order that changes every pass, like `graft.Bench`'s headline total.
  * Each query's result is collected (like the noop sink, every column of
  * every row is consumed), so the output checked is the output timed. */
class QueryServe(ctx: Ctx) extends Workload {
  val name = "query_serve"
  private val spark = ctx.spark
  private val nanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
  private val rnd = new scala.util.Random(ctx.seed)
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Row])]

  def setup(): Unit = ()

  def run(t: Tracer, traced: Boolean): Boolean = {
    results.clear()
    rnd.shuffle(QueryServe.queries).foreach { q =>
      val c0 = System.nanoTime()
      val df = t.span(s"$q construct", "queries")(graft.SparkEntry.queries(q)(spark, ctx.data))
      val c1 = System.nanoTime()
      val rows = t.span(s"$q execute", "queries")(df.collect().toSeq)
      val c2 = System.nanoTime()
      results(q) = (df.columns.toSeq, rows)
      t.add("queries.construct_s", (c1 - c0) / 1e9)
      t.add("queries.execute_s", (c2 - c1) / 1e9)
      reset()
    }
    true
  }

  override def layerFigures(t: Tracer): Map[String, Double] = {
    val spans = t.opSpans(t.op)
    val constructs = spans.filter(_.name.endsWith(" construct"))
    Map("queries.construct_jobs" -> spans.count(s => s.layer == "spark" &&
      constructs.exists(c => s.start >= c.start && s.start <= c.end)).toDouble)
  }

  def check(): Either[String, Map[String, String]] =
    try Right(results.map { case (q, (cols, rows)) => q -> digest(cols, rows) }.toMap)
    catch { case e: Exception => Left(e.toString) }

  def reset(): Unit = resetSession(spark, nanos, Nil)
}

object QueryServe {
  /** One query from each family `graft.Bench` tracks: the headline SQL and
    * dedup sets, BM25 serving from the persisted term-stats store, and
    * two from excision (one of them dominated by construction-time jobs). */
  val queries: Seq[String] = Seq(
    "q1_pricing_summary", "q_dedup_minhash_lsh", "q_retrieval_bm25_stats",
    "q_dedup_substring_excise", "q_dedup_edit_distance")
}
