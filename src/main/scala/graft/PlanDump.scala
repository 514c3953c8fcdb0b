package graft

import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round measurement tool: dumps `.explain("formatted")` for
  * declared queries to files, so plan claims in OPTIMIZATION_r*.md are
  * checkable against committed artifacts without running Spark.
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r18 before q_a,q_b"
  *
  * The session is [[GraftSession]]'s, so the dumped plan is the plan the
  * bench and the CLI run.
  * Formatted explain shows the INITIAL plan (AQE isFinalPlan=false); join
  * strategy / exchange counts read from it are pre-AQE, which is the
  * comparable shape across changes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [names]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names: Seq[String] = args.lift(3) match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val spark = GraftSession("graft-plandump")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(q) =>
          try {
            val df = q(spark, sfDir)
            val txt = df.queryExecution.explainString(FormattedMode)
            java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plandump] wrote ${name}_$suffix.txt")
          } catch { case t: Throwable =>
            System.err.println(s"[plandump] $name failed: ${t.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
