package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the one session builder: the shared test session
  * carries its settings, and no second builder creeps back into main. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the shared test session is built by GraftSession") {
    assert(spark.conf.get("spark.sql.extensions") ==
      "org.apache.spark.sql.graft.GraftSparkSessionExtension")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
  }

  test("SparkSession.builder appears in exactly one file under src/main") {
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(_.getFileName.toString).toList
    }
    assert(files == Seq("GraftSession.scala"))
  }
}
