package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession per suite; scratch dirs under the working
  * directory's target/testtmp (sbt forks tests in the project base). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  def scratch(tag: String): String = {
    val p = Paths.get("target", "testtmp").toAbsolutePath.resolve(
      tag + "-" + java.util.UUID.randomUUID().toString.take(8))
    Files.createDirectories(p.getParent)
    p.toString
  }
}
