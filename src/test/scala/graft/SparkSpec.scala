package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Row-set equality via two-sided except (schema-order insensitive). */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val left = a.exceptAll(b.select(a.columns.map(org.apache.spark.sql.functions.col): _*)).count()
    val right = b.exceptAll(a.select(b.columns.map(org.apache.spark.sql.functions.col): _*)).count()
    assert(left == 0 && right == 0,
      s"$hint: ${left} rows only in left, ${right} only in right")
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.start(Session.builder(cpus = 4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh-cat").toString))
}
