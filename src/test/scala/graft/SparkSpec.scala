package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: the same factory Verify and Bench use, on four
  * cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Copy a test resource to a real path Spark can read. */
  def resource(name: String): String = {
    val url = getClass.getResource(s"/$name")
    require(url != null, s"missing test resource $name")
    java.nio.file.Paths.get(url.toURI).toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
}
