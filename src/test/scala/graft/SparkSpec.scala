package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. One session per JVM
  * (scalatest forks a single JVM, sessions are reused via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(n: String): String = s"/root/testdata/$n"
  val sfSmoke = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Built by the production builder, so every suite runs under the
    * posture the mains run under (extensions, UTC, TIMESTAMP_MICROS
    * footers, the codegen cache size) — nothing hides behind a bare
    * session. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
