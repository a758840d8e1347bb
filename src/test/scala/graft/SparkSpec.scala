package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** Fixed, not host-sized, so partition-count assertions (the GeoJSON
    * packing layout, shuffle-width gates) mean the same on every machine. */
  val cpus = 4

  lazy val session: SparkSession = {
    val s = GraftSession.local(cpus)
    // a Janino compile failure in generated code must FAIL the suite, not
    // silently fall back to the interpreted path — otherwise a broken
    // doGenCode/doConsume ships while every plan-string assertion stays
    // green against the fallback execution
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
}
