package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = Graft.session("graft-test", "local[4]")
}
