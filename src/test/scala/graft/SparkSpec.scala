package graft

import graft.engine.EtlContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.engine.Engine.session("graft-test", Some("local[4]"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
  def newCtx(): EtlContext = {
    val ctx = new EtlContext(spark)
    graft.engine.Engine.registerSfTables(ctx, sfDir)
    ctx
  }
}
