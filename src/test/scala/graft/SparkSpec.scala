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

  /** `body`'s value, or a test failure when it has not finished within
    * `seconds`. It runs on a daemon thread: a spinning decode loop cannot
    * be interrupted, so a hang fails the test instead of stalling the suite. */
  def within[T](seconds: Int)(body: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
    try Await.result(Future(body)(ExecutionContext.global),
      scala.concurrent.duration.Duration(seconds.toLong, "s"))
    catch {
      case _: TimeoutException =>
        org.scalatest.Assertions.fail(s"did not finish within $seconds s")
    }
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
  def within[T](seconds: Int)(body: => T): T = SparkSpec.within(seconds)(body)
  def newCtx(): EtlContext = {
    val ctx = new EtlContext(spark)
    graft.engine.Engine.registerSfTables(ctx, sfDir)
    ctx
  }
}
