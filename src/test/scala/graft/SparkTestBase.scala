package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // static conf: must be present when the SparkContext launches —
      // this exercises the declarative deployment path for every test
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Release the stages the test's operators persisted: the shared
    * session outlives the test, and a later test building the same
    * stage would otherwise ask to cache already-cached data.
    */
  override protected def afterEach(): Unit =
    try graft.ops.StageCache.releaseAll() finally super.afterEach()

  /** Run `body` with the given SQL confs set, restoring priors after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val priors = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally priors.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
