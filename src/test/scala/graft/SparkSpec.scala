package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; Spark's
  * getOrCreate makes this safe across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // session shared; stopped by JVM exit

  /** Messages that logger `name` logs at `level` or above while `body`
    * runs (the logger is set to `level` meanwhile). */
  def capturedLogs(name: String, level: Level)(body: => Unit): Seq[String] = {
    spark.sparkContext // a starting session reconfigures log4j, dropping the appender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-$name", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val prevLevel = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(level)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
