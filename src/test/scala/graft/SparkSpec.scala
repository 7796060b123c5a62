package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  /** DAGScheduler ERROR messages logged while `body` runs beside a GC
    * loop. SQL metrics are weakly held accumulators: a task that reports
    * one whose plan the driver no longer references makes DAGScheduler
    * log "non-existent accumulator" with a stack trace, and the GC loop
    * makes any such task show up. It idles 3× as long as each collection
    * took, so a large heap cannot stall the run. */
  def schedulerErrorsUnderGc(body: => Unit): Seq[String] = {
    @volatile var running = true
    val gc = new Thread(() => while (running) {
      val t0 = System.nanoTime()
      System.gc()
      Thread.sleep(math.max(10L, 3 * (System.nanoTime() - t0) / 1000000L))
    })
    gc.setDaemon(true)
    gc.start()
    try capturedLogs("org.apache.spark.scheduler.DAGScheduler", Level.ERROR) {
      body
      Thread.sleep(1000) // task-end events reach the scheduler asynchronously
    } finally running = false
  }

  /** Asserts that `native`'s (key, value) rows equal `ref`'s on both
    * expression-evaluation paths. As built, a projection over a
    * `toDF`/`Seq` input is folded into a local relation by Spark's
    * ConvertToLocalRelation rule, which evaluates it interpreted; with
    * that rule excluded the projection runs in whole-stage generated
    * code. `native` is re-evaluated per path (a Dataset caches its
    * optimized plan) and each plan is checked to have taken its path.
    * `ref` is collected once: reference formulations built from
    * higher-order functions never run generated code. */
  def assertSameOnBothPaths(ref: DataFrame, native: => DataFrame): Unit = {
    def byKey(rows: Array[Row]): Map[Any, Any] = rows.map(r => r.get(0) -> r.get(1)).toMap
    val want = byKey(ref.collect())
    def check(codegen: Boolean): Unit = {
      val df = native
      val plan = df.queryExecution.executedPlan.toString
      if (codegen) assert(plan.contains("*(1) Project"), plan)
      else assert(!plan.contains("Project"), plan)
      val got = byKey(df.collect())
      val bad = want.filter { case (k, v) => !got.get(k).contains(v) }
      assert(got.size == want.size && bad.isEmpty,
        s"${if (codegen) "codegen" else "interpreted"}: " + bad.take(3).map { case (k, v) =>
          s"key=$k native=${got.get(k)} ref=$v" }.mkString("; "))
    }
    check(codegen = false)
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded,
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try check(codegen = true)
    finally spark.conf.unset(excluded)
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
