package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with the given session confs set, restoring the old
    * values (or unsetting) afterwards. */
  protected def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Blocks until every event posted so far reached the listeners, so a
    * listener added next sees no earlier test's events and a listener
    * read next has seen all of this test's (`listenerBus` is
    * private[spark], hence reflection). */
  protected def waitListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }
}
