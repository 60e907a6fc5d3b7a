package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per forked test run). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Spark jobs started by `body`: on this thread, or on a thread that
    * inherits its local properties (a concurrent warm's pool). */
  def jobsDuring(body: => Unit): Int = jobsAndActionsDuring(body)._1

  /** (jobs, actions) started by `body`, where an action is one SQL
    * execution: adaptive execution runs each of its query stages as a
    * job of the same execution. */
  def jobsAndActionsDuring(body: => Unit): (Int, Int) = {
    val tag = "graft.sparkSpec"
    val tags = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))
          .map(_ -> String.valueOf(p.getProperty("spark.sql.execution.id"))))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      // listener events arrive asynchronously and in order: once the
      // sentinel job is seen, every job the body ran is counted
      sc.setLocalProperty(tag, "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = tags.asScala.exists(_._1 == "sentinel")
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen, "listener never saw the sentinel")
      val ran = tags.asScala.filter(_._1 == "body").map(_._2).toSeq
      (ran.size, ran.distinct.size)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
