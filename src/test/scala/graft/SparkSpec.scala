package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for suites: the engine's own
  * ([[GraftSession]]), so the suite tests the session that ships. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.start()

  val sf: String = "/root/testdata/sf0.001"

  /** Jobs this thread submits while `body` runs. The listener bus is
    * asynchronous but in order, so once a marker job submitted after
    * `body` has been seen, every job `body` submitted has been seen. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val tag = "graft.test.jobsDuring"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val result = try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "the marker job never reached the listener")
      (result, seen.asScala.count(_ == "body"))
    } finally sc.removeSparkListener(listener)
  }
}
