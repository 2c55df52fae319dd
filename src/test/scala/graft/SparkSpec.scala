package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate): the same GraftSession Bench and Verify run, 4 wide.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its result with the number of Spark jobs
    * it submitted. The listener bus is drained before the listener is
    * added (no earlier job leaks in) and after `body` (every job start it
    * caused has been delivered).
    */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` on a fresh `<prefix>*` dir under java.io.tmpdir and
    * deletes the dir, with everything in it, however `body` ends. A
    * streaming query writing into the dir must be stopped inside `body`.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally FileUtils.deleteDirectory(dir)
  }
}
