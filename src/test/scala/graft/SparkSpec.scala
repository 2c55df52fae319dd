package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate): the same GraftSession Bench and Verify run, 4 wide.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf: String = "/root/testdata/sf0.001"

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
