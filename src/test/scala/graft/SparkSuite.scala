package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: small partition count, UTC, UI off. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  private val tempDirs = mutable.Buffer[File]()

  /** A new temp directory, deleted with its contents after the suite. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.getPath
  }

  /** [[tempDir]] as a `Path`. */
  def tempPath(prefix: String): Path = Paths.get(tempDir(prefix))

  override def afterAll(): Unit =
    try tempDirs.foreach(FileUtils.deleteQuietly) finally super.afterAll()
}

object SparkSuite {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.checkpointLocation", checkpointRoot.getPath)
    .getOrCreate()

  /** The session's default checkpoint root, deleted when the JVM exits. */
  private lazy val checkpointRoot: File = {
    val d = Files.createTempDirectory("graft-ckpt").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(d))
    d
  }
}
