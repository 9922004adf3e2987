package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session fixture: one small session per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.shared

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under java.io.tmpdir, deleted with its contents
    * when the suite ends. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  // the shared session keeps running for the next suite; only this
  // suite's temp dirs go
  override def afterAll(): Unit =
    tempDirs.forEach(dir => FileUtil.fullyDelete(dir.toFile): Unit)
}

object SparkSpec {
  /** Monitor for tests that mutate the JVM-global default Locale —
    * hold it for the whole mutate/restore span so a concurrently
    * scheduled locale-sensitive test can't observe the flipped
    * default (suites run sequentially today, but the guard keeps a
    * future parallel-execution switch from flaking them). */
  val localeLock: Object = new Object

  lazy val shared: SparkSession = Graft.session("graft-test", "local[4]", 4)
}
