package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session fixture: one small session per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.shared

  override def afterAll(): Unit = () // shared session; JVM exit cleans up
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
