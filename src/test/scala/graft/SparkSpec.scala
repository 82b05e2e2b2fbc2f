package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. Managed tables land in a
  * temp warehouse this JVM owns and removes at exit, never the working
  * directory: concurrent test JVMs cannot share table directories, and a
  * killed run leaves nothing in the checkout. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        Fixtures.jvmScratchDir("graft-test-warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // suites must not depend on which one first exercised an operator
    // that registers the native functions
    graft.expr.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def afterAll(): Unit = () // keep the shared session alive
}
