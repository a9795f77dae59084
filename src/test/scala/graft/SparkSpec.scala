package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per suite, small
  * shuffle width for speed, nanos-as-long for events.parquet, graft
  * installed. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fresh warehouse per JVM: saveAsTable leftovers from a previous
      // run would collide with a new (empty) in-memory metastore
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftFunctions.install(s)
    s
  }

  /** sf0.001 testdata — the smoke-scale fixtures. */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // One JVM per forked suite; let the last stop win quietly.
    spark.stop()
    super.afterAll()
  }
}
