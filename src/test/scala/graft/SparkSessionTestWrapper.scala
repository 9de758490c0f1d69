package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = TestSpark.spark

  /** Waits until the listener bus has delivered every posted event (the bus
    * accessor is not public API, hence reflection).
    */
  def drainBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
