package org.apache.spark.sql.graftsql

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `sharedLoaderSession`: the session streaming ingest starts its queries
  * from. Lives in Spark's package to count the context's listener buses. */
class SharedLoaderSessionSpec extends AnyFunSuite {
  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  test("the clone turns artifact isolation off and keeps the caller's conf and views") {
    val spark = TestSpark.spark
    val before = spark.conf.getOption(isolation)
    spark.range(3).createOrReplaceTempView("shared_loader_probe")
    try {
      val clone = sharedLoaderSession(spark)
      assert(clone ne spark)
      assert(clone.conf.get(isolation) == "false")
      assert(spark.conf.getOption(isolation) == before)
      assert(clone.conf.get("spark.sql.shuffle.partitions") ==
        spark.conf.get("spark.sql.shuffle.partitions"))
      assert(clone.table("shared_loader_probe").count() == 3)
      assert(clone.sparkContext eq spark.sparkContext)
    } finally spark.catalog.dropTempView("shared_loader_probe")
  }

  test("a call leaves no streaming listener bus on the context's listener bus") {
    val spark = TestSpark.spark
    val bus = spark.sparkContext.listenerBus
    def buses = bus.findListenersByClass[StreamingQueryListenerBus]().size
    val n = buses
    (1 to 3).foreach(_ => sharedLoaderSession(spark).streams)
    assert(buses == n)
  }
}
