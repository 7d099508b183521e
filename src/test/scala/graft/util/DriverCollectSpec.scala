package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class DriverCollectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("confInt names the key and the value of a non-integer conf") {
    val key = "spark.graft.test.confint"
    val df = spark.range(1).toDF()
    spark.conf.set(key, "12x")
    try {
      val e = intercept[IllegalArgumentException](
        DriverCollect.confInt(df, key, 7))
      assert(e.getMessage.contains(key) && e.getMessage.contains("12x"),
        e.getMessage)
      spark.conf.set(key, "12")
      assert(DriverCollect.confInt(df, key, 7) == 12)
    } finally spark.conf.unset(key)
    assert(DriverCollect.confInt(df, key, 7) == 7)
  }
}
