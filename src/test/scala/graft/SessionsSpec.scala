package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scoped session conf: every key comes back as it was, on return and on
  * throw.
  */
class SessionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark.newSession()
  private val setKey = "spark.graft.test.scoped"
  private val absentKey = "spark.graft.test.absent"

  test("withConf restores a set key and unsets a key that had no value") {
    spark.conf.set(setKey, "before")
    val seen = Sessions.withConf(spark, setKey -> "inside", absentKey -> "x") {
      (spark.conf.get(setKey), spark.conf.get(absentKey))
    }
    assert(seen == ("inside", "x"))
    assert(spark.conf.get(setKey) == "before")
    assert(spark.conf.getOption(absentKey).isEmpty)
  }

  test("withConf restores and unsets when the body throws") {
    spark.conf.set(setKey, "before")
    intercept[IllegalStateException] {
      Sessions.withConf(spark, setKey -> "inside", absentKey -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(setKey) == "before")
    assert(spark.conf.getOption(absentKey).isEmpty)
  }
}
