package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query paths under ordinary user Spark configuration. */
class UserConfSpec extends AnyFunSuite {
  import TestSpark._

  test("spread-wrapped query runs with a size-suffixed maxPartitionBytes") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "128m")
    try {
      // q_field_type spreads the one-file events table, which reads the
      // split size from the conf
      assert(SparkEntry.queries("q_field_type")(spark, sf).count() > 0)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
