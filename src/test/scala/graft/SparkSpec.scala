package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the test run. Every suite runs in the same
  * forked JVM, and a builder's master and static confs take effect only on
  * the first `getOrCreate`, so every suite that needs Spark mixes this in
  * instead of building its own: `local[4]`, 4 shuffle partitions, UI off,
  * UTC. A test that needs another runtime conf sets it, and restores it,
  * itself.
  */
trait SparkSpec {
  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}
