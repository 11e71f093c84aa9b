package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily started): the
  * CLI's own session, so specs run every setting it pins, minus the
  * `SPARK_GRAFT_EXTRA_CONF` overrides, so specs are hermetic.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.localBuilder("4").getOrCreate()
}
