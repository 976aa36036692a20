package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (UTC, small shuffle partitions). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = Regime.session("local[4]",
    Regime.base :+ ("spark.sql.shuffle.partitions" -> "4"), Some("graft-test"))
}
