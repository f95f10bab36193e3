package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session), pinned
  * at 4 cores so plan shapes and partition counts do not depend on the
  * machine. */
object SparkSpec {
  lazy val spark: SparkSession = Session(cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
