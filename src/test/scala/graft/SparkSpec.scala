package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session built like every
  * main's, at local[4] with 4 shuffle partitions (plenty for unit-scale
  * frames, and the partitioning regime the plan pins assume). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = Session.build(cpus = 4, width = 4)
}
