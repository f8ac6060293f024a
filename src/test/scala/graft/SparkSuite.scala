package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, concurrent jobs are fine). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Run `f` with the driver-local budget ([[Local.MaxEntriesKey]]) at
    * `n` entries; 0 forces every distributed twin. */
  def withLocalBudget[A](n: Long)(f: => A): A = {
    spark.conf.set(Local.MaxEntriesKey, n.toString)
    try f finally spark.conf.unset(Local.MaxEntriesKey)
  }
}

object SparkSuite {
  lazy val session: SparkSession = graft.run.Sessions.local(4, 8, "graft-test")
}
