package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local[4] session for all specs (one JVM, one context). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def sqlDf(pairs: (String, Seq[Any])*): DataFrame =
    graft.core.Tibble.of(spark, pairs: _*)

  /** Collected rows as Seq[Seq[Any]] for golden-value compares. */
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def assertRows(df: DataFrame, expected: Seq[Seq[Any]]): Unit =
    assert(rowsOf(df) == expected)
}

object SparkTestBase {
  lazy val session: SparkSession =
    // AQE off, for deterministic physical plans: the plan-shape asserts
    // check the static plan, which AQE would re-plan at run time
    // (coalesced partitions, switched join strategies)
    GraftSession.local(4, "spark.sql.adaptive.enabled" -> "false")
}
