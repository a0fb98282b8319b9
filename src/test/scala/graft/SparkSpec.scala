package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session fixture for operator specs. Mirrors the driver's
  * Verify session shape (Verify.scala): local[n], shuffle partitions = n,
  * UTC, UI off. Tests run at sf0.001 for speed; correctness at sf0.01 is
  * the driver's DuckDB oracle.
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  val sfDir01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSpec.session

  def q(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** `lo <= c <= hi` per band, as [[operators.ManifestTable.readPruned]]
    * filters.
    */
  def between(bands: (String, Any, Any)*)
      : Seq[org.apache.spark.sql.sources.Filter] =
    bands.flatMap { case (c, lo, hi) =>
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(c, lo),
        org.apache.spark.sql.sources.LessThanOrEqual(c, hi))
    }

  /** Spark jobs started by `body` (see [[org.apache.spark.graft.Jobs]]). */
  def jobs(body: => Unit): Int =
    org.apache.spark.graft.Jobs.count(spark.sparkContext)(body)

  /** The formatted physical plan, for pushdown/broadcast assertions. */
  def plan(df: DataFrame): String = df.queryExecution.explainString(
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // full ReadSchema strings in explain output — plan assertions on
      // schema contents are vacuous under the 100-char default truncation
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
