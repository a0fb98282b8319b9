package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One §2 operator group: a set of named query functions plus the DuckDB
  * oracle SQL for the hash-compare (SURVEY.md §2, §5.2.1). Query keys with
  * no oracle entry get the driver's weaker rows-only check (approx
  * sketches, streaming).
  */
trait QueryGroup {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracle: Map[String, String]
}

object QueryGroup {
  /** Child session whose AQE coalescing floor
    * (spark.sql.adaptive.coalescePartitions.minPartitionSize) is 64k,
    * for queries whose keyed exchange is bytes-SMALL but CPU-DENSE
    * (lambda folds per row, exact-percentile maps, a 390× broadcast
    * fan-out after a 20k-row range exchange): byte-based coalescing
    * under the 1m default collapses those stages to 1-2 post-shuffle
    * tasks, serializing the hot loop on a many-core host. Session-
    * scoped (the source_partitioned child-session discipline) so the
    * measured 1m default keeps governing every other query — r14
    * adjudication, three 32-core A/B pairs + one 8-core pair
    * (plans/r14/bench*_full_*.json): 1m wins the suite total; exactly
    * six queries ran >0.15 s faster under 64k in ALL three pairs, and
    * only those six build on this session. At production scale the
    * advisory partition size governs long before either floor binds,
    * so this is small-regime parallelism recovery, not a size tune.
    *
    * Why the global floor is Spark's 1MB default (the mains set no
    * floor): the r13 global 64k floor was adjudicated in r14 with
    * three 32-core composite-min(3) A/B pairs + one 8-core pair — 1m
    * won the 32-core suite total in 2 of 3 pairs and was a per-query
    * geomean wash; 64k helped exactly the six queries above while
    * taxing the shuffle-heavy top. To A/B either floor again, change
    * the constant here or set the conf on the session a main builds.
    */
  def cpuDenseSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "64k")
    s
  }
}
