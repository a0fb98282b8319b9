package perfbench

/** The declared query keys each query workload runs. */
object Keys {
  /** Batch keys, one per operator family: TPC-H Q6 scan-filter-aggregate
    * (Tpch), grouping sets (Aggregates), a full outer join (Joins) and a
    * running distinct count over a window (Analytics, on events). No
    * stream/manifest/source/sink key: those are the other workloads'
    * layers.
    */
  val batch: Seq[String] = Seq(
    "tpch_q6", "agg_grouping_sets", "join_full_outer", "events_cum_uniques")

  /** Stream replay: a windowed aggregation replayed in three
    * micro-batches whose late rows the watermark drops, which loads the
    * offset log, the WAL and the state store. One key only: a replay
    * costs as much as the four batch keys together.
    */
  val stream: Seq[String] = Seq("stream_late_drop")

  /** Batch keys first: their cold runs warm the planner for the replays. */
  val all: Seq[String] = batch ++ stream
}
