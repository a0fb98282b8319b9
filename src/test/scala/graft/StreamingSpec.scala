package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Group J specs — stream ≡ batch-twin equivalence (SURVEY.md §5.2.4,
  * §5.5), incl. a multi-batch out-of-order replay for late-data handling.
  */
class StreamingSpec extends SparkSpec {

  private def rows(name: String) =
    q(name).collect().map(_.toSeq.toList).toSet

  test("stream_funnel equals the batch funnel") {
    assert(rows("stream_funnel") == rows("events_funnel"))
  }

  test("stream_trend equals the batch regression bit-for-bit") {
    // the strongest unified-model statement in the suite: the streaming
    // integer-moment fold and the batch decimal staging produce the
    // SAME doubles, not just close ones
    assert(rows("stream_trend") == rows("events_trend"))
  }

  test("stream_funnel milestone state survives time-sharded multi-batch replay") {
    // the funnel state machine's contract: correct whenever no admitted
    // event is older than one already folded per user. Exercise it by
    // replaying THREE time-range shards (terciles) one file per
    // trigger — milestones must accumulate across batches and land on
    // the batch answer
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fshard").toString
    val shards = Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1)))
    shards.zipWithIndex.foreach { case (df, i) =>
      // one FILE per shard: a multi-part shard would split one tercile's
      // time range across micro-batches, which the milestone contract
      // (no admitted event older than one already folded) doesn't cover
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/shard_$i")
      Thread.sleep(1100) // distinct mtimes ⇒ deterministic file order
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard_*")
      .as[(Long, String, Long)]
    val staged = operators.Streaming.funnelStages(stream)
    val qs = staged.toDF("user_id", "stage")
      .writeStream.format("memory").queryName("funnel_shard_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    val streamed = spark.table("funnel_shard_sink")
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // batch truth per user via the sequential fold
    val byUser = ev.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).groupBy(_._1)
    byUser.foreach { case (u, evs) =>
      val t1 = evs.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(t =>
        evs.filter(x => x._2 == "click" && x._3 > t).map(_._3).minOption)
      val t3 = t2.flatMap(t =>
        evs.filter(x => x._2 == "purchase" && x._3 > t).map(_._3).minOption)
      val expected = Seq(t1, t2, t3).count(_.isDefined).toLong
      assert(streamed(u) == expected, s"user $u")
    }
  }

  test("stream_tumbling equals its batch twin") {
    assert(rows("stream_tumbling") == rows("win_tumbling_batch"))
  }

  test("stream_ohlc equals the batch candlestick compaction") {
    assert(rows("stream_ohlc") == rows("events_ohlc"))
  }

  test("stream_sample keeps exactly the batch hash-sample rows") {
    val batch = Tables.events(spark, sfDir)
      .filter(operators.TextDedup.hash56(
        col("event_id").cast("string")) % 100 < 5)
      .select("event_id", "user_id", "event_type", "value")
      .collect().map(_.toSeq.toList).toSet
    assert(batch.nonEmpty)
    assert(rows("stream_sample") == batch)
  }

  test("stream_topk is the per-bucket top-3 cut of stream_tumbling's counts") {
    // the heavy-hitter query and the tumbling aggregate must agree on
    // counts (same state keying), and the cut must be exactly top-3 by
    // (n desc, type) within every bucket
    val counts = q("stream_tumbling").collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val expected = counts.groupBy(_._1._1).toSeq.flatMap { case (b, m) =>
      m.toSeq.map { case ((_, t), n) => (t, n) }
        .sortBy { case (t, n) => (-n, t) }.take(3)
        .zipWithIndex.map { case ((t, n), i) => (b, i + 1L, t, n) }
    }.sortBy(r => (r._1, r._2))
    val got = q("stream_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == expected)
  }

  test("stream_static_join equals its batch join+agg twin") {
    // the stream-static enrichment replayed to completion must equal the
    // same join computed in batch — the unified-model statement for the
    // stateless dimension join
    val batch = Tables.events(spark, sfDir)
      .join(Tables.table(spark, sfDir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        Seq("user_id"))
      .withColumn("bucket_us",
        col("ts_us") - (col("ts_us") % (3600L * 1000 * 1000)))
      .groupBy("bucket_us", "c_mktsegment")
      .agg(count(lit(1)).as("n"), Canon.meanOf(col("value")).as("avg_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))
    val got = q("stream_static_join").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq)
  }

  test("stream_session_window sessions match batch islands") {
    val stream = q("stream_session_window").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val batch = q("win_session_batch").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("n_events"))).toSet
    assert(stream == batch)
  }

  test("stream_dedup equals batch distinct counts") {
    val stream = q("stream_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sfDir)
      .dropDuplicates("event_id")
      .groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(stream == batch)
  }

  test("stream_stateful_counter equals batch per-user counts") {
    val stream = q("stream_stateful_counter").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stream == batch)
  }

  test("stream_stream_join equals the batch range join") {
    val stream = rows("stream_stream_join")
    assert(stream.nonEmpty, "fixture must produce signup→purchase pairs")
    val ev = Tables.events(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("signup", "purchase"))
    import org.apache.spark.sql.functions.col
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("s_event"),
        col("ts_us").as("s_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("ts_us").as("p_us"))
    val batch = s.join(p, col("s_user") === col("p_user")
        && col("p_us") >= col("s_us")
        && col("p_us") <= col("s_us") + 3600000000L)
      .select("s_user", "s_event", "p_event", "s_us", "p_us")
      .collect().map(_.toSeq.toList).toSet
    assert(stream == batch)
  }

  test("RocksDB state store yields identical results to the default store") {
    // the production state backend at scale: the default HDFS-backed
    // store keeps every key in executor heap (OOM at 100 TB state);
    // RocksDB spills to local disk with the same exactly-once semantics.
    // The provider is pinned per-query at start, so setting the session
    // conf around the stream run is the supported switch.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val default = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      assert(rows("stream_tumbling") == rows("win_tumbling_batch"),
        "windowed agg state must be backend-independent")
      val stream = q("stream_stateful_counter").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val batch = Tables.events(spark, sfDir)
        .groupBy("user_id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(stream == batch,
        "flatMapGroupsWithState state must be backend-independent")
    } finally default match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("multi-batch out-of-order replay converges to the batch result") {
    // split events into 3 shards in ARRIVAL order unrelated to event
    // time (event_id % 3), replay one file per trigger — state must
    // accumulate across micro-batches and absorb out-of-order data
    val tmp = java.nio.file.Files.createTempDirectory("graft_ooo").toString
    val ev = Tables.events(spark, sfDir)
    (0 to 2).foreach { s =>
      ev.filter(col("event_id") % 3 === s)
        .write.mode("overwrite").parquet(s"$tmp/shard=$s")
    }
    val schema = ev.schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard=*")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .withColumn("bucket_us",
        col("ts_us") - (col("ts_us") % (3600L * 1000 * 1000)))
      .groupBy("bucket_us", "event_type")
      .agg(count(lit(1)).as("n"))
    val qs = agg.writeStream.format("memory").queryName("ooo_sink")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    assert(spark.table("ooo_sink").count() > 0,
      "the replay must have processed at least one micro-batch")
    val streamed = spark.table("ooo_sink").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = ev
      .withColumn("bucket_us",
        col("ts_us") - (col("ts_us") % (3600L * 1000 * 1000)))
      .groupBy("bucket_us", "event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stream_cdc_latest equals the batch CDC compaction") {
    val stream = q("stream_cdc_latest").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batch = q("cdc_latest").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(stream.toSeq == batch.toSeq)
    assert(stream.nonEmpty)
  }

  test("stream_late_drop: drop metric = straggler count, windows emitted once") {
    // independent run with a handle on the query's progress metrics
    val agg = operators.Streaming.lateReplayStream(spark, sfDir)
      .withWatermark("ts_t", "30 minutes")
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n_events"))
    val sq = agg.writeStream.format("memory").queryName("late_probe")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val dropped = sq.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val ev = Tables.events(spark, sfDir)
    val r = ev.agg(min("ts_us"), max("ts_us")).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val stragglers = ev
      .filter(col("event_id") % 20 === 0 && col("ts_us") < mid).count()
    assert(stragglers > 0, "fixture must yield a non-empty late set")
    assert(dropped == stragglers,
      s"dropped $dropped, expected every straggler ($stragglers)")
    // construction precondition: every straggler's window closed before
    // the watermark that batch b_tip establishes (11th-newest kept ts)
    val keptTs = ev
      .filter(!(col("event_id") % 20 === 0 && col("ts_us") < mid))
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .limit(11).collect().map(_.getAs[Long]("ts_us"))
    val wmAfterTip = keptTs.min - 1800000000L
    assert(mid + 3600000000L + 1800000000L < wmAfterTip,
      "straggler windows must close before the b_tip watermark — " +
        "fixture drifted; regenerate the split rule")
    // each emitted window appears exactly once
    val out = spark.table("late_probe").collect().map(_.getLong(0))
    assert(out.distinct.length == out.length)
  }

  test("udaf_weighted_avg matches manual weighted mean") {
    val rows = q("udaf_weighted_avg").collect()
    assert(rows.length == 3) // returnflags A, N, R
    rows.foreach(r => assert(r.getDouble(1) > 0))
  }

  test("udtf_generator preserves token positions") {
    val df = q("udtf_generator")
    assert(df.filter(col("pos") < 0).count() == 0)
    val total = df.count()
    val expected = Tables.table(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(total == expected)
  }

  test("stream_fill_forward LOCF state survives time-sharded multi-batch replay") {
    // same admission contract as the funnel: time-range shards, one
    // file per trigger — the carried value must flow across batches
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .withColumn("v_gap",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("v_gap"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ffshard").toString
    Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1))
    ).zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/shard_$i")
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard_*")
      .as[(Long, Long, Long, Option[Double])]
    val qs = operators.Streaming.fillForward(stream)
      .toDF("user_id", "ts_us", "event_id", "v_gap", "v_filled")
      .writeStream.format("memory").queryName("ff_shard_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))
    val streamed = spark.table("ff_shard_sink").collect().map(key).toSet
    val batch = q("win_fill_forward").collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_join_outer: matched set equals inner join, nulls watermark-gated") {
    import org.apache.spark.sql.functions.col
    val out = q("stream_join_outer").collect()
    val matched = out.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inner = q("stream_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched == inner,
      "outer join's matched rows must be exactly the inner join")
    // null-extended rows: unmatched AND their window closed before the
    // final watermark; no unmatched signup younger than wm − 1h emits
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us")).collect()
    val wm = math.min(
      ev.filter(_.getString(0) == "signup").map(_.getLong(1)).max,
      ev.filter(_.getString(0) == "purchase").map(_.getLong(1)).max
    ) - 600000000L
    val nulls = out.filter(_.isNullAt(2))
    assert(nulls.nonEmpty)
    nulls.foreach { r =>
      assert(r.getLong(3) + 3600000000L < wm,
        "an emitted null-extension's match window must have closed")
      assert(!matched.exists(m => m._2 == r.getLong(1)),
        "null-extended signups must have no match at all")
    }
  }

  test("stream_anomaly prefix moments survive time-sharded multi-batch replay") {
    // same admission contract as funnel/LOCF: three time-range shards,
    // one file per trigger — the integer prefix moments must carry
    // across batches and the sharded emits must equal the single-batch
    // (oracle-matched) query's rows exactly
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_anshard").toString
    Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1))
    ).zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/shard_$i")
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard_*")
      .as[(Long, Long, Long, Double)]
    val qs = operators.Streaming.onlineAnomaly(stream)
      .toDF("user_id", "ts_us", "event_id", "value", "z")
      .writeStream.format("memory").queryName("an_shard_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))
    val streamed = spark.table("an_shard_sink").collect().map(key).toSet
    val single = q("stream_anomaly").collect().map(key).toSet
    assert(streamed == single)
    assert(streamed.nonEmpty)
    // warmup contract: a user's first 10 events are never flagged
    val ranks = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("ts_us", "event_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))
        -> r.getInt(3)).toMap
    assert(streamed.forall { case (u, t, e, _, _) => ranks((u, t, e)) > 10 })
  }

  test("stream_vshape state carries the last-two readings across batches") {
    // three time-range shards, one file per trigger: a V straddling a
    // shard boundary is only caught if (v₋₂, v₋₁) survive in state
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vshard").toString
    Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1))
    ).zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/shard_$i")
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard_*")
      .as[(Long, Long, Long, Double)]
    val qs = operators.Streaming.vshapeStream(stream)
      .toDF("user_id", "ts_us", "event_id", "dip")
      .writeStream.format("memory").queryName("vshape_shard_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = spark.table("vshape_shard_sink").collect().map(key).toSet
    val single = q("stream_vshape").collect().map(key).toSet
    assert(streamed == single)
    assert(streamed.nonEmpty)
    // and the single-batch run equals the batch lag-window twin
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val twin = ev
      .withColumn("p1", org.apache.spark.sql.functions.lag("value", 1).over(w))
      .withColumn("p2", org.apache.spark.sql.functions.lag("value", 2).over(w))
      .filter(col("p2") > col("p1") && col("p1") < col("value"))
      .select(col("user_id"), col("ts_us"), col("event_id"),
        (col("p2") - col("p1")).as("dip"))
      .collect().map(key).toSet
    assert(single == twin)
  }

  test("stream_pit_features state (last view + hour queue) survives sharded replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pitshard").toString
    Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1))
    ).zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/shard_$i")
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/shard_*")
      .as[(Long, Long, Long, String, Double)]
    val qs = operators.Streaming.pitFeaturesStream(stream)
      .toDF("user_id", "ts_us", "event_id", "last_view_value",
        "us_since_view", "views_1h")
      .writeStream.format("memory").queryName("pit_shard_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    qs.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5))
    val streamed = spark.table("pit_shard_sink").collect().map(key).toSet
    val single = q("stream_pit_features").collect().map(key).toSet
    assert(streamed == single)
    assert(streamed.nonEmpty)
    // and it matches the batch window twin
    val twin = q("features_pit_assemble").collect().map(key).toSet
    assert(single == twin)
  }

  test("stream_sliding: every event lands in exactly two covering windows") {
    val out = q("stream_sliding")
    val covered = out.agg(sum("n")).head().getLong(0)
    val events = Tables.table(spark, sfDir, "events").count()
    assert(covered == 2 * events,
      "1 h window on a 30 min slide must cover each event exactly twice")
    // window starts are 30-min aligned on the µs axis
    val misaligned = out.filter(col("start_us") % (30L * 60 * 1000 * 1000)
      =!= 0).count()
    assert(misaligned == 0)
  }

  test("the event replay is staged once per state of the source") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.{BasicFileAttributes, FileTime}
    val dir = Files.createTempDirectory("graft_replay_src")
    val src = dir.resolve("events.parquet")
    Files.copy(Paths.get(sfDir, "events.parquet"), src)
    val first = operators.Streaming.replayDir(dir.toString)
    val copy = Paths.get(first, "events.parquet")
    val stamp = Files.getLastModifiedTime(copy)
    def inode = Files.readAttributes(copy, classOf[BasicFileAttributes])
      .fileKey()
    val key = inode
    Thread.sleep(20) // a rewrite in place would get a later mtime
    assert(operators.Streaming.replayDir(dir.toString) == first)
    assert(Files.getLastModifiedTime(copy) == stamp)
    assert(inode == key, "an unchanged source must not rewrite the replay")
    // a changed source (same bytes, new mtime) replays from a new copy
    Files.setLastModifiedTime(src, FileTime.fromMillis(
      Files.getLastModifiedTime(src).toMillis + 60000))
    val second = operators.Streaming.replayDir(dir.toString)
    assert(second != first)
    assert(Files.getLastModifiedTime(copy) == stamp,
      "the old replay stays as it was for streams still reading it")
    assert(Files.readAllBytes(Paths.get(second, "events.parquet")).sameElements(
      Files.readAllBytes(src)))
  }
}
