package graft.operators

import graft.{Canon, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import java.util.concurrent.atomic.AtomicLong

/** Group J (streaming) — SURVEY.md §2.J: tumbling windows, session
  * windows, dedup, arbitrary state, each as Structured Streaming over a
  * file-source replay of `events`, plus the two oracle-checked batch
  * twins (`win_tumbling_batch`, `win_session_batch`).
  *
  * All six queries are oracle-checked: the four `stream_*` queries
  * replay the full fixture to completion (Trigger.AvailableNow), so
  * their end state equals the batch answer and the batch SQL is a valid
  * DuckDB oracle; StreamingSpec additionally asserts stream ≡ batch twin
  * inside Spark (the unified-model correctness statement).
  *
  * Each stream runs with Trigger.AvailableNow against the fixture
  * parquet (reading is safe; only writes need a temp dir), lands in a
  * uniquely-named memory sink, and the query function returns the sink
  * table sorted — so Verify/Bench treat it like any batch query.
  *
  * Scale notes: state is keyed (window/user/event_id), so StateStore
  * partitions by key across executors; watermarks bound state size in a
  * true continuous run. Complete output mode here is a replay-harness
  * convenience (emit all windows at end-of-stream), not the production
  * mode — a live pipeline would run append + watermark eviction.
  */
object Streaming extends QueryGroup {

  private val sink = new AtomicLong(0)

  private val HourUs = 3600L * 1000 * 1000
  private val GapUs = 30L * 60 * 1000 * 1000

  /** events as a stream: canonical µs long + proper timestamp column.
    * The file source needs a DIRECTORY; fixtures are read-only files, so
    * replay from a per-sfDir temp dir (copy once, idempotent).
    */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val replay = Paths.get("/tmp/graft_replay",
      dir.replaceAll("[^A-Za-z0-9.]", "_"))
    Files.createDirectories(replay)
    val src = Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(src)) {
      // Spark-written fixture (e.g. a ScaleSynth dir): events.parquet
      // is a DIRECTORY of part files — copy each; a naive copy of the
      // directory entry would create an EMPTY replay and the stream
      // would silently process zero rows
      val s = Files.list(src)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.copy(p, replay.resolve(p.getFileName),
          StandardCopyOption.REPLACE_EXISTING): Unit)
      finally s.close()
    } else
      Files.copy(src, replay.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val batchTwin = Tables.table(spark, dir, "events") // sets nanosAsLong
    val raw = spark.readStream.schema(batchTwin.schema).parquet(replay.toString)
    raw.withColumn("ts_us", Tables.tsUsCol(raw))
      .withColumn("ts_t", timestamp_micros(Tables.tsUsCol(raw)))
  }

  /** Three-file replay that yields three DETERMINISTIC micro-batches
    * under `maxFilesPerTrigger=1` (the file source processes files in
    * (mtime, path) order; both are pinned, no sleeps):
    *
    *   1. `a_main` — every on-time event (all except the stragglers,
    *      minus the 10 newest, which are held for batch 2),
    *   2. `b_tip` — the 10 newest on-time events. Processing them
    *      advances the watermark past (almost) the whole timeline, so
    *      the END of this batch EVICTS + emits every closed window,
    *   3. `c_late` — the stragglers: `event_id % 20 == 0` with
    *      `ts_us < (min+max) div 2` (integer mid — engine-exact). Their
    *      windows were already evicted, so Spark DROPS every row
    *      (observed `numRowsDroppedByWatermark` = straggler count).
    *
    * Spark's watermark lags one batch (computed from a batch's max
    * event time, applied to the NEXT batch) — which is why a mere
    * two-batch split shows zero drops: late rows whose window state
    * still lives are MERGED, not dropped. Drops need rows arriving
    * after eviction; this split constructs exactly that. Built once per
    * sfDir behind a _READY marker.
    */
  private[graft] def lateReplayStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // pid-keyed like source_zorder/join_bucketed (r4 ADVICE): two JVMs
    // running concurrently must never read each other's half-written
    // replay, and a fixture regenerated between runs gets a fresh build
    val root = Paths.get(Scratch.pidDir("graft_replay3"),
      dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val data = root.resolve("data")
    if (!Files.exists(root.resolve("_READY"))) {
      Files.createDirectories(data)
      val evRaw = Tables.table(spark, dir, "events")
      val ev = evRaw.withColumn("us", Tables.tsUsCol(evRaw))
      // integer midpoint: deterministic in both engines, no percentile
      // interpolation ulp hazard
      val r = ev.agg(min("us"), max("us")).head()
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      val isLate = col("event_id") % 20 === 0 && col("us") < mid
      val kept = ev.filter(!isLate)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("us").desc, col("event_id").desc)
      val ranked = kept.withColumn("rk", row_number().over(w))
      val files = Seq(
        ("a_main", ranked.filter(col("rk") > 10).drop("rk", "us")),
        ("b_tip", ranked.filter(col("rk") <= 10).drop("rk", "us")),
        ("c_late", ev.filter(isLate).drop("us")))
      files.zipWithIndex.foreach { case ((name, df), i) =>
        val tmp = root.resolve(s"tmp_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        // Files.list holds a directory stream — close it (fd leak, r4 ADVICE)
        val ls = Files.list(tmp)
        val part =
          try ls.filter(_.toString.endsWith(".parquet")).findFirst.get
          finally ls.close()
        Files.move(part, data.resolve(s"$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(data.resolve(s"$name.parquet"),
          FileTime.fromMillis(1000000L * (i + 1)))
      }
      Files.createFile(root.resolve("_READY"))
    }
    val batchTwin = Tables.table(spark, dir, "events") // sets nanosAsLong
    val raw = spark.readStream.schema(batchTwin.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(data.toString)
    raw.withColumn("ts_us", Tables.tsUsCol(raw))
      .withColumn("ts_t", timestamp_micros(Tables.tsUsCol(raw)))
  }

  /** Start a stream, wait for it to end and return it: the one way the
    * engine runs a stream. For the run, the session names
    * [[LocalCheckpointFiles]] as the checkpoint file manager and holds
    * `pins`; every key is restored afterwards. The query clones the
    * session's confs when it starts, so the restore cannot reach it.
    */
  private[graft] def awaitStream(spark: SparkSession,
      pins: (String, String)*)(start: => StreamingQuery): StreamingQuery = {
    val held = (LocalCheckpointFiles.ConfKey ->
      classOf[LocalCheckpointFiles].getName) +: pins
    val prev = held.map { case (k, _) => k -> spark.conf.getOption(k) }
    held.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = start
      q.awaitTermination()
      q
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `df` (streaming) to completion into a memory sink, return the
    * materialized result.
    */
  private[operators] def runToMemory(spark: SparkSession, df: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = s"graft_sink_${sink.incrementAndGet()}"
    // state-store parallelism sized to the replay volume: each stateful
    // operator opens one state store PER shuffle partition per batch,
    // and each store writes and renames a delta file (plus its .crc)
    // every batch. That fixed cost is checkpoint file I/O, kept
    // in-process by LocalCheckpointFiles (Hadoop's local file system
    // would start a chmod/readlink process per file). 4 matches the
    // driver's 4-CPU session; a production continuous run sizes this to
    // the cluster instead (the setting is pinned per-query at first
    // start).
    val q = awaitStream(spark, "spark.sql.shuffle.partitions" -> "4")(
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start())
    // measurement hook (guide §1): per-batch duration breakdown
    if (sys.env.contains("GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach { p =>
        System.err.println(s"[stream-debug] batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
    spark.table(name)
  }

  /** The stream_funnel state machine, exposed for the replay-contract
    * spec: per-user (t1, t2, t3) milestones, each micro-batch sorted by
    * event time then folded through the strict-ordering transitions.
    * Emits (user, stage) after every batch; milestones only accumulate,
    * so the last emit carries the final stage. Correct whenever no
    * admitted event is older than one already folded for that user —
    * exact on a single-batch full replay (which is all the oracle
    * checks). NOTE: a watermark alone does NOT establish that
    * precondition in a continuous run — it only bounds lateness, and
    * still admits events older than ones already folded; since
    * milestones are never revised, a continuous run needs strictly
    * time-ordered admission per user (or a buffer-until-watermark stage
    * before the fold) to match the batch funnel.
    */
  def funnelStages(events: org.apache.spark.sql.Dataset[(Long, String, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    val Unset = Long.MinValue
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          var (t1, t2, t3) = state.getOption.getOrElse((Unset, Unset, Unset))
          rows.toArray.sortBy(_._3).foreach { case (_, typ, ts) =>
            typ match {
              case "view" if t1 == Unset => t1 = ts
              case "click" if t2 == Unset && t1 != Unset && ts > t1 => t2 = ts
              case "purchase" if t3 == Unset && t2 != Unset && ts > t2 => t3 = ts
              case _ => ()
            }
          }
          state.update((t1, t2, t3))
          Iterator((user, Seq(t1, t2, t3).count(_ != Unset).toLong))
      }
  }

  /** Online last-observation-carried-forward over (user, ts, id, v?):
    * state = last observed value per user. Same admission precondition
    * as [[funnelStages]]: exact whenever no admitted event is older than
    * one already folded per user (time-sharded batches satisfy it; a
    * watermark alone does not).
    */
  /** The stream_anomaly state machine, exposed for the replay-contract
    * spec: per-user exact integer prefix moments (n, Σcents, Σcents²),
    * each micro-batch sorted by (ts_us, event_id) then folded; an event
    * is emitted iff its user had ≥10 prior readings, positive prefix
    * variance, and |z| > 2.5. Every double op mirrors the oracle's
    * prefix-window SQL operand-for-operand, so emits hash-match it.
    * Correct under per-user time-ordered admission (same contract as
    * [[fillForward]]/[[funnelStages]]).
    */
  private[graft] def onlineAnomaly(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Double, Double)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long),
        (Long, Long, Long, Double, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[(Long, Long, Long)]) =>
          var (n, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = Seq.newBuilder[(Long, Long, Long, Double, Double)]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            val c = math.floor(r._4 * 100 + 0.5).toLong
            if (n >= 10) {
              val mu = s1.toDouble / n
              val va = (s2.toDouble - s1.toDouble * s1.toDouble / n) /
                (n - 1)
              if (va > 0) {
                val z = (c - mu) / math.sqrt(va)
                if (math.abs(z) > 2.5) {
                  val z4 = (if (z >= 0) math.floor(z * 1e4 + 0.5)
                            else -math.floor(-z * 1e4 + 0.5)) / 1e4
                  out += ((r._1, r._2, r._3, r._4, z4))
                }
              }
            }
            n += 1; s1 += c; s2 += c * c
          }
          state.update((n, s1, s2))
          out.result().iterator
      }
  }

  /** Streaming V-shape recognizer (CEP): per user, emit an event when
    * the last three readings form a strict drop-then-rebound
    * (v₋₂ > v₋₁ < v₀) — the fixed-length row-pattern state machine.
    * State per key is the last TWO readings (~40 bytes, constant
    * however long the stream runs); each batch's rows sort locally
    * within the group before the scan (same ordered-admission
    * precondition as [[fillForward]]/[[onlineAnomaly]]). The emitted
    * dip = v₋₂ − v₋₁ is one IEEE subtraction on the same operands the
    * oracle's lag window sees — hash-exact.
    */
  private[graft] def vshapeStream(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long, Double, Long, Long, Double),
        (Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[(Int, Long, Long, Double, Long, Long, Double)]) =>
          // (t1,e1,v1) = two back; (t2,e2,v2) = previous; k = #seen (≤2)
          var (k, t1, e1, v1, t2, e2, v2) = state.getOption
            .getOrElse((0, 0L, 0L, 0.0, 0L, 0L, 0.0))
          val out = Array.newBuilder[(Long, Long, Long, Double)]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            if (k >= 2 && v1 > v2 && v2 < r._4)
              out += ((uid, r._2, r._3, v1 - v2))
            t1 = t2; e1 = e2; v1 = v2
            t2 = r._2; e2 = r._3; v2 = r._4
            if (k < 2) k += 1
          }
          state.update((k, t1, e1, v1, t2, e2, v2))
          out.result().iterator
      }
  }

  /** Streaming geofence transition detector: per vehicle, emit a row
    * when the synthetic position (Spatial's deterministic 56-bit-hash
    * grid) crosses the fence boundary — 'enter' on outside→inside,
    * 'exit' on inside→outside. State = one boolean per vehicle; same
    * ordered-admission contract as [[vshapeStream]].
    */
  private[graft] def geofenceStream(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, String)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, Boolean),
        (Long, Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Boolean)],
            state: GroupState[(Boolean, Boolean)]) =>
          // (seen, lastInside)
          var (seen, last) = state.getOption.getOrElse((false, false))
          val out = Array.newBuilder[(Long, Long, Long, String)]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            if (seen && last != r._4)
              out += ((uid, r._2, r._3, if (r._4) "enter" else "exit"))
            seen = true; last = r._4
          }
          state.update((seen, last))
          out.result().iterator
      }
  }

  /** Online point-in-time feature assembly — the serving twin of the
    * batch features_pit_assemble windows: per vehicle, state carries
    * the last view (value, ts) plus the trailing-hour view-time queue
    * (bounded by events/hour, pruned as time advances: a view older
    * than ts−1h can never enter a future frame because admission time
    * is monotone per key). Emits one feature row per 'purchase',
    * computed strictly from events seen BEFORE it — the no-leakage
    * guarantee, now online.
    */
  private[graft] def pitFeaturesStream(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, String, Double)])
      : org.apache.spark.sql.Dataset[
        (Long, Long, Long, Option[Double], Option[Long], Long)] = {
    import ds.sparkSession.implicits._
    val HourUs = 3600000000L
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, Double, Long, Seq[Long]),
        (Long, Long, Long, Option[Double], Option[Long], Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String, Double)],
            state: GroupState[(Boolean, Double, Long, Seq[Long])]) =>
          var (hasView, lastVal, lastTs, times) = state.getOption
            .getOrElse((false, 0.0, 0L, Seq.empty[Long]))
          var q = times.toVector
          val out = Array.newBuilder[
            (Long, Long, Long, Option[Double], Option[Long], Long)]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            val ts = r._2
            q = q.dropWhile(_ < ts - HourUs)
            if (r._4 == "purchase")
              out += ((uid, ts, r._3,
                if (hasView) Some(lastVal) else None,
                if (hasView) Some(ts - lastTs) else None,
                q.count(_ <= ts - 1).toLong))
            if (r._4 == "view") {
              hasView = true; lastVal = r._5; lastTs = ts; q = q :+ ts
            }
          }
          state.update((hasView, lastVal, lastTs, q))
          out.result().iterator
      }
  }

  private[graft] def fillForward(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, Option[Double])])
      : org.apache.spark.sql.Dataset[
        (Long, Long, Long, Option[Double], Option[Double])] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, Double),
        (Long, Long, Long, Option[Double], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long, Option[Double])],
            state: GroupState[(Boolean, Double)]) =>
          var last: Option[Double] = state.getOption
            .collect { case (true, v) => v }
          val out = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
            if (r._4.isDefined) last = r._4
            (r._1, r._2, r._3, r._4, if (r._4.isDefined) r._4 else last)
          }
          state.update(last.map((true, _)).getOrElse((false, 0.0)))
          out.iterator
      }
  }

  def queries = Map(
    // ---- batch twins (oracle-checked) ----
    "win_tumbling_batch" -> { (spark, dir) =>
      // 1-hour buckets via integer µs arithmetic — no window()/time_bucket
      // dialect gap (SURVEY.md §5.4)
      Tables.events(spark, dir)
        .withColumn("bucket_us", col("ts_us") - (col("ts_us") % HourUs))
        .groupBy("bucket_us", "event_type")
        .agg(count(lit(1)).as("n"), Canon.meanOf(col("value")).as("avg_value"))
        .orderBy("bucket_us", "event_type")
    },

    "win_session_batch" -> { (spark, dir) =>
      // session islands: new session when gap >= 30 min — `>=`, not `>`,
      // to match session_window's half-open [start, last+gap) semantics
      // exactly (an exactly-30-min gap starts a new session in both);
      // id = running sum of break flags per user (SURVEY.md §5.4 recipe)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("brk",
          when(col("ts_us") - lag("ts_us", 1).over(w) >= GapUs
            || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum("brk").over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"),
          (max("ts_us") - min("ts_us")).as("duration_us"))
        .orderBy("user_id", "session_id")
    },

    // ---- streams (oracle-omitted; batch-twin equivalence in specs) ----
    "stream_tumbling" -> { (spark, dir) =>
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .withColumn("bucket_us", col("ts_us") - (col("ts_us") % HourUs))
        .groupBy("bucket_us", "event_type")
        .agg(count(lit(1)).as("n"), Canon.meanOf(col("value")).as("avg_value"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("bucket_us", "event_type")
    },

    "stream_distinct_users" -> { (spark, dir) =>
      // Streaming EXACT windowed distinct — the cardinality query
      // Structured Streaming refuses as COUNT(DISTINCT) (distinct aggs
      // need a full regroup per trigger): keyed state instead carries
      // the per-(day, type) user SET via collect_set, whose merge is
      // set-union — associative and idempotent, so re-delivered rows
      // and partial merges land on the same end state, and the replay
      // equals the batch answer bit-for-bit (the oracle). State bound:
      // |users active that day| per key — fine for per-day fleet
      // cardinalities; when the key's cardinality itself is the
      // problem, the scale paths are approx_count_distinct (HLL state,
      // stream_* twin of agg_hll_merge) or the chained
      // dropDuplicates→count pipeline, both trading this query's
      // exactness for O(1)/O(dups) state.
      val DayUs = 86400000000L
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_events"),
          size(collect_set(col("user_id"))).cast("long").as("n_users"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("day", "event_type")
    },

    "stream_countmin" -> { (spark, dir) =>
      // Streaming COUNT-MIN — the frequency twin of stream_quantile's
      // histogram: state is the d=4 × w=256 counter grid over
      // event_type tokens (the agg_countmin hash family), maintained
      // as a Complete-mode (j, bucket) count — addition-mergeable, so
      // partial merges and replays land on the same end state and the
      // batch sketch is the oracle. Probes (the 5 event types) resolve
      // at read time against the ≤1024-row sink: estimate = min over
      // rows, conservative by construction. O(1) state in stream
      // length — the shape a live frequency service keeps per shard.
      val P = 2147483647L
      val hashed = eventStream(spark, dir)
        .select(col("event_type").as("t"))
        .withColumn("h", graft.operators.TextDedup.hash56(col("t")) % P)
      val counters = hashed
        .select(col("h"), explode(sequence(lit(0L), lit(3L))).as("j"))
        .withColumn("bucket",
          ((lit(2L) * col("j") + 3L) * col("h")
            + (lit(5L) * col("j") + 7L)) % P % 256)
        .groupBy("j", "bucket")
        .agg(count(lit(1)).as("cnt"))
      val sink = runToMemory(spark, counters, OutputMode.Complete())
      val probes = Tables.events(spark, dir)
        .groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("exact"))
        .withColumn("h",
          graft.operators.TextDedup.hash56(col("t")) % P)
        .withColumn("j", explode(sequence(lit(0L), lit(3L))))
        .withColumn("bucket",
          ((lit(2L) * col("j") + 3L) * col("h")
            + (lit(5L) * col("j") + 7L)) % P % 256)
      probes.join(sink, Seq("j", "bucket"))
        .groupBy("t", "exact").agg(min("cnt").as("cm_est"))
        .select(col("t").as("event_type"), col("exact"), col("cm_est"),
          (col("cm_est") - col("exact")).as("overestimate"))
        .orderBy("event_type")
    },

    "stream_quantile" -> { (spark, dir) =>
      // Streaming quantiles via a MERGEABLE fixed-bin histogram — the
      // deterministic stand-in for t-digest/KLL: the stream maintains
      // one count per (event_type, unit-width value bin); bin counts
      // merge by addition (associative, idempotent partial merges), so
      // the replay end-state equals the batch histogram bit-for-bit.
      // Quantile EXTRACTION is a read-time fold over the ≤ ~500-row
      // grid (bounded two-phase window, never raw rows): the smallest
      // bin whose cumulative count reaches ceil(q·n) — an estimate
      // exact to the 1.0 bin width, the sketch trade stated up front
      // (Wave90Spec pins the error bound against exact percentiles).
      // State: |types|·|bins| longs, O(1) in the stream length — the
      // property that makes this the 100 TB continuous-quantile shape.
      val hist = eventStream(spark, dir)
        .withColumn("bin",
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("cnt"))
      val sink = runToMemory(spark, hist, OutputMode.Complete())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bin")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
      sink
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wAll))
        .groupBy("event_type")
        .agg(max(col("n")).as("nn"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("bin")))
            .as("b50"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("bin")))
            .as("b90"),
          min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("bin")))
            .as("b99"))
        .select(col("event_type"), col("nn").as("n"),
          col("b50").cast("double").as("p50_est"),
          col("b90").cast("double").as("p90_est"),
          col("b99").cast("double").as("p99_est"))
        .orderBy("event_type")
    },

    "stream_peaks" -> { (spark, dir) =>
      // Online PEAK detection — the streaming twin of events_peaks: a
      // reading is confirmed a peak once its two successors have
      // arrived (detection latency = 2 readings, the price of the
      // two-sided prominence test). State per user = the last 4
      // readings (a 5-slot sliding window), ~100 bytes regardless of
      // stream length; each batch folds its rows in (ts, event_id)
      // order and emits the window's center whenever it strictly tops
      // all four neighbors by ≥ 500 cents. Exact integer comparisons —
      // the emits hash-match the batch events_peaks oracle verbatim.
      // Correct under per-user time-ordered admission (AvailableNow
      // replay; the fillForward/funnelStages contract).
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .as[(Long, Long, Long, Long)]
      val out = typed.groupByKey(_._1)
        .flatMapGroupsWithState[Array[(Long, Long, Long)],
          (Long, Long, Long, Double, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (u: Long, rows: Iterator[(Long, Long, Long, Long)],
              state: GroupState[Array[(Long, Long, Long)]]) =>
            var buf = state.getOption.getOrElse(Array.empty)
            val emits = Seq.newBuilder[(Long, Long, Long, Double, Double)]
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              buf = buf :+ ((r._2, r._3, r._4))
              if (buf.length == 5) {
                val c = buf(2)._3
                val sh = math.max(math.max(buf(0)._3, buf(1)._3),
                  math.max(buf(3)._3, buf(4)._3))
                if (c > sh && c - sh >= 500)
                  emits += ((u, buf(2)._1, buf(2)._2,
                    c.toDouble / 100, (c - sh).toDouble / 100))
                buf = buf.drop(1)
              }
            }
            state.update(buf)
            emits.result().iterator
        }
      runToMemory(spark,
        out.toDF("user_id", "ts_us", "event_id", "value", "prominence"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_ohlc" -> { (spark, dir) =>
      // Streaming candlestick compaction — the online twin of
      // events_ohlc: per (vehicle, hour) open/high/low/close maintained
      // incrementally in keyed state. Open/close are min_by/max_by on
      // the (ts_us, event_id) struct — ASSOCIATIVE picks, so partial
      // aggregates merge exactly and the replay end-state equals the
      // batch window answer (same oracle verbatim); high/low are plain
      // min/max. This is the compaction a telemetry ingest runs
      // continuously so chart reads never touch raw rows.
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .withColumn("hr", expr(s"ts_us div $HourUs * $HourUs"))
        .groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n"),
          min_by(col("value"), struct(col("ts_us"), col("event_id")))
            .as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts_us"), col("event_id")))
            .as("close"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("user_id", "hr")
    },

    "stream_sample" -> { (spark, dir) =>
      // Deterministic hash sampling at INGEST — the stateless map-only
      // streaming shape (no aggregation, no state store): keep events
      // whose engine-independent 56-bit content hash lands in a 5%
      // bucket, emit rows as they arrive (append mode). The stream twin
      // of sample_hash's policy: the same rows are kept on ANY replay,
      // engine, or partitioning — which is what makes downsampled
      // ingest reproducible enough to debug against the full batch.
      val s = eventStream(spark, dir)
        .filter(TextDedup.hash56(col("event_id").cast("string")) % 100 < 5)
        .select("event_id", "user_id", "event_type", "value")
      runToMemory(spark, s, OutputMode.Append())
        .orderBy("event_id")
    },

    "stream_topk" -> { (spark, dir) =>
      // Streaming heavy hitters: per-(hour, type) counts accumulate in
      // keyed StateStore partitions exactly like stream_tumbling; the
      // top-3 CUT is a batch post-step over the landed aggregate — the
      // serving-layer read. That split is deliberate: ranks are not
      // incrementally maintainable without re-emitting whole windows on
      // every update, so the streaming artifact is the (associative,
      // mergeable) count table and rank stays a cheap window over ≤
      // |types| rows per bucket at read time.
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .withColumn("bucket_us", col("ts_us") - (col("ts_us") % HourUs))
        .groupBy("bucket_us", "event_type")
        .agg(count(lit(1)).as("n"))
      runToMemory(spark, agg, OutputMode.Complete())
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("bucket_us")
            .orderBy(col("n").desc, col("event_type"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select("bucket_us", "rnk", "event_type", "n")
        .orderBy("bucket_us", "rnk")
    },

    "stream_static_join" -> { (spark, dir) =>
      // Stream–static dimension enrichment — THE production streaming
      // join: each micro-batch of the event stream joins the static
      // customer dimension (user_id ↔ c_custkey) and aggregates per
      // (hour, market segment). The static side is broadcast, so the
      // join is stateless — no StateStore, no watermark interaction on
      // the dim side (unlike stream_stream_join, where both sides hold
      // state). At 100 TB this is the right split: dimension changes go
      // through a slowly-refreshed broadcast (or a keyed state rebuild),
      // while per-event state stays bounded by the window watermark.
      val dim = Tables.table(spark, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .join(broadcast(dim), Seq("user_id"))
        .withColumn("bucket_us", col("ts_us") - (col("ts_us") % HourUs))
        .groupBy("bucket_us", "c_mktsegment")
        .agg(count(lit(1)).as("n"), Canon.meanOf(col("value")).as("avg_value"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("bucket_us", "c_mktsegment")
    },

    "stream_sliding" -> { (spark, dir) =>
      // SLIDING window (1 h width, 30 min slide) — the overlapping-window
      // streaming aggregate the tumbling query can't express. Spark's
      // window() generates both covering windows per event BEFORE the
      // shuffle (a 2× Expand map-side), then the state store keys on
      // (window, event_type) — state is bounded by watermark eviction,
      // and each window's partial aggregates merge associatively, so at
      // cluster scale the 2× fanout is the only overlap cost. Output on
      // the canonical epoch-µs axis: every event lands in exactly two
      // 30-min-aligned window starts.
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .groupBy(window(col("ts_t"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Canon.meanOf(col("value")).as("avg_value"))
        .select(unix_micros(col("window.start")).as("start_us"),
          col("event_type"), col("n"), col("avg_value"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("start_us", "event_type")
    },

    "stream_late_drop" -> { (spark, dir) =>
      // Watermark LATE-DATA semantics made deterministic and therefore
      // oracle-checkable: three pinned micro-batches (see
      // [[lateReplayStream]]), a 30-min watermark, 1-h tumbling counts
      // in APPEND mode. The stragglers arrive after their windows were
      // evicted and are DROPPED (never counted); the emitted table is
      // exactly the on-time windows the final watermark has passed.
      // Every rule is a pure function of the fixture + the pinned batch
      // split, so DuckDB replays it exactly — the streaming analog of
      // the knn_search_ivf "approximation ≠ nondeterminism" principle.
      val agg = lateReplayStream(spark, dir)
        .withWatermark("ts_t", "30 minutes")
        .groupBy(window(col("ts_t"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_us"),
          col("n_events"))
      runToMemory(spark, agg, OutputMode.Append()).orderBy("win_us")
    },

    "stream_session_window" -> { (spark, dir) =>
      val agg = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
      runToMemory(spark, agg, OutputMode.Complete())
        .orderBy("user_id", "start_us")
    },

    "stream_dedup" -> { (spark, dir) =>
      val deduped = eventStream(spark, dir)
        .withWatermark("ts_t", "10 minutes")
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      runToMemory(spark, deduped, OutputMode.Complete())
        .orderBy("event_type")
    },

    "stream_stream_join" -> { (spark, dir) =>
      // Stream-stream inner join (StreamingSymmetricHashJoinExec): each
      // signup joined to the same user's purchases within the following
      // hour. The time-range condition bounds join state on both sides
      // (with the watermark, old rows are evictable in a continuous
      // run); the full replay emits exactly the batch join's pairs.
      val ev = eventStream(spark, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("s_event"),
          col("ts_t").as("s_t"), col("ts_us").as("s_us"))
        .withWatermark("s_t", "10 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
          col("ts_t").as("p_t"), col("ts_us").as("p_us"))
        .withWatermark("p_t", "10 minutes")
      val joined = signups.join(purchases,
        col("s_user") === col("p_user")
          && col("p_t") >= col("s_t")
          && col("p_t") <= col("s_t") + expr("interval 1 hour"))
        .select("s_user", "s_event", "p_event", "s_us", "p_us")
      runToMemory(spark, joined, OutputMode.Append())
        .orderBy("s_user", "s_event", "p_event")
    },

    "stream_join_outer" -> { (spark, dir) =>
      // Stream-stream LEFT OUTER join — the completion semantics the
      // inner join can't show: a signup with no purchase in its hour
      // emits null-extended ONLY once the watermark proves no match can
      // still arrive. That gate is deterministic under the AvailableNow
      // replay (the final no-data micro-batch advances the watermark to
      // max event time − 10 min and flushes evictable state), so the
      // oracle can state it in SQL: matched pairs ∪ unmatched signups
      // whose entire match window [s_t, s_t+1h] closed before the final
      // watermark. Signups younger than that hold state and emit
      // NOTHING — exactly what a continuous run would do, and the
      // measurable difference between outer-join streaming semantics
      // and the batch left join.
      val ev = eventStream(spark, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("s_event"),
          col("ts_t").as("s_t"), col("ts_us").as("s_us"))
        .withWatermark("s_t", "10 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
          col("ts_t").as("p_t"), col("ts_us").as("p_us"))
        .withWatermark("p_t", "10 minutes")
      val joined = signups.join(purchases,
          col("s_user") === col("p_user")
            && col("p_t") >= col("s_t")
            && col("p_t") <= col("s_t") + expr("interval 1 hour"),
          "left_outer")
        .select(col("s_user"), col("s_event"), col("p_event"),
          col("s_us"), col("p_us"))
      runToMemory(spark, joined, OutputMode.Append())
        .orderBy("s_user", "s_event", "p_event")
    },

    "stream_stateful_counter" -> { (spark, dir) =>
      import spark.implicits._
      val counted = eventStream(spark, dir)
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
            val prev = state.getOption.getOrElse(0L)
            val now = prev + rows.size
            state.update(now)
            Iterator((user, now))
        }
      runToMemory(spark, counted.toDF("user_id", "n_events"),
          OutputMode.Append())
        .groupBy("user_id").agg(max("n_events").as("n_events")) // last emit
        .orderBy("user_id")
    },

    "stream_funnel" -> { (spark, dir) =>
      // Streaming funnel: per-user milestone state machine over
      // flatMapGroupsWithState — the online form of events_funnel.
      // State = (t1, t2, t3) milestones (MinValue sentinel = unreached);
      // each micro-batch's group rows are sorted by event time and
      // folded through the strict-ordering transitions, so milestones
      // only ever accumulate. On the full AvailableNow replay the end
      // state equals the batch answer exactly — the funnel oracle
      // applies verbatim. A continuous run additionally needs strictly
      // time-ordered admission per user (a watermark only bounds
      // lateness — see funnelStages' scaladoc); state is 24 bytes/user,
      // partitioned by user across the cluster's state stores.
      import spark.implicits._
      val staged = funnelStages(
        eventStream(spark, dir)
          .select(col("user_id"), col("event_type"), col("ts_us"))
          .as[(Long, String, Long)])
      val lastStage = runToMemory(spark, staged.toDF("user_id", "stage"),
          OutputMode.Append())
        .groupBy("user_id").agg(max("stage").as("stage")) // last emit wins
      lastStage
        .agg(
          count(when(col("stage") >= 1, 1)).as("c1"),
          count(when(col("stage") >= 2, 1)).as("c2"),
          count(when(col("stage") >= 3, 1)).as("c3"))
        .select(explode(array(
          struct(lit("step1_view").as("step"), col("c1").as("users")),
          struct(lit("step2_click").as("step"), col("c2").as("users")),
          struct(lit("step3_purchase").as("step"), col("c3").as("users"))))
          .as("s"))
        .select(col("s.step").as("step"), col("s.users").as("users"))
        .orderBy("step")
    },

    "stream_fill_forward" -> { (spark, dir) =>
      // Online LOCF — the streaming twin of win_fill_forward (same
      // oracle): state = the last observed value per user (one boxed
      // double). Each batch's group rows sort by (ts_us, event_id) and
      // fold left-to-right; every event emits its filled value. Exact
      // under per-user time-ordered batch admission — the AvailableNow
      // replay and time-sharded batches satisfy it; a watermark alone
      // would NOT (a late event would both need earlier state and
      // revise already-emitted later fills — same precondition as
      // funnelStages, see its scaladoc).
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .withColumn("v_gap",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("v_gap"))
        .as[(Long, Long, Long, Option[Double])]
      runToMemory(spark,
        fillForward(typed)
          .toDF("user_id", "ts_us", "event_id", "v_gap", "v_filled"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_anomaly" -> { (spark, dir) =>
      // Online anomaly detection — the STREAMING z-score: each event is
      // judged against its user's statistics over events seen BEFORE it
      // (≥10 prior readings, |z| > 2.5), the semantics a live detector
      // actually has (events_anomaly's full-corpus z is the offline
      // twin). State per user is three exact integers — n, Σcents,
      // Σcents² (value is 2-dp, so cents are lossless longs and the
      // prefix moments are order-exact) — ~24 bytes however long the
      // stream runs. The z arithmetic is double ops on those integers,
      // mirrored operation-for-operation by the oracle's prefix-window
      // SQL, so the online emits are fully hash-checkable. Correct
      // under per-user time-ordered admission (AvailableNow replay;
      // same precondition as fillForward/funnelStages).
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      runToMemory(spark,
        onlineAnomaly(typed).toDF("user_id", "ts_us", "event_id", "value", "z"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_pit_features" -> { (spark, dir) =>
      // Online feature serving: [[pitFeaturesStream]] — the streaming
      // twin of features_pit_assemble (same oracle SQL), proving the
      // batch window semantics and the online state machine agree
      // row-for-row under ordered admission.
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)]
      runToMemory(spark,
        pitFeaturesStream(typed).toDF("user_id", "ts_us", "event_id",
          "last_view_value", "us_since_view", "views_1h"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_geofence" -> { (spark, dir) =>
      // Geofence enter/exit events over the live feed — the alerting
      // query a fleet API serves ("vehicle entered the depot"): the
      // deterministic synthetic position (same 56-bit-hash grid as the
      // Spatial group) tests against a fixed fence rectangle, and
      // [[geofenceStream]] emits only TRANSITIONS, one boolean of
      // state per vehicle. Hash-checkable: the oracle's lag window
      // reconstructs the same transition stream.
      import spark.implicits._
      val inside = (c: org.apache.spark.sql.Column) =>
        c >= 300000L && c < 700000L
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (inside(TextDedup.hash56(concat(lit("x:"),
              col("event_id").cast("string"))) % 1000000L)
            && inside(TextDedup.hash56(concat(lit("y:"),
              col("event_id").cast("string"))) % 1000000L)).as("in_fence"))
        .as[(Long, Long, Long, Boolean)]
      runToMemory(spark,
        geofenceStream(typed).toDF("user_id", "ts_us", "event_id",
          "transition"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_vshape" -> { (spark, dir) =>
      // Streaming pattern matching (CEP) — the online twin of
      // win_pattern_vshape: detect drop-then-rebound reversals as
      // events arrive, with constant per-key state (see
      // [[vshapeStream]]). Fully hash-checkable against the batch lag
      // window because AvailableNow replay admits each user's rows in
      // time order.
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      runToMemory(spark,
        vshapeStream(typed).toDF("user_id", "ts_us", "event_id", "dip"),
        OutputMode.Append())
        .orderBy("user_id", "ts_us", "event_id")
    },

    "stream_cdc_latest" -> { (spark, dir) =>
      // Streaming CDC compaction — the online twin of cdc_latest (same
      // oracle): flatMapGroupsWithState keeps ONE winner per
      // (user_id, event_type) key, max by (ts_us, event_id), ~32 bytes
      // of state partitioned across the cluster's state stores. Each
      // batch folds its rows into the winner and emits it; winners are
      // monotone in (ts_us, event_id), so the max emit per key IS the
      // final state, and the full AvailableNow replay equals the batch
      // compaction. This is how a materialized "current state" table
      // stays fresh against a 100 TB event log without recompaction.
      import spark.implicits._
      val typed = eventStream(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"), col("value"))
        .as[(Long, String, Long, Long, Double)]
      val latest = typed
        .groupByKey(r => (r._1, r._2))
        .flatMapGroupsWithState[(Long, Long, Double),
          (Long, String, Long, Long, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (key: (Long, String),
              rows: Iterator[(Long, String, Long, Long, Double)],
              state: GroupState[(Long, Long, Double)]) =>
            var best = state.getOption
              .getOrElse((Long.MinValue, Long.MinValue, 0.0))
            rows.foreach { r =>
              if (r._3 > best._1 || (r._3 == best._1 && r._4 > best._2))
                best = (r._3, r._4, r._5)
            }
            state.update(best)
            Iterator.single((key._1, key._2, best._1, best._2, best._3))
        }
      val emits = runToMemory(spark,
        latest.toDF("user_id", "event_type", "ts_us", "event_id", "value"),
        OutputMode.Append())
      emits.groupBy("user_id", "event_type")
        .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
          .as("s"))
        .select(col("user_id"), col("event_type"),
          col("s.ts_us").as("ts_us"), col("s.event_id").as("event_id"),
          col("s.value").as("value"))
        .orderBy("user_id", "event_type")
    },

    "stream_trend" -> { (spark, dir) =>
      // Streaming per-vehicle drift slope — the ONLINE form of
      // events_trend: keyed state carries the six exact regression
      // moments (t0, n, Σx, Σy, Σxy, Σx²) as integers (x = whole
      // seconds since the vehicle's first report, y = micro-units via
      // the same HALF_UP scale-6 rounding Spark's decimal cast applies),
      // folded through flatMapGroupsWithState with each batch's rows
      // admitted in event-time order (the stream_funnel ordering
      // caveat). The closed-form slope recomputes from state at every
      // emit, each exact sum crossing to double ONCE via correctly-
      // rounded BigDecimal→double — bit-identical to the batch decimal
      // staging, so events_trend's DuckDB oracle applies VERBATIM.
      // State is 48 bytes/vehicle, partitioned across state stores;
      // the integer sums hold while n·x·y stays under 2^63 (~3.5 M
      // events/vehicle at full dynamic range — beyond that the sums
      // fold in two-long form, the stat_anova bound discipline).
      import spark.implicits._
      val slopes = trendSlopes(spark, eventStream(spark, dir))
      runToMemory(spark, slopes.toDF("user_id", "n", "slope_per_s"),
          OutputMode.Append())
        .groupBy("user_id")
        .agg(max("n").as("n"),
          expr("max_by(slope_per_s, n)").as("slope_per_s")) // last emit
        .orderBy("user_id")
    }
  )

  /** The stream_trend fold, factored out so Wave83Spec can drive it
    * with an adversarial multi-batch replay. Cross-batch ordering
    * contract: the x-origin t0 is the first event-time seen for the
    * key, so a LATER batch delivering an event EARLIER than t0 cannot
    * be folded exactly (x = (ts−t0) div 1e6 truncates sub-seconds —
    * shifting the origin is non-linear in the stored moments). Such an
    * arrival previously picked a wrong t0 and corrupted the integer
    * moments with no error (r8 ADVICE item 4); now the fold tracks t0
    * in state and FAILS LOUDLY instead — silent corruption is the one
    * unacceptable outcome for a correctness-gated metric. The declared
    * query replays with AvailableNow over one directory snapshot and
    * no maxFilesPerTrigger, which delivers every row in a single
    * ordered batch (asserted in Wave83Spec); a production deployment
    * with out-of-order history replays would anchor t0 from the
    * backfill's min event time first.
    */
  private[graft] def trendSlopes(spark: SparkSession,
      src: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    src
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long),
        (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, Long, Double)],
            state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (t0, n, sx, sy, sxy, sxx) = state.getOption
            .getOrElse((Long.MaxValue, 0L, 0L, 0L, 0L, 0L))
          it.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, _, v) =>
            if (ts < t0 && n > 0)
              throw new IllegalStateException(
                s"stream_trend: event for user $user at ts_us=$ts arrived " +
                  s"after the x-origin was anchored at t0=$t0 — a " +
                  "multi-batch replay delivered out of event-time order; " +
                  "refusing to fold (the truncated-seconds x cannot be " +
                  "re-origined from moments)")
            if (t0 == Long.MaxValue) t0 = ts
            val x = (ts - t0) / 1000000L
            val y = java.math.BigDecimal.valueOf(v)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
          }
          state.update((t0, n, sx, sy, sxy, sxx))
          // one correctly-rounded double per exact sum (scale-6 sums
          // go through BigDecimal — Decimal.toDouble's exact path)
          val nd = n.toDouble
          val sxd = sx.toDouble
          val sxxd = sxx.toDouble
          val syd = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(sy), 6).doubleValue()
          val sxyd = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(sxy), 6).doubleValue()
          val den = nd * sxxd - sxd * sxd
          val raw = if (den > 0) (nd * sxyd - sxd * syd) / den else 0.0
          val slope = (if (raw >= 0) math.floor(raw * 1e6 + 0.5) / 1e6
            else -math.floor(-raw * 1e6 + 0.5) / 1e6) + 0.0 // kill -0.0
          Iterator.single((user, n, slope))
      }
  }

  def oracle = Map(
    // the streaming fold reproduces the batch decimal staging exactly,
    // so the batch query's oracle applies verbatim (one SQL, two paths)
    "stream_trend" -> Telemetry.oracle("events_trend"),

    "win_tumbling_batch" ->
      s"""SELECT epoch_us(ts) - (epoch_us(ts) % $HourUs) AS bucket_us, event_type,
         |  count(*) AS n,
         |  CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS DOUBLE) AS avg_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin,

    "win_session_batch" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |b AS (SELECT user_id, event_id, ts_us,
         |  CASE WHEN ts_us - lag(ts_us) OVER w >= $GapUs
         |         OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, ts_us,
         |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       AS BIGINT) AS session_id
         |  FROM b)
         |SELECT user_id, session_id, count(*) AS n_events,
         |       min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS duration_us
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // The four stream queries replay the full fixture to completion, so
    // their end state equals the batch answer — the batch SQL IS a valid
    // oracle (upgraded from rows-only in r01).
    "stream_late_drop" ->
      // the deterministic replay's two rules in SQL: (1) stragglers
      // (event_id % 20 = 0, us < integer midpoint) never count — their
      // windows were evicted before they arrived; (2) only windows the
      // final watermark (global max - 30 min) has closed are emitted
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
         |b AS (SELECT (min(us) + max(us)) // 2 AS mid, max(us) AS mx FROM e),
         |kept AS (SELECT us FROM e, b WHERE NOT (event_id % 20 = 0 AND us < mid)),
         |agg AS (SELECT us - us % $HourUs AS win_us, count(*) AS n_events
         |        FROM kept GROUP BY 1)
         |SELECT win_us, n_events FROM agg, b
         |WHERE win_us + $HourUs <= mx - $GapUs
         |ORDER BY win_us""".stripMargin,

    "stream_distinct_users" ->
      // replay end-state == the batch distinct count (set-union merge)
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "stream_peaks" ->
      // the BATCH events_peaks oracle verbatim: the online window fold
      // emits exactly the interior peaks under ordered admission
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |l AS (SELECT user_id, t, event_id, c,
        |    lag(c, 1) OVER w AS p1, lag(c, 2) OVER w AS p2,
        |    lead(c, 1) OVER w AS n1, lead(c, 2) OVER w AS n2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |f AS (SELECT *, greatest(p1, p2, n1, n2) AS shoulder FROM l
        |  WHERE p1 IS NOT NULL AND p2 IS NOT NULL
        |    AND n1 IS NOT NULL AND n2 IS NOT NULL)
        |SELECT user_id, t AS ts_us, event_id,
        |  CAST(c AS DOUBLE) / 100 AS value,
        |  CAST(c - shoulder AS DOUBLE) / 100 AS prominence
        |FROM f WHERE c > shoulder AND c - shoulder >= 500
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "stream_countmin" ->
      // replay end-state counters == the batch sketch (additive merge)
      """WITH h AS (SELECT event_type AS t,
        |    CAST(concat('0x', substring(sha256(event_type), 1, 14))
        |      AS BIGINT) % 2147483647 AS h
        |  FROM events),
        |c AS (SELECT j,
        |    ((2 * j + 3) * h + (5 * j + 7)) % 2147483647 % 256 AS bucket,
        |    count(*) AS cnt
        |  FROM h CROSS JOIN (SELECT unnest(range(4)) AS j) GROUP BY 1, 2),
        |p AS (SELECT t, h, count(*) AS exact FROM h GROUP BY 1, 2),
        |e AS (SELECT p.t, p.exact, min(c.cnt) AS cm_est
        |  FROM p CROSS JOIN (SELECT unnest(range(4)) AS j) pj
        |    JOIN c ON c.j = pj.j
        |      AND c.bucket = ((2 * pj.j + 3) * p.h + (5 * pj.j + 7))
        |        % 2147483647 % 256
        |  GROUP BY 1, 2)
        |SELECT t AS event_type, CAST(exact AS BIGINT) AS exact,
        |  CAST(cm_est AS BIGINT) AS cm_est,
        |  CAST(cm_est - exact AS BIGINT) AS overestimate
        |FROM e ORDER BY event_type""".stripMargin,

    "stream_quantile" ->
      // replay end-state histogram == the batch histogram (additive
      // merge); identical integer ceil-rank extraction on both sides
      """WITH h AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS bin,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bin END)
        |    AS DOUBLE) AS p50_est,
        |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bin END)
        |    AS DOUBLE) AS p90_est,
        |  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bin END)
        |    AS DOUBLE) AS p99_est
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_tumbling" ->
      s"""SELECT epoch_us(ts) - (epoch_us(ts) % $HourUs) AS bucket_us, event_type,
         |  count(*) AS n,
         |  CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS DOUBLE) AS avg_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin,

    "stream_ohlc" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
         |    FROM events),
         |b AS (SELECT user_id,
         |    ts_us // $HourUs * $HourUs AS hr, ts_us, event_id, value
         |  FROM e),
         |r AS (SELECT user_id, hr, value,
         |    row_number() OVER (PARTITION BY user_id, hr
         |      ORDER BY ts_us, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, hr
         |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
         |  FROM b)
         |SELECT user_id, hr, count(*) AS n,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS close
         |FROM r GROUP BY user_id, hr ORDER BY user_id, hr""".stripMargin,

    "stream_sample" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE CAST(concat('0x', substring(
        |    sha256(CAST(event_id AS VARCHAR)), 1, 14)) AS BIGINT) % 100 < 5
        |ORDER BY event_id""".stripMargin,

    "stream_topk" ->
      s"""WITH c AS (SELECT epoch_us(ts) - (epoch_us(ts) % $HourUs) AS bucket_us,
         |    event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT bucket_us, event_type, n,
         |    row_number() OVER (PARTITION BY bucket_us
         |                       ORDER BY n DESC, event_type) AS rnk
         |  FROM c)
         |SELECT bucket_us, CAST(rnk AS BIGINT) AS rnk, event_type, n
         |FROM r WHERE rnk <= 3 ORDER BY bucket_us, rnk""".stripMargin,

    "stream_static_join" ->
      // inner join drops events whose user_id exceeds the customer range
      // (none on this referentially-total fixture, but the semantics are
      // the join's, not an assumption)
      s"""SELECT epoch_us(ts) - (epoch_us(ts) % $HourUs) AS bucket_us,
         |  c_mktsegment, count(*) AS n,
         |  CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*), 4) AS DOUBLE) AS avg_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY bucket_us, c_mktsegment""".stripMargin,

    "stream_sliding" ->
      // 1 h windows on a 30 min slide ⇒ every event is in exactly two
      // 30-min-aligned windows: starts floor₃₀(t) and floor₃₀(t) − 30 min
      // (t < floor₃₀(t) + 30 min < either start + 1 h always holds). The
      // 2-way UNION ALL is that cover, relationally.
      s"""WITH e AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
         |x AS (SELECT t - (t % $GapUs) AS start_us, event_type, value FROM e
         |      UNION ALL
         |      SELECT t - (t % $GapUs) - $GapUs AS start_us, event_type, value FROM e)
         |SELECT start_us, event_type, count(*) AS n,
         |  CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS DOUBLE) AS avg_value
         |FROM x GROUP BY 1, 2 ORDER BY start_us, event_type""".stripMargin,

    "stream_session_window" ->
      // islands formulation; session end = last event + gap, matching
      // session_window's [start, last+gap) semantics. CAST on the window
      // sum: DuckDB HUGEINT → pandas float64 would break the hash.
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |b AS (SELECT user_id, event_id, ts_us,
         |  CASE WHEN ts_us - lag(ts_us) OVER w >= $GapUs
         |         OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, ts_us,
         |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       AS BIGINT) AS session_id
         |  FROM b)
         |SELECT user_id, min(ts_us) AS start_us,
         |       max(ts_us) + $GapUs AS end_us, count(*) AS n_events
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, start_us""".stripMargin,

    "stream_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_stateful_counter" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_stream_join" ->
      // interval 1 hour == 3 600 000 000 µs on the canonical ts_us axis
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |           FROM events WHERE event_type IN ('signup', 'purchase')),
        |s AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase')
        |SELECT s.user_id AS s_user, s.event_id AS s_event,
        |       p.event_id AS p_event, s.ts_us AS s_us, p.ts_us AS p_us
        |FROM s JOIN p ON s.user_id = p.user_id
        |  AND p.ts_us >= s.ts_us AND p.ts_us <= s.ts_us + 3600000000
        |ORDER BY s_user, s_event, p_event""".stripMargin,

    "stream_join_outer" ->
      // matched pairs ∪ null-extended signups whose full match window
      // closed before the final watermark. The global watermark is the
      // MIN over the two watermark operators (each branch tracks its
      // own max event time − 10 min) — verified empirically: the
      // max-over-all-events candidate over-emits by exactly the rows
      // between the two thresholds. Signups younger than wm − 1 h hold
      // state and emit nothing
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |           FROM events WHERE event_type IN ('signup', 'purchase')),
        |s AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts_us) FROM s),
        |                    (SELECT max(ts_us) FROM p)) - 600000000 AS w),
        |m AS (SELECT s.user_id AS s_user, s.event_id AS s_event,
        |        p.event_id AS p_event, s.ts_us AS s_us, p.ts_us AS p_us
        |      FROM s JOIN p ON s.user_id = p.user_id
        |        AND p.ts_us >= s.ts_us AND p.ts_us <= s.ts_us + 3600000000),
        |um AS (SELECT s.user_id AS s_user, s.event_id AS s_event,
        |        CAST(NULL AS BIGINT) AS p_event, s.ts_us AS s_us,
        |        CAST(NULL AS BIGINT) AS p_us
        |      FROM s LEFT JOIN m ON s.event_id = m.s_event
        |      WHERE m.s_event IS NULL
        |        AND s.ts_us + 3600000000 < (SELECT w FROM wm))
        |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM um)
        |ORDER BY s_user, s_event, p_event""".stripMargin,

    // the streaming funnel's full replay converges to the batch funnel
    // exactly — the Analytics oracle applies verbatim (one definition,
    // two engines, two execution models)
    "stream_funnel" -> Analytics.oracle("events_funnel"),

    // the online compaction converges to the batch compaction — one
    // oracle serves both (same contract as stream_funnel/events_funnel)
    "stream_cdc_latest" -> DataEng.oracle("cdc_latest"),

    // online LOCF converges to the batch window fill — one oracle
    "stream_fill_forward" -> Windows.oracle("win_fill_forward"),

    "stream_pit_features" ->
      // identical to the batch features_pit_assemble oracle: the state
      // machine must reproduce the strictly-before window frames
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type, value,
        |    CASE WHEN event_type = 'view' THEN value END AS view_val,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts
        |  FROM events),
        |f AS (SELECT *,
        |    last_value(view_val IGNORE NULLS) OVER wp AS last_view_value,
        |    last_value(view_ts IGNORE NULLS) OVER wp AS last_view_us,
        |    count(view_ts) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
        |      AS views_1h
        |  FROM e
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, ts_us, event_id, last_view_value,
        |  ts_us - last_view_us AS us_since_view, views_1h
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "stream_geofence" ->
      // lag-window twin over the same synthetic geometry
      """WITH g AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    (CAST(concat('0x', substring(sha256('x:'
        |       || CAST(event_id AS VARCHAR)), 1, 14)) AS BIGINT)
        |       % 1000000 BETWEEN 300000 AND 699999)
        |    AND
        |    (CAST(concat('0x', substring(sha256('y:'
        |       || CAST(event_id AS VARCHAR)), 1, 14)) AS BIGINT)
        |       % 1000000 BETWEEN 300000 AND 699999) AS in_fence
        |  FROM events),
        |l AS (SELECT *, lag(in_fence) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS prev FROM g)
        |SELECT user_id, ts_us, event_id,
        |  CASE WHEN in_fence THEN 'enter' ELSE 'exit' END AS transition
        |FROM l WHERE prev IS NOT NULL AND prev <> in_fence
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "stream_vshape" ->
      // the lag-window twin: the state machine's (v₋₂, v₋₁) are exactly
      // lag(value, 2) / lag(value, 1) under per-user time order
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |    lag(value, 1) OVER w AS p1, lag(value, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, ts_us, event_id, p2 - p1 AS dip
        |FROM l WHERE p2 > p1 AND p1 < value
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "stream_anomaly" ->
      // the prefix-window twin of the online detector: moments over
      // ROWS ... 1 PRECEDING are exactly "events seen before this one";
      // integer-cents sums make them order-exact, and every double op
      // mirrors the state machine's arithmetic operand-for-operand
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |p AS (SELECT user_id, ts_us, event_id, value, c,
        |    count(*) OVER w AS n,
        |    sum(c) OVER w AS s1,
        |    sum(c * c) OVER w AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sc AS (SELECT user_id, ts_us, event_id, value,
        |    (c - CAST(s1 AS DOUBLE) / n) /
        |      sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))
        |      AS z,
        |    (CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) AS va,
        |    n
        |  FROM p WHERE n >= 10)
        |SELECT user_id, ts_us, event_id, value,
        |  CAST(round(z, 4) AS DOUBLE) AS z
        |FROM sc WHERE va > 0 AND abs(z) > 2.5
        |ORDER BY user_id, ts_us, event_id""".stripMargin
  )
}
