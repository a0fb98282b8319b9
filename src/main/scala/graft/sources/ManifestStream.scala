package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.operators.ManifestTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** Structured Streaming FROM a manifest table through the REGISTERED
  * source (round 10 — r9-VERDICT task 3):
  *
  * {{{
  * spark.readStream.format("graft-manifest")
  *   .option("path", "/tables/orders")
  *   .option("maxVersionsPerTrigger", "1")   // one micro-batch per commit
  *   .option("startingVersion", "0")         // 0 = the whole table
  *   .load()
  * }}}
  *
  * OFFSETS ARE COMMIT VERSIONS: micro-batch (start, end] is exactly
  * [[ManifestTable.readIncremental]](start, end) — the files the log
  * added in that version range, planned as one vectorized parquet scan
  * — and `startingVersion` is INCLUSIVE of that version's own changes
  * (`startingVersion=v` streams v, v+1, …), matching the Delta option
  * of the same name this source's docs invoke; 0 (the default) means
  * the whole table (round-10 ADVICE fix: the old exclusive reading
  * silently dropped one commit from ported pipelines)
  * (the V1 `Source.getBatch`-returns-a-DataFrame contract, the same
  * integration shape Delta's streaming source uses — a bespoke
  * `PartitionReader` would re-implement Spark's parquet reader without
  * its vectorization). Exactly-once is the offset WAL composed with
  * the log's immutable versions: a replayed batch re-reads the same
  * version range and gets byte-identical rows.
  *
  * Pacing implements [[SupportsTriggerAvailableNow]] directly (the
  * FileStreamSource/Kafka pattern): `prepareForTriggerAvailableNow`
  * pins the log head ONCE at query start and `latestOffset` advances
  * at most `maxVersionsPerTrigger` commits per batch toward it —
  * under the engine's generic wrapper a rate-limited source would
  * stall at its first page instead.
  *
  * The append-only guard is inherited from readIncremental: a
  * compaction/merge inside the streamed range fails loudly (rewritten
  * files would re-surface rows the consumer already saw) — the same
  * default contract as Delta's source without `ignoreChanges`.
  * Column-mapped tables read files under PHYSICAL names and alias
  * back to the logical schema, like every other read surface.
  */
private[graft] class ManifestStreamSource(ctx: SQLContext, root: Path,
    override val schema: StructType, baseVersion: Long,
    maxVersionsPerTrigger: Long, ignoreDeletes: Boolean)
    extends Source with SupportsTriggerAvailableNow {

  // the log head pinned at AvailableNow start; None = unbounded
  // (ProcessingTime triggers chase the live head)
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(ManifestTable.latestVersion(root).toLong)

  private def versionOf(o: AnyRef): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case o: OffsetV2 => o.json.trim.toLong
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** At most `maxVersionsPerTrigger` commits past the last processed
    * version, never past the AvailableNow pin (or the live head).
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val base = Option(start).map(versionOf).getOrElse(baseVersion)
    val head = ManifestTable.latestVersion(root).toLong
    val cap = availableNowCap.fold(head)(math.min(_, head))
    // saturating step: base + Long.MaxValue (the unlimited default)
    // must not overflow past the cap
    val next = base + math.min(maxVersionsPerTrigger,
      math.max(0L, cap - base))
    if (next <= base) start else LongOffset(next)
  }

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(ManifestTable.latestVersion(root).toLong)

  // the engine calls latestOffset (SupportsAdmissionControl) instead
  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) replaces getOffset for " +
      "admission-controlled sources")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(baseVersion)
    val to = versionOf(end)
    val spark = ctx.sparkSession
    // merge-on-read DELETES are data changes the file-delta stream
    // cannot represent (a DV commit has an empty file delta, and a
    // stream starting below an outstanding vector would re-emit the
    // deleted rows raw). Vectors OUTSTANDING at the range start are
    // just as unrepresentable as ones committed inside it (round-10
    // ADVICE fix): a key-based DV from before the stream subtracts
    // in-range appends of its keys on every BATCH read, so emitting
    // those appends raw would diverge the stream from the batch view
    // of the same version. Fail loudly unless the caller opted into
    // append-only (raw file-delta) semantics, Delta's ignoreDeletes
    // contract.
    if (!ignoreDeletes) {
      def lists(v: Int): (Seq[String], Seq[String], Seq[String]) =
        if (v < 1) (Nil, Nil, Nil)
        else (ManifestTable.dvsFor(root, v),
          ManifestTable.scopedDvsFor(root, v),
          ManifestTable.rowDvsFor(root, v))
      val atStart = lists(from.toInt)
      if (atStart != lists(to.toInt) ||
          atStart != ((Nil, Nil, Nil)))
        throw new IllegalStateException(
          s"stream range v$from→v$to contains or starts below " +
          "merge-on-read deletes (deletion-vector commits), which a " +
          "file-delta stream cannot represent — set " +
          ".option(\"ignoreDeletes\", \"true\") to stream append-only " +
          "semantics, or compact the table first")
    }
    // files carry PHYSICAL names; the stream's fixed schema is LOGICAL
    val cmap = ManifestTable.columnMap(root, to.toInt)
    val physSchema = StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    val delta = ManifestTable.readIncremental(spark, root, from.toInt,
      to.toInt, physSchema)
    val logical =
      if (cmap.isEmpty) delta
      else delta.select(schema.fields.toSeq.map(f =>
        col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
    // the engine asserts isStreaming on the returned plan; re-root the
    // compiled (vectorized) scan as a streaming DataFrame
    bridge.asStreaming(logical)
  }

  override def stop(): Unit = ()

  override def toString: String = s"ManifestStreamSource[$root]"
}

/** Structured Streaming INTO a manifest table through the REGISTERED
  * sink (round 11 — r10-VERDICT task 3; until now the declared sink
  * query drove [[graft.operators.ManifestTable.commitBatch]] through a
  * foreachBatch harness):
  *
  * {{{
  * df.writeStream.format("graft-manifest")
  *   .option("path", "/tables/events")
  *   .option("statsColumns", "event_id")        // typed per-file stats
  *   .option("checkpointLocation", …)
  *   .start()
  * }}}
  *
  * `addBatch` IS the commit-ledger protocol: each micro-batch is one
  * atomic O(delta) snapshot commit carrying its batch id in the
  * manifest header, and a REPLAYED batch (the engine's at-least-once
  * re-delivery after a failure) finds its id in the ledger and no-ops
  * before staging — the transactional-sink half of exactly-once (the
  * source half is the engine's checkpointed offset WAL). Append mode
  * appends; Complete mode (aggregate queries) replaces the live set
  * with the batch under the same ledger; Update has no manifest
  * equivalent and is rejected. The streaming frame is re-rooted as a
  * batch one over its compiled RDD (`bridge.asBatch` — the
  * ForeachBatchSink shape) because V1 sinks receive streaming-planned
  * frames no batch writer may re-plan.
  */
private[graft] class ManifestStreamSink(ctx: SQLContext, root: Path,
    longCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
    decCols: Seq[String], complete: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val df = bridge.asBatch(data)
    if (!complete) {
      // HIDDEN PARTITIONING composes with the stream (round 12): a
      // table created PARTITIONED BY bucket/truncate/days gets its
      // micro-batches laid out BY THE TRANSFORMS with virtual
      // per-file stats — exactly like a batch INSERT — so hidden
      // pruning skips streamed files too (until now streamed files
      // carried no __pt* stats and every derived band admitted them:
      // correct, but unprunable). Same ledger-idempotent commit.
      val latest = ManifestTable.latestVersion(root)
      val transforms =
        if (latest == 0) Nil
        else ManifestTable.partTransforms(root, latest)
      if (transforms.nonEmpty) {
        val targetFiles = ManifestV2Table.props(root).get("writeFiles")
          .map(_.toInt).getOrElse(16)
        ManifestTable.commitBatchLines(root, batchId) {
          val laid = transforms.foldLeft(df)((d, t) =>
              d.withColumn(t.statName, t.exprCol))
            .repartitionByRange(math.max(1, targetFiles),
              transforms.map(t => org.apache.spark.sql.functions
                .col(t.statName)): _*)
          ManifestTable.stage(laid, root, s"b$batchId",
            (longCols ++ transforms.map(_.statName)).distinct,
            strCols, dblCols, decCols)
        }: Unit
      } else ManifestTable.commitBatchTyped(df, root, batchId, longCols,
        strCols, dblCols, decCols): Unit
    } else {
      // Complete mode: the batch is the WHOLE result — a full
      // checkpoint commit replacing the live set, under the same
      // replay ledger (an already-committed id no-ops before
      // staging; the INCREMENTAL ledger — a long-lived sink must not
      // pay O(versions) header reads per batch, the wave-137 rule).
      // The outer check only SAVES the staging work; the binding
      // check re-runs inside the publish retry (round 12 —
      // r11-ADVICE fix: two racing replays of one batch id both
      // passed the old outside-the-loop check and both published,
      // breaking the one-commit-per-batch-id ledger invariant).
      if (!ManifestTable.committedBatchesCached(root).contains(batchId)) {
        val staged = ManifestTable.stage(df, root, s"b$batchId-c",
          longCols, strCols, dblCols, decCols)
        ManifestTable.commitCheckpointBatch(root, staged, batchId,
          Some(df.schema)): Unit
      }
    }
  }

  override def toString: String = s"ManifestStreamSink[$root]"
}

private[graft] object ManifestStreamSource {

  def resolve(ctx: SQLContext, userSchema: Option[StructType],
      parameters: Map[String, String]): (Path, StructType) = {
    val root = Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest stream needs .option(\"path\", <table root>)")))
    require(Files.isDirectory(root.resolve("_manifests")),
      s"$root is not a graft manifest table (no _manifests/)")
    require(!parameters.contains("version") && !parameters.contains("asof"),
      "version/asof pins are batch-read concepts; a stream starts at " +
      ".option(\"startingVersion\", <v>) and follows the log")
    val schema = userSchema.getOrElse {
      val latest = ManifestTable.latestVersion(root)
      require(latest >= 1,
        s"cannot infer a stream schema from empty table $root — " +
        "pass .schema(...) or commit a first version")
      ManifestV2.resolveSchema(ctx.sparkSession, root, latest)
    }
    (root, schema)
  }

  def create(ctx: SQLContext, userSchema: Option[StructType],
      parameters: Map[String, String]): ManifestStreamSource = {
    val (root, schema) = resolve(ctx, userSchema, parameters)
    // startingVersion is INCLUSIVE (Delta's contract for the same
    // option): the first micro-batch starts at (v-1, …], so v's own
    // files are streamed; 0 = the whole table
    val base = parameters.get("startingVersion").map(_.toLong)
      .getOrElse(0L) match {
      case v if v <= 0 => 0L
      case v => v - 1
    }
    new ManifestStreamSource(ctx, root, schema, base,
      parameters.get("maxVersionsPerTrigger").map(_.toLong)
        .getOrElse(Long.MaxValue),
      parameters.get("ignoreDeletes").exists(_.toBoolean))
  }
}
