package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge into `private[sql]` surfaces — the route for
  * third-party Catalyst extensions when a SparkSessionExtensions
  * registration isn't possible (Verify/Bench's session construction is
  * driver-owned):
  *
  *  - Column ↔ Expression conversion (native expressions as Columns)
  *  - DataFrame from a custom LogicalPlan (custom operators)
  *  - runtime planner-strategy installation (experimental.extraStrategies)
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst predicate → V1 `sources.Filter` (None when the shape has
    * no source-filter form) — the translation the V1 pushdown path gets
    * for free from Spark; row-level SQL DML (UPDATE/MERGE intercepts)
    * arrives as Catalyst expressions and reuses it for the per-file
    * stats bands.
    */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Re-root a batch DataFrame as a STREAMING one (isStreaming=true on
    * the logical plan) over its compiled physical RDD — the V1
    * streaming `Source.getBatch` contract requires the returned frame
    * to be streaming, while keeping the batch plan's vectorized scan
    * (FileStreamSource's internalCreateDataFrame shape).
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Re-root a STREAMING micro-batch DataFrame as a plain batch one
    * over its compiled physical RDD — the V1 `Sink.addBatch` contract
    * hands a streaming-planned frame whose logical plan cannot be
    * re-executed through batch writers; this is the
    * ForeachBatchSink/LogicalRDD shape (the exact frame foreachBatch
    * callers already receive).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Spark's own vectorized parquet V2 scan over an EXPLICIT file
    * list (round 11 — the runtime-filterable manifest scan): an
    * InMemoryFileIndex of exactly `files` under ParquetScan, so the
    * manifest's stats-admitted set executes on the native
    * FileScan/Batch path — columnar batches, row-group pruning from
    * the pushed filters, whole-stage codegen — instead of the V1
    * bridge's Row conversion. Constructed here because ParquetScan /
    * InMemoryFileIndex / FileStatusCache are `private[sql]`.
    */
  def parquetScan(spark: SparkSession, files: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      readDataSchema: org.apache.spark.sql.types.StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.read.Scan = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      cs, files.map(f => new org.apache.hadoop.fs.Path(f)),
      Map.empty[String, String], Some(dataSchema),
      org.apache.spark.sql.execution.datasources.FileStatusCache.getOrCreate(cs))
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      cs, cs.sessionState.newHadoopConfWithOptions(Map.empty), index,
      dataSchema, readDataSchema,
      org.apache.spark.sql.types.StructType(Nil), pushed,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
  }

  /** Re-group a FileScan's planned input partitions so each partition
    * holds exactly ONE file's splits, in offset order (round 12 — the
    * native merge-on-read scan): a reader that counts rows within
    * such a partition counts rows within the FILE, which is the
    * row-position deletion-vector contract; and per-partition file
    * attribution makes file-scoped vectors a plain per-reader lookup.
    * The price is split-level parallelism within one large file —
    * paid only on DV-carrying snapshots, until their compaction.
    */
  def onePartitionPerFile(scan: org.apache.spark.sql.connector.read.Scan)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val splits = scan.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"expected FilePartition from a parquet scan, got $other")
    }
    splits.groupBy(_.filePath.toPath.getName).toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((_, fs), i) =>
        FilePartition(i, fs.sortBy(_.start)): org.apache.spark.sql
          .connector.read.InputPartition
      }.toArray
  }

  /** One HasPartitionKey partition PER FILE for storage-partitioned
    * joins (round 12; per-file since round 13): key the delegate's
    * planned splits by their file's transform value (`keyOf`, from
    * the manifest's recorded per-file virtual bands) — the shape
    * KeyGroupedPartitioning consumers require. Spark's exec-side
    * grouping (`groupPartitions`) merges same-key partitions into one
    * task group when the join needs full clustering, and its
    * partially-clustered distribution keeps them SPLIT on the larger
    * side (the SPJ skew path) — which a pre-grouped
    * one-partition-per-value plan would foreclose. Partitions come
    * back sorted by (key, file); every file must be keyed (the scan
    * only plans this when the admitted set is value-exact).
    */
  def keyedPartitions(scan: org.apache.spark.sql.connector.read.Scan,
      keyOf: Map[String, Long])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val splits = scan.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"expected FilePartition from a parquet scan, got $other")
    }
    splits.groupBy(_.filePath.toPath.getName).toSeq
      .map { case (name, fs) =>
        (keyOf.getOrElse(name, throw new IllegalStateException(
          s"unkeyed file in a keyed plan: $name")), name, fs)
      }
      .sortBy { case (k, name, _) => (k, name) }.zipWithIndex
      .map { case ((k, _, fs), i) =>
        new KeyedFilePartition(i, fs.sortBy(_.start), k)
          : org.apache.spark.sql.connector.read.InputPartition
      }.toArray
  }

  /** Data-file NAME (last path segment) of a one-file partition built
    * by [[onePartitionPerFile]] — what deletion-vector sidecars key on.
    */
  def partitionFileName(
      p: org.apache.spark.sql.connector.read.InputPartition): String =
    p match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.head.filePath.toPath.getName
      case other => throw new IllegalStateException(
        s"expected FilePartition, got $other")
    }

  /** A FilePartition carrying its storage-partition KEY (one LONG
    * bucket value) — what [[keyedPartitions]] plans and
    * KeyGroupedPartitioning's exec-side grouping reads.
    */
  class KeyedFilePartition(index: Int,
      files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      key: Long)
      extends org.apache.spark.sql.execution.datasources.FilePartition(
        index, files)
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](key))
  }

  /** The session's Hadoop configuration in Spark's serializable
    * wrapper (round 13 — executor-side deletion-vector loading): a
    * PartitionReader that opens sidecar files on the executor needs
    * the driver's filesystem conf shipped with the task, exactly the
    * way Spark's own file sources broadcast theirs.
    * `SerializableConfiguration` is `private[spark]`, hence bridged.
    */
  def serializableHadoopConf(spark: SparkSession)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())

  /** Run `body` on the DataFrame's physical `RDD[InternalRow]`
    * (`QueryExecution.toRdd`, without the Row conversion tax) as one
    * SQL execution named `name`, the way `df.write` runs: query
    * execution listeners and the SQL UI see its plan. Rows may be
    * reused per-partition — consumers must write/copy eagerly.
    */
  def executeRows[T](df: org.apache.spark.sql.DataFrame, name: String)(
      body: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow] => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some(name))(body(qe.toRdd))
  }

  /** A serializable per-task parquet writer kit (round 13 — the
    * native V2 BatchWrite): `ParquetUtils.prepareWrite` configures the
    * session's real write support (compression, timestamp encoding,
    * legacy-format flags) into a job conf exactly the way
    * FileFormatWriter does, and the returned factory opens Spark's own
    * `ParquetOutputWriter` per task — InternalRow in, vectorizable
    * parquet out, no Row conversion. All the types involved are
    * `private[sql]`, hence bridged behind this wrapper.
    */
  def parquetWriteKit(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): ParquetWriteKit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      cs.sessionState.newHadoopConf())
    val factory = org.apache.spark.sql.execution.datasources.parquet
      .ParquetUtils.prepareWrite(cs.sessionState.conf, job, schema,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetOptions(Map.empty[String, String], cs.sessionState.conf))
    // a local file is created without a `chmod` process
    _root_.graft.operators.LocalCheckpointFiles.useNioPermissions(
      job.getConfiguration)
    new ParquetWriteKit(factory, schema,
      new org.apache.spark.util.SerializableConfiguration(
        job.getConfiguration))
  }

  class ParquetWriteKit(
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      schema: org.apache.spark.sql.types.StructType,
      conf: org.apache.spark.util.SerializableConfiguration)
      extends Serializable {
    /** Open one parquet file at `path` (executor-side). */
    def open(path: String, partitionId: Int, taskId: Long): RowFileWriter = {
      val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
        new org.apache.hadoop.mapreduce.TaskID(
          new org.apache.hadoop.mapreduce.JobID("graft", 0),
          org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt)
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf.value, attempt)
      new RowFileWriter(factory.newInstance(path, schema, ctx))
    }
  }

  class RowFileWriter(
      w: org.apache.spark.sql.execution.datasources.OutputWriter) {
    def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit =
      w.write(r)
    def close(): Unit = w.close()
  }

  /** The session's SQL parser (for wrapping — a parser cannot be
    * installed on a LIVE session the way planner strategies can).
    */
  def parser(spark: SparkSession)
      : org.apache.spark.sql.catalyst.parser.ParserInterface =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser

  /** A registered V2 catalog plugin by name. */
  def catalog(spark: SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
      .catalog(name)

  /** Install a planner strategy on a live session (idempotent). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
