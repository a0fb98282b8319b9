package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Central fixture loader for the ten parquet tables (FIXTURES.md).
  *
  * Scale notes: every reader goes through `spark.read.parquet`, i.e. the
  * vectorized columnar scan, under a schema resolved once per state of
  * the files ([[schemaOf]]). Column pruning and predicate pushdown are left
  * to Catalyst — query functions select/filter declaratively and the scan
  * node picks up `ReadSchema`/`PushedFilters` automatically, which is the
  * property that matters when the same query runs over 100 TB instead of a
  * single local file (partition pruning / row-group skipping compose with
  * the identical plan).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table under its resolved schema ([[schemaOf]]).
    * `events.ts` is physically parquet timestamp[ns], which Spark 4.x
    * refuses by default (PARQUET_TYPE_ILLEGAL); `nanosAsLong` reads it as
    * epoch-nanos LongType. It is set lazily here, before the schema is
    * resolved, so every events-touching query works under the driver's
    * vanilla session (Verify.scala does not set it). The cache does not
    * make it redundant: the conf is part of the resolver's key, so a
    * session that never set it misses and infers under its own confs,
    * which fails on timestamp[ns]. It can go once one session set-up
    * sets it for every session.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, resolved once per
    * state of the files: inference runs a Spark job (footer reads in
    * `mergeSchemasInParallel`) on every call, while a read handed the
    * schema starts none. An entry is keyed by the path and
    * the session's values of [[inferenceConfs]], and holds the path's
    * [[operators.ArtifactCache.fingerprint]] (name, length and mtime of
    * the file, or of each file listed in the directory): a rewritten
    * file or an added part file misses and is inferred again, replacing
    * the stale entry. Callers that arrive while a path is inferred wait
    * for that one inference; callers of other paths do not.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val fp = operators.ArtifactCache.fingerprint(Seq(path))
    val key = (path, inferenceConfs.map(k => spark.conf.get(k)))
    val slot = schemas.compute(key,
      (_, old) => if (old != null && old.fingerprint == fp) old else new Slot(fp))
    slot.synchronized {
      if (slot.schema == null) slot.schema = spark.read.parquet(path).schema
      slot.schema
    }
  }

  /** Every session conf that changes what parquet schema inference
    * returns: the eight `ParquetToSparkSchemaConverter(SQLConf)` reads
    * (Spark 4.1), schema merging and summary files (which footers are
    * read), and partition-column type inference (partitioned layouts).
    */
  private val inferenceConfs: Seq[String] = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.CASE_SENSITIVE,
    SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES,
    SQLConf.PARTITION_COLUMN_TYPE_INFERENCE).map(_.key)

  private final class Slot(val fingerprint: String) {
    var schema: StructType = _ // guarded by this
  }
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), Slot]()

  /** Canonical epoch-µs derivation from whatever physical form the
    * fixture's `ts` column carries. The driver has shipped the events
    * table BOTH ways across rounds — parquet timestamp[ns] (read as
    * epoch-ns LONG under `nanosAsLong`) and plain timestamp[us] (read
    * as TIMESTAMP_NTZ) — so the engine branches on the resolved type
    * instead of assuming one. All sessions pin UTC, making the
    * NTZ→instant cast wall-clock-identical to DuckDB's `epoch_us(ts)`
    * on the same naive value. Branching is schema-time (plan-time), not
    * per-row: each branch is a plain codegen'd column expression.
    */
  def tsUsCol(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => expr("ts div 1000")
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case _                => unix_micros(col("ts"))
  }

  /** Pushdown-friendly `ts ∈ [fromUs, toUs)` predicate: comparisons are
    * against a CONSTANT of ts's own physical type (long or foldable
    * timestamp literal), so the parquet scan keeps min/max row-group
    * skipping — filtering on the derived `ts_us` expression instead
    * would hide the bound from the reader at 100 TB.
    */
  def tsRange(df: DataFrame, fromUs: Long, toUs: Long): Column =
    df.schema("ts").dataType match {
      case LongType =>
        col("ts") >= fromUs * 1000L && col("ts") < toUs * 1000L
      case TimestampNTZType =>
        col("ts") >= timestamp_micros(lit(fromUs)).cast(TimestampNTZType) &&
          col("ts") < timestamp_micros(lit(toUs)).cast(TimestampNTZType)
      case _ =>
        col("ts") >= timestamp_micros(lit(fromUs)) &&
          col("ts") < timestamp_micros(lit(toUs))
    }

  /** `events` with the canonical cross-engine time column: epoch
    * MICROseconds as long (≡ DuckDB `epoch_us(ts)` — verified
    * byte-equal, SURVEY.md §1.2), whatever the physical ts type.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "events")
    df.withColumn("ts_us", tsUsCol(df))
  }
}
