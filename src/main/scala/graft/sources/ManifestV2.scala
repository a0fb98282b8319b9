package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.ManifestTable
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not => fnot}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The manifest format's DataSourceV2 integration (round 10 — the
  * r9-VERDICT top task): `TableProvider` + `Table` + `ScanBuilder`
  * with filter and column pushdown, so the format is consumable
  * through Spark's modern connector surface — and, through
  * [[ManifestCatalog]], through plain SQL:
  *
  * {{{
  * CREATE TABLE gm.t (k BIGINT, v BIGINT) USING graft-manifest
  * INSERT INTO gm.t SELECT id, id * 2 FROM range(10)
  * SELECT * FROM gm.t VERSION AS OF 1 WHERE k BETWEEN 2 AND 5
  * DELETE FROM gm.t WHERE k = 3
  * }}}
  *
  * EXECUTION reuses the V1 relation through the `V1Scan` / `V1Write`
  * bridges (the migration shape Spark's own JDBC connector uses): the
  * V2 layer owns pushdown negotiation — `pushFilters` records the
  * predicates for per-file stats admission and returns them ALL as
  * residual (the stats prune is a superset admit, never an answer),
  * `pruneColumns` narrows the projection — and the bridged V1 scan
  * plans through the manifest list by the shared admission rule
  * ([[FileAdmission]]), vectorized parquet read included. A bespoke
  * `PartitionReaderFactory` would duplicate Spark's parquet reader
  * without its vectorization; the bridge keeps
  * the scan on the fast path while the table still negotiates V2
  * pushdown, time travel, and SQL DML.
  */
class ManifestV2Source extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest-v2"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestV2.tableFor(options.asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    ManifestV2.tableFor(properties.asScala.toMap)
}

private[graft] object ManifestV2 {

  /** Resolve a table from `path`/`version`/`asof` options — the same
    * contract as the V1 source's read path.
    */
  def tableFor(parameters: Map[String, String]): ManifestV2Table = {
    val root = Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest-v2 needs .option(\"path\", <table root>)")))
    require(Files.isDirectory(root.resolve("_manifests")),
      s"$root is not a graft manifest table (no _manifests/)")
    val pinned = parameters.contains("version") ||
      parameters.contains("asof") || parameters.contains("tag")
    val version = parameters.get("asof") match {
      case Some(t) => ManifestTable.versionAt(root, t.toLong)
      case None => parameters.get("tag") match {
        case Some(tag) => ManifestTable.resolveTag(root, tag).getOrElse(
          throw new IllegalArgumentException(s"no tag '$tag' on $root"))
        case None => parameters.get("version").map(_.toInt)
          .getOrElse(ManifestTable.latestVersion(root))
      }
    }
    new ManifestV2Table(root, version, pinned, s"graft-manifest-v2 $root")
  }

  /** Logical schema of a committed version: `schema=` header meta
    * (evolution-aware) first, first data file's footer as fallback —
    * the V1 source's resolution order.
    */
  def resolveSchema(spark: SparkSession, root: Path, version: Int)
      : StructType = {
    require(version >= 1, s"no committed version at $root")
    ManifestTable.headerMeta(root, version).get("schema")
      .map(ManifestTable.parseSchemaMeta)
      .getOrElse {
        val fs = ManifestTable.filesFor(root, version)
        require(fs.nonEmpty, s"v$version at $root holds no data files " +
          "and no schema meta — create the table with a schema")
        // reserved __pt* layout columns (hidden partitioning) must
        // never surface through the footer fallback
        StructType(spark.read.parquet(root.resolve("data")
          .resolve(fs.head).toString).schema.fields
          .filterNot(_.name.startsWith("__pt")))
      }
  }

  /** sources.Filter → Column under a logical→physical rename; None for
    * shapes [[ManifestV2Table.deleteWhere]] cannot express (the caller
    * then reports canDeleteWhere=false and Spark raises a clear error
    * instead of deleting the wrong rows).
    */
  def filterToColumn(f: Filter, phys: String => String): Option[Column] = {
    def c(a: String) = col(phys(a))
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, p) => Some(c(a).startsWith(p))
      case StringEndsWith(a, p) => Some(c(a).endsWith(p))
      case StringContains(a, p) => Some(c(a).contains(p))
      case And(l, r) => for {
        x <- filterToColumn(l, phys); y <- filterToColumn(r, phys)
      } yield x && y
      case Or(l, r) => for {
        x <- filterToColumn(l, phys); y <- filterToColumn(r, phys)
      } yield x || y
      case Not(g) => filterToColumn(g, phys).map(fnot)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

/** One manifest table as a V2 `Table`: batch read (pushdown via the
  * scan builder), batch write (V1Write bridge onto the commit
  * protocol), and `SupportsDelete` (SQL `DELETE FROM … WHERE` as a
  * stats-pruned copy-on-write rewrite, [[ManifestTable.deleteWhereCoW]]).
  */
class ManifestV2Table(val root: Path, val snapshot: Int,
    val pinned: Boolean, tableName: String) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark = SparkSession.active

  override def name(): String = tableName

  // Table.version() is the V2 metadata hook for snapshot identity
  override def version(): String = snapshot.toString

  override lazy val schema: StructType =
    ManifestV2.resolveSchema(spark, root, snapshot)

  override def properties(): java.util.Map[String, String] =
    (ManifestV2Table.props(root) +
      (TableCatalog.PROP_PROVIDER -> "graft-manifest")).asJava

  /** The recorded hidden-partitioning transforms as V2 expressions.
    * Round 13: ALL three transform kinds report (the catalog resolves
    * bucket, days, and the width-named truncate functions since wave
    * 184 — each is join-compatible and write-distribution-resolvable).
    */
  override def partitioning(): Array[Transform] =
    ManifestTable.partTransforms(root, snapshot)
      .map(ManifestV2Table.toV2Transform).toArray

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // V1_BATCH_WRITE forces EVERY write through the V1 fallback, which
    // executes the analyzed query and drops a prepared distribution —
    // transform-laid tables therefore declare only BATCH_WRITE and
    // take the native [[ManifestBatchWrite]] (round 13); plain tables
    // keep the V1 bridge (SaveMode mapping, mergeSchema, colmap).
    // Writes target the LATEST version, so the capability checks it.
    val latest = ManifestTable.latestVersion(root)
    val transforms =
      if (latest == 0) Nil else ManifestTable.partTransforms(root, latest)
    // a sortOrder table also takes the native path: the clustering
    // request needs the true V2 write (mergeSchema appends are the
    // trade — use ALTER TABLE ADD COLUMN first)
    if (transforms.isEmpty &&
        !ManifestV2Table.props(root).contains("sortOrder"))
      caps.add(TableCapability.V1_BATCH_WRITE): Unit
    // dynamic partition overwrite (round 13): a single-transform
    // layout replaces exactly the partitions present in the source
    // ([[ManifestTable.spliceDynamicOverwrite]]); an UNPARTITIONED
    // table replaces everything — Hive/Spark's unpartitioned-dynamic
    // semantics (also keeps a session-global dynamic conf from
    // breaking plain INSERT OVERWRITE at the capability check). A
    // multi-transform tuple stays unadvertised → a clear analysis
    // error instead of a wrong per-coordinate replacement.
    if (transforms.size <= 1)
      caps.add(TableCapability.OVERWRITE_DYNAMIC): Unit
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ManifestScanBuilder(spark.sqlContext, root, snapshot, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"cannot write to a time-travel view of $root (VERSION AS OF)")
    new ManifestWriteBuilder(root, ManifestV2Table.props(root), info)
  }

  private def cmap: Map[String, String] =
    ManifestTable.columnMap(root, ManifestTable.latestVersion(root))
  private def phys(c: String): String = cmap.getOrElse(c, c)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && filters.forall(f =>
      ManifestV2.filterToColumn(f, phys).isDefined)

  /** SQL `DELETE FROM … WHERE`: the pushable conjuncts become stats
    * bands pruning the candidate files, only those are rewritten
    * (copy-on-write), the rest of the table rides the delta commit.
    * Runs against the CURRENT latest (DELETE is a write op — the
    * table's pinned analysis version is a read concept); the OCC
    * publish loop orders it serializably against racing writers.
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val s = spark
    val m = cmap
    def p(c: String) = m.getOrElse(c, c)
    val cond = filters.flatMap(ManifestV2.filterToColumn(_, p))
      .reduceOption(_ && _).getOrElse(lit(true))
    val latest = ManifestTable.latestVersion(root)
    val logical = ManifestV2.resolveSchema(s, root, latest)
    val physSchema = StructType(logical.fields.map(f =>
      f.copy(name = p(f.name))))
    val b = FilterBands.of(filters, p)
    ManifestTable.deleteWhereCoW(s, root, physSchema, cond,
      b.long, b.str, b.dbl, b.dec): Unit
  }
}

private[graft] object ManifestV2Table {

  /** A recorded layout transform as the connector expression the
    * catalog's FunctionCatalog resolves (round 13): what the write
    * path's required distribution and the scan's reported partitioning
    * both speak. Truncate reports the WIDTH-NAMED single-argument form
    * (`truncate_100(col)`, [[GraftTruncateWidthFunction]]) — a
    * literal-width argument would be a leaf of the partition
    * expression that Spark's clustered-distribution check requires
    * among the join keys, where it can never appear.
    */
  def toV2Transform(t: ManifestTable.PartTransform)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    t match {
      case b: ManifestTable.BucketTransform =>
        Expressions.bucket(b.n, b.srcCol)
      case d: ManifestTable.DaysTransform => Expressions.days(d.srcCol)
      case tr: ManifestTable.TruncateTransform =>
        Expressions.apply(s"truncate_${tr.w}",
          Expressions.column(tr.srcCol))
    }
  }
  /** CHECK constraints (round 13, wave 193 — Delta's table
    * constraints): every `check.<name>` table property is a SQL
    * predicate enforced on writes. SQL-standard semantics: a row
    * violates only when the predicate is FALSE — NULL (unknown)
    * passes, exactly the CHECK rule.
    */
  def checks(props: Map[String, String]): Seq[(String, String)] =
    props.toSeq.collect { case (k, v) if k.startsWith("check.") =>
      (k.stripPrefix("check."), v) }.sortBy(_._1)

  /** Fail loudly when any constraint is FALSE for any row of `df`
    * (short-circuit limit(1) per constraint).
    */
  def enforceChecks(df: DataFrame, cs: Seq[(String, String)],
      what: String): Unit =
    cs.foreach { case (n, pred) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val violated =
        try !df.filter(not(coalesce(expr(pred), lit(true))))
          .limit(1).isEmpty
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"CHECK constraint '$n' ($pred) does not resolve " +
              s"against $what: ${e.getMessage}", e)
        }
      require(!violated,
        s"CHECK constraint '$n' violated by $what: ($pred) is FALSE " +
        "for at least one incoming row")
    }

  /** Durable table properties (`_props.txt`, `k=v` lines) — written by
    * the catalog at CREATE TABLE, consumed by writes (statsColumns /
    * statsStringColumns make every INSERT commit stats-carrying
    * entries without per-write options, which SQL cannot pass).
    */
  def props(root: Path): Map[String, String] = {
    val f = root.resolve("_props.txt")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
  }

  def writeProps(root: Path, props: Map[String, String]): Unit = {
    val body = props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n")
    Files.write(root.resolve("_props.txt"), body.getBytes("UTF-8")): Unit
  }
}

/** Pushdown negotiation for one scan: filters are recorded for file
  * admission and ALL returned as residual (Spark re-applies them
  * row-exactly — the stats prune only skips provably-empty files);
  * `pruneColumns` narrows the projection the bridged V1 scan selects.
  */
class ManifestScanBuilder(ctx: SQLContext, root: Path, version: Int,
    fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: superset admit, Spark re-filters rows
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Every lifecycle state now builds the runtime-filterable NATIVE
    * batch scan (round 11 built it for clean snapshots — r10-VERDICT
    * task 2; round 12 extends it to deletion-vector and column-mapped
    * ones — r11-VERDICT task 3): Spark's own ParquetScan over the
    * stats-admitted file list, which (a) keeps execution columnar
    * with row-group pruning from the pushed filters — the V1 bridge
    * paid a Row conversion per row — and (b) accepts RUNTIME join
    * filters (dynamic partition pruning): a filtered dim's join keys
    * re-prune the fact side's admitted files before execution, the
    * 100 TB star-join feature. DV snapshots subtract in a row-level
    * reader wrapper ([[MorFilteredReaderFactory]] — row-mode until
    * compaction, still ahead of the bridge, which paid the same row
    * path plus a Row conversion and could not runtime-filter at all);
    * column mapping is schema aliasing of the delegate. The V1 bridge
    * remains only for a key-based vector whose sidecar key is not
    * BIGINT (outside the format's DML key contract) or whose sidecars
    * exceed the broadcast size gate (the set then subtracts as a
    * distributed anti-join instead of a broadcast lookup).
    */
  override def build(): Scan = {
    val dvs = ManifestTable.dvsFor(root, version)
    val dvps = ManifestTable.scopedDvsFor(root, version)
    val keyTypeOk = (dvs.isEmpty && dvps.isEmpty) || {
      val side = (dvs ++ dvps).head
      ctx.sparkSession.read.parquet(
          root.resolve("data").resolve(side).toString)
        .schema.fields.find(_.name != "src")
        .exists(_.dataType == org.apache.spark.sql.types.LongType)
    }
    // key vectors apply to EVERY file, so the native scan BROADCASTS
    // their set (round 13) — gated on sidecar bytes (a free driver-side
    // file-status sum, no job): above the threshold the V1 anti-join
    // scan subtracts as a distributed join instead, so the broadcast's
    // feeding collect is always bounded. Scoped/positional vectors
    // load per-file slices executor-side and need no gate.
    val keySizeOk = dvs.isEmpty || {
      val data = root.resolve("data")
      val bytes = dvs.map { f =>
        try Files.size(data.resolve(f)) catch { case _: Exception => 0L }
      }.sum
      bytes <= ManifestV2Table.props(root).get("morBroadcastBytes")
        .map(_.toLong).getOrElse(64L << 20)
    }
    if (keyTypeOk && keySizeOk)
      new ManifestRuntimeScan(ctx.sparkSession, root, version,
        fullSchema, required, pushed)
    else new ManifestV2Scan(ctx, root, version, fullSchema, required,
      pushed)
  }
}

/** The runtime-filterable native scan: V2 metadata + Spark's
  * vectorized parquet Batch over the manifest's admitted file set.
  * `filter(…)` (called by BatchScanExec when a DPP subquery resolves)
  * re-prunes the admitted set with the dim side's join keys — IN sets
  * check per-value against each file's recorded band (sorted-array
  * binary search, O(log n) per file) and derive hidden-partition
  * bands per value, so a 16-bucket layout skips by bucket even under
  * a runtime IN. The delegate ParquetScan is rebuilt per
  * planInputPartitions call, which is exactly BatchScanExec's
  * post-filter re-plan contract.
  *
  * Round 12 (r11-VERDICT task 3) extends the native path to the
  * lifecycle states that kept the V1 bridge:
  *
  *  - COLUMN MAPPING: the delegate reads under PHYSICAL names
  *    (schema aliasing — `readSchema()` stays logical; rows are
  *    positional, so no conversion exists anywhere), pushed filters
  *    and stats bands translate logical→physical. Columnar execution
  *    and DPP are preserved.
  *  - DELETION VECTORS: subtraction runs in a row-level reader
  *    wrapper ([[MorFilteredReaderFactory]]). Key vectors filter by
  *    a BROADCAST sorted key set (size-gated at build time — above
  *    the gate the V1 anti-join scan takes over); scoped/positional
  *    vectors plan ONE PARTITION PER FILE
  *    ([[bridge.onePartitionPerFile]]) for per-row file attribution
  *    and load their file's sidecar slice EXECUTOR-side
  *    ([[MorSidecars]] — the driver never materializes positions),
  *    and positional vectors additionally push NO parquet filters
  *    (a skipped row group would shift every later row index).
  *    File-level stats/bloom
  *    admission stays ON in every DV state — a skipped file only
  *    loses rows the residual predicate re-applied above the scan
  *    would drop anyway, while the subtraction handles the rows that
  *    are actually read; the V1 readMOR path could not prune at all.
  */
class ManifestRuntimeScan(spark: SparkSession, root: Path, version: Int,
    fullSchema: StructType, required: StructType, pushed: Array[Filter])
    extends Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  @volatile private var runtime: Array[Filter] = Array.empty
  // one delegate per runtime-filter state (review fix):
  // planInputPartitions and createReaderFactory both need it, and
  // rebuilding twice doubles the manifest resolution + file-status
  // listing per scan — filter() invalidates, worst case under a race
  // is one extra rebuild
  @volatile private var delegateCache: Scan = null

  private val cmap: Map[String, String] =
    ManifestTable.columnMap(root, version)
  private def phys(c: String): String = cmap.getOrElse(c, c)
  private val physFull: StructType =
    StructType(fullSchema.fields.map(f => f.copy(name = phys(f.name))))
  private val dvs = ManifestTable.dvsFor(root, version)
  private val dvps = ManifestTable.scopedDvsFor(root, version)
  private val dvrs = ManifestTable.rowDvsFor(root, version)
  private def sidecarPaths(fs: Seq[String]): Seq[String] =
    fs.map(f => root.resolve("data").resolve(f).toString)

  /** The DV key column (PHYSICAL — the sidecar carries it by
    * construction); None when no key-based vectors are outstanding.
    */
  private lazy val morKeyCol: Option[String] =
    if (dvs.isEmpty && dvps.isEmpty) None
    else Some(spark.read.parquet(sidecarPaths((dvs ++ dvps).take(1)): _*)
      .schema.fieldNames.filterNot(_ == "src").head)

  /** The delegate's read schema: the pruned projection under physical
    * names, widened by the DV key when the query projected it away
    * (the filter needs it; downstream operators bind the first
    * |required| ordinals, so a wider row is invisible to them).
    */
  private lazy val delegateRequired: StructType = {
    val pr = StructType(required.fields.map(f => f.copy(name = phys(f.name))))
    morKeyCol match {
      case Some(k) if !pr.fieldNames.contains(k) =>
        StructType(pr.fields :+ physFull.fields.find(_.name == k)
          .getOrElse(throw new IllegalStateException(
            s"DV key column '$k' absent from the physical schema of $root")))
      case _ => pr
    }
  }

  /** The vector state as a serializable row filter (round 13 — the
    * r12-VERDICT top task: no driver-side DV materialization). Key
    * vectors apply to every file, so their set is collected and
    * BROADCAST — bounded by [[ManifestScanBuilder.build]]'s sidecar
    * size gate (above it the scan falls back to the V1 anti-join), the
    * BroadcastHashJoin discipline. Scoped and positional vectors ship
    * only sidecar PATHS; each partition's reader loads its own file's
    * slice executor-side ([[MorSidecars]]). NULL sidecar keys are
    * dropped (the anti-join rule: NULL matches nothing).
    */
  private lazy val morFilter: Option[MorFilter] =
    if (dvs.nonEmpty) {
      val k = morKeyCol.get
      val keys = spark.read.parquet(sidecarPaths(dvs): _*)
        .select(col(k)).filter(col(k).isNotNull).distinct()
        .collect().map(_.getLong(0)).sorted
      Some(MorKeyFilter(delegateRequired.fieldIndex(k),
        spark.sparkContext.broadcast(keys)))
    } else if (dvps.nonEmpty) {
      val k = morKeyCol.get
      Some(MorScopedFilter(delegateRequired.fieldIndex(k), k,
        sidecarPaths(dvps), bridge.serializableHadoopConf(spark)))
    } else if (dvrs.nonEmpty) {
      Some(MorPositionalFilter(sidecarPaths(dvrs),
        bridge.serializableHadoopConf(spark)))
    } else None

  /** sources.Filter under the logical→physical rename, for the
    * delegate's parquet row-group pruning; None drops the filter from
    * the delegate only (Spark still re-applies it, under logical
    * names, above the scan).
    */
  private def renameFilter(f: Filter): Option[Filter] = f match {
    case EqualTo(a, v) => Some(EqualTo(phys(a), v))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(phys(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(phys(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(phys(a), v))
    case LessThan(a, v) => Some(LessThan(phys(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(phys(a), v))
    case In(a, vs) => Some(In(phys(a), vs))
    case IsNull(a) => Some(IsNull(phys(a)))
    case IsNotNull(a) => Some(IsNotNull(phys(a)))
    case StringStartsWith(a, p) => Some(StringStartsWith(phys(a), p))
    case StringEndsWith(a, p) => Some(StringEndsWith(phys(a), p))
    case StringContains(a, p) => Some(StringContains(phys(a), p))
    case And(l, r) => for { x <- renameFilter(l); y <- renameFilter(r) }
      yield And(x, y)
    case Or(l, r) => for { x <- renameFilter(l); y <- renameFilter(r) }
      yield Or(x, y)
    case Not(g) => renameFilter(g).map(Not)
    case t: AlwaysTrue => Some(t)
    case t: AlwaysFalse => Some(t)
    case _ => None
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-manifest-native v$version ${pushed.mkString("[", ", ", "]")}" +
      // flag-based, NOT morFilter: description() renders in EXPLAIN
      // output and must never force sidecar IO
      (if (dvs.isEmpty && dvps.isEmpty && dvrs.isEmpty) "" else " +mor")

  /** Only the scan's OUTPUT columns: the optimizer resolves these
    * against the pruned relation output, so naming a projected-away
    * column is an AnalysisException, not a no-op. Join keys are by
    * construction in the output, which is all DPP needs.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters
    delegateCache = null
  }

  private[graft] def admittedEntries: Seq[ManifestTable.FileEntry] =
    FileAdmission.admit(root, version, pushed ++ runtime, phys)

  private def delegate: Scan = {
    val cached = delegateCache
    if (cached != null) cached
    else {
      val files = admittedEntries.map(e =>
        root.resolve("data").resolve(e.path).toString)
      // positional vectors forbid parquet-side filtering: a pruned
      // row group would shift every later row's counted index
      val pushedPhys: Array[Filter] =
        if (dvrs.nonEmpty) Array.empty
        else if (cmap.isEmpty) pushed
        else pushed.flatMap(renameFilter(_).toSeq)
      val d = bridge.parquetScan(spark, files, physFull,
        delegateRequired, pushedPhys)
      delegateCache = d
      d
    }
  }

  /** Plan-time statistics from the ADMITTED file set (round 12): a
    * V2 scan without SupportsReportStatistics gets
    * `spark.sql.defaultSizeInBytes` (≈Long.Max), so a 100-row
    * manifest dim could never STATICALLY broadcast — every join
    * against a manifest table paid a shuffle until AQE's runtime
    * sizes rescued it post-exchange. Size = Σ admitted data-file
    * bytes (one file-status call per admitted file, after the
    * band/bloom prune — pruning shrinks the estimate too, so a
    * point-read side reports its true small size, exactly the
    * file-skipping payoff real formats feed their planners).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val data = root.resolve("data")
    val bytes = admittedEntries.map { e =>
      try Files.size(data.resolve(e.path)) catch { case _: Exception => 0L }
    }.sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** STORAGE-PARTITIONED-JOIN state (round 12, widened round 13 —
    * r12-VERDICT task 7): when the table's ONE transform — bucket,
    * days, or truncate — leaves EVERY admitted file value-exact
    * (recorded virtual band lo == hi — the range-clustered write's
    * normal case), the scan can key its files BY TRANSFORM VALUE and
    * report a KeyGroupedPartitioning — two co-laid manifest tables
    * then join with ZERO shuffle (Spark matches the catalog
    * function's canonicalName + literal args on both sides). A
    * straddling file, any DV state, a rename, a multi-transform
    * layout, or a mixed-generation evolved layout (old files lack the
    * current transform's band) degrades to UnknownPartitioning — the
    * plan falls back to ordinary exchanges, never to wrong
    * co-location.
    */
  private def spjGroups
      : Option[(ManifestTable.PartTransform, Seq[(Long, Seq[String])])] = {
    // gate on the SPJ opt-in conf: grouping a transform value's files
    // into ONE partition is what key-grouped execution requires, but
    // it also CAPS a plain scan's parallelism at the value count — a
    // regression for single-table reads that gain nothing from
    // co-location. With the conf off (the default) scans keep
    // split-granular parallelism; turning it on accepts the
    // group-granularity trade everywhere transform layouts exist (the
    // same trade Iceberg's SPJ documents).
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
        .toBoolean) return None
    ManifestTable.partTransforms(root, version) match {
      case Seq(t)
          if dvs.isEmpty && dvps.isEmpty && dvrs.isEmpty && cmap.isEmpty =>
        val entries = admittedEntries
        val keyed = entries.map(e => e.band(t.statName) -> e.path)
        if (entries.nonEmpty && keyed.forall {
            case (band, _) => band.exists(bb => bb._1 == bb._2) })
          Some((t,
            keyed.groupBy(_._1.get._1).toSeq.sortBy(_._1)
              .map { case (k, es) => (k, es.map(_._2)) }))
        else None
      case _ => None
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some((t, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(ManifestV2Table.toV2Transform(t)), groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    // scoped/positional vectors need per-row FILE attribution: one
    // partition per file, splits in offset order
    if (dvps.nonEmpty || dvrs.nonEmpty) bridge.onePartitionPerFile(delegate)
    else spjGroups match {
      case Some((_, groups)) =>
        // one HasPartitionKey partition PER FILE (round 13): Spark's
        // exec-side grouping merges same-key partitions when the join
        // needs full clustering, and its partially-clustered
        // distribution can KEEP them split on the larger side (skew
        // handling) — a pre-grouped one-partition-per-value shape
        // would make that split impossible
        val keyOf: Map[String, Long] = groups.flatMap {
          case (k, fs) => fs.map(_ -> k) }.toMap
        bridge.keyedPartitions(delegate, keyOf)
      case None => delegate.toBatch.planInputPartitions()
    }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val f = delegate.toBatch.createReaderFactory()
    morFilter.fold(f)(m => MorFilteredReaderFactory(f, m))
  }
}

/** The built scan: V2 metadata (readSchema = the pruned projection),
  * V1 execution (the bridge relation plans the stats-admitted file
  * set and reads it through Spark's vectorized parquet source).
  */
class ManifestV2Scan(ctx: SQLContext, root: Path, version: Int,
    fullSchema: StructType, required: StructType,
    filters: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new ManifestV2BridgeRelation(context, root, version, fullSchema,
      required, filters).asInstanceOf[T]

  override def description(): String =
    s"graft-manifest v$version ${filters.mkString("[", ", ", "]")}"

  /** The stats-admitted file entries under the pushed filters — the
    * spec hook proving the V2 path physically skips files (must equal
    * [[ManifestTable.readPruned]]'s admitted set).
    */
  private[graft] def admittedEntries: Seq[ManifestTable.FileEntry] =
    new ManifestRelation(ctx, root, version, fullSchema)
      .admittedEntries(filters)
}

private[graft] class ManifestV2BridgeRelation(ctx: SQLContext, root: Path,
    version: Int, fullSchema: StructType, required: StructType,
    filters: Array[Filter]) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    new ManifestRelation(ctx, root, version, fullSchema)
      .scanDF(filters)
      // exact projection, zero-column included (count(*) prunes all)
      .select(required.fieldNames.toSeq.map(col): _*)
      .rdd
}

/** Writes bridge to the V1 writer (which owns SaveMode→commit mapping,
  * column-mapping-aware staging, and stats options): INSERT INTO =
  * append (an O(delta) commit), INSERT OVERWRITE / truncate = full
  * checkpoint commit replacing the live set.
  *
  * Round 13 (r12-VERDICT task 6): writes to a TRANSFORM-LAID table
  * are a NATIVE V2 BatchWrite ([[ManifestBatchWrite]]) implementing
  * `RequiresDistributionAndOrdering` — the write asks Spark to
  * range-cluster + sort the query by the layout transforms (resolved
  * through the catalog's FunctionCatalog, bit-identical to the
  * stage-time expressions) into `writeFiles` partitions, each task
  * writes one stats-carrying file, and the driver commits the entry
  * lines. The V1 bridge CANNOT honor the request: Spark's V1 fallback
  * executes the ANALYZED query and drops the prepared exchange
  * (verified on this Spark), which is why plain tables — with nothing
  * to require — keep the simpler bridge below.
  */
class ManifestWriteBuilder(root: Path, props: Map[String, String],
    info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var replace = false
  // non-trivial OverwriteByExpression filters (round 13 —
  // `INSERT INTO … REPLACE WHERE`): empty = plain append/overwrite
  private var replaceWhere: Array[Filter] = Array.empty
  // dynamic partition overwrite (round 13): replace exactly the
  // partitions present in the source
  private var dynamic = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true
    this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) replace = true
    else {
      // predicate-scoped overwrite (Delta's replaceWhere): every
      // filter must translate, or the write would replace the WRONG
      // region — loud refusal over silent approximation
      filters.foreach(f => require(
        ManifestV2.filterToColumn(f, identity).isDefined,
        s"REPLACE WHERE predicate not translatable by graft-manifest: $f"))
      replaceWhere = filters
    }
    this
  }

  override def build(): Write = {
    val latest = ManifestTable.latestVersion(root)
    val transforms =
      if (latest == 0) Nil else ManifestTable.partTransforms(root, latest)
    if (transforms.isEmpty && !props.contains("sortOrder")) {
      if (dynamic) {
        // unpartitioned dynamic overwrite = full replacement (the
        // Hive/Spark unpartitioned-dynamic rule). Spark has NO V1
        // fallback exec for OverwritePartitionsDynamic, so this must
        // be a real BatchWrite even on a plain table.
        replace = true
        nativeWrite(Nil)
      }
      else if (replaceWhere.nonEmpty) replaceWhereWrite
      else v1Write
    } else {
      // transform layout OR a write sort order — both need the true
      // V2 path (replace-where/dynamic ride the commit splice)
      if (transforms.isEmpty && dynamic) replace = true
      nativeWrite(transforms)
    }
  }

  /** `INSERT INTO … REPLACE WHERE cond SELECT …` — one atomic
    * [[ManifestTable.replaceWhereCoW]] commit: the stats-admitted
    * files are rewritten without their matching rows AND the new data
    * lands, nothing else is touched. Rides the V1 frame (the rewrite
    * is a driver-orchestrated CoW job, not a per-task write);
    * transform layouts restore via the staging path.
    */
  private def replaceWhereWrite: Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val s = data.sparkSession
          val latest = ManifestTable.latestVersion(root)
          val cmap = ManifestTable.columnMap(root, latest)
          def p(c: String) = cmap.getOrElse(c, c)
          val cond = replaceWhere.toSeq
            .flatMap(ManifestV2.filterToColumn(_, p))
            .reduceOption(_ && _).getOrElse(lit(true))
          val logical = ManifestV2.resolveSchema(s, root, latest)
          val physSchema = StructType(logical.fields.map(f =>
            f.copy(name = p(f.name))))
          def colsOf(k: String) = props.get(k).map(_.split(',').toSeq
            .map(_.trim).filter(_.nonEmpty).map(p)).getOrElse(Nil)
          val b = FilterBands.of(replaceWhere, p)
          ManifestTable.replaceWhereCoW(s, root, physSchema, cond,
            data.toDF(physSchema.fieldNames.toSeq: _*),
            colsOf("statsColumns"), colsOf("statsStringColumns"),
            colsOf("statsDoubleColumns"), colsOf("statsDecimalColumns"),
            b.long, b.str, b.dbl, b.dec): Unit
        }
      }
  }

  /** Plain tables: the V1 bridge (owns SaveMode→commit mapping,
    * column-mapping-aware staging, mergeSchema widening).
    */
  private def v1Write: Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          var w = data.write.format("graft-manifest")
            .option("path", root.toString)
          props.get("statsColumns")
            .foreach(v => w = w.option("statsColumns", v))
          props.get("statsStringColumns")
            .foreach(v => w = w.option("statsStringColumns", v))
          props.get("statsDoubleColumns")
            .foreach(v => w = w.option("statsDoubleColumns", v))
          props.get("statsDecimalColumns")
            .foreach(v => w = w.option("statsDecimalColumns", v))
          w.mode(if (replace || overwrite) SaveMode.Overwrite
                 else SaveMode.Append).save()
        }
      }
  }

  private def nativeWrite(transforms: Seq[ManifestTable.PartTransform])
      : Write = {
    val spark = SparkSession.active
    val logical = info.schema()
    // column mapping composes (round 13 — the V1 bridge refused
    // writes to RENAMED transform tables outright): files must carry
    // PHYSICAL names (the read path aliases logical→physical, and a
    // file written under logical names would read back as nulls), so
    // the file schema renames the incoming logical fields; recorded
    // transform srcCols and stats properties are CREATE-time =
    // physical already. Incoming row ORDER is the logical order, so
    // ordinals line up unchanged.
    val cmap = ManifestTable.columnMap(root,
      ManifestTable.latestVersion(root))
    def p(c: String) = cmap.getOrElse(c, c)
    val physLogical = org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = p(f.name))))
    require(cmap.isEmpty || (replaceWhere.isEmpty && !dynamic),
      "REPLACE WHERE / dynamic overwrite on a column-mapped " +
      "transform table is not supported — run the maintenance " +
      "rewrite first or use DELETE + INSERT")
    transforms.foreach(t => require(
      physLogical.fieldNames.contains(t.srcCol) &&
        physLogical(t.srcCol).dataType ==
          org.apache.spark.sql.types.LongType,
      s"write to a ${t.meta}-laid table needs a BIGINT '${t.srcCol}' " +
      "column in the query"))
    val writeSchema = org.apache.spark.sql.types.StructType(
      physLogical.fields ++ transforms.map(t => org.apache.spark.sql.types
        .StructField(t.statName, org.apache.spark.sql.types.LongType)))
    def colsOf(k: String) = props.get(k).map(_.split(',').toSeq
      .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val statsCols = (colsOf("statsColumns") ++
      transforms.map(_.statName)).distinct
    val targetFiles = props.get("writeFiles").map(_.toInt).getOrElse(16)
    Files.createDirectories(root.resolve("data"))
    // REPLACE WHERE on a transform-laid table: tasks write the new
    // data distributed (layout + stats as any insert), and the commit
    // splices it — validate, rewrite survivors, one OCC commit
    // (ManifestBatchWrite.commit). Driver-only state — never shipped.
    val spliceOpt: Option[ManifestBatchWrite.Splice] =
      if (dynamic && transforms.nonEmpty)
        Some(ManifestBatchWrite.DynamicOverwrite(logical))
      else if (replaceWhere.isEmpty) None
      else {
        val b = FilterBands.of(replaceWhere, identity)
        Some(ManifestBatchWrite.ReplaceWhere(logical,
          replaceWhere.toSeq
            .flatMap(ManifestV2.filterToColumn(_, identity))
            .reduceOption(_ && _).getOrElse(lit(true)),
          b.long, b.str, b.dbl, b.dec))
      }
    val batch = new ManifestBatchWrite(root.toString, replace,
      logical, writeSchema, transforms, statsCols,
      colsOf("statsStringColumns"), colsOf("statsDoubleColumns"),
      colsOf("statsDecimalColumns"),
      bridge.parquetWriteKit(spark, writeSchema),
      "ap" + java.util.UUID.randomUUID().toString.take(8), spliceOpt,
      ManifestV2Table.checks(props))
    // write SORT ORDER (round 13, wave 191 — Iceberg's
    // write.sort-order): the `sortOrder` table property appends
    // plain-column sorts AFTER the layout transforms, so the range
    // exchange clusters each transform value's rows by the sort
    // tuple across files — per-file bands on the sort columns come
    // out narrow and near-disjoint (the band-prune payoff), and the
    // rolling writer keeps every file value-exact regardless
    val sortCols = props.get("sortOrder").map(_.split(',').toSeq
      .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    sortCols.foreach(c => require(writeSchema.fieldNames.contains(c),
      s"sortOrder column '$c' is not in the table schema"))
    val orderExprs: Array[
        org.apache.spark.sql.connector.expressions.SortOrder] =
      (transforms.map(t => org.apache.spark.sql.connector.expressions
        .Expressions.sort(ManifestV2Table.toV2Transform(t),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)) ++
       sortCols.map(c => org.apache.spark.sql.connector.expressions
        .Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions
            .column(c),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING))).toArray
    if (orderExprs.isEmpty)
      // plain table through the native path (unpartitioned dynamic
      // overwrite): no layout, nothing to require
      return new Write {
        override def toBatch
            : org.apache.spark.sql.connector.write.BatchWrite = batch
      }
    new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

      // ORDERED distribution = a range exchange on the (transform,
      // sort) tuple: boundaries over few distinct transform values
      // isolate each value when partitions >= values — the
      // value-exact layout SPJ needs (hash clustering would co-locate
      // arbitrary far-apart values and widen every per-file band) —
      // and the sort suffix splits a hot value's rows into
      // sort-disjoint files
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions
          .ordered(orderExprs)

      override def requiredOrdering(): Array[
          org.apache.spark.sql.connector.expressions.SortOrder] =
        orderExprs

      override def requiredNumPartitions(): Int = targetFiles

      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite = batch
    }
  }
}
