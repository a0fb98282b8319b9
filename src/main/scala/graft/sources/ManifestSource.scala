package graft.sources

import java.nio.file.{Files, Path, Paths}
import graft.operators.ManifestTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The manifest table format addressable through Spark's STANDARD
  * source API — `spark.read.format("graft-manifest")` (registered via
  * META-INF/services, so the short name resolves with no imports):
  *
  * {{{
  * spark.read.format("graft-manifest")
  *   .option("path", "/tables/orders")   // table root
  *   .option("version", "3")             // optional: pinned snapshot
  *   .option("asof", "1755266000000")    // optional: TIMESTAMP AS OF
  *   .load()
  * }}}
  *
  * Semantics match the library read path exactly, lifecycle state
  * included: outstanding key-based deletion vectors are subtracted
  * (readMOR) and scoped vectors applied (readMORScoped) — a format
  * reader must never resurrect deleted rows just because the caller
  * came through `spark.read`. The key column is derived from the
  * vector sidecar's own schema, which carries it by construction.
  *
  * The V1 source contract is deliberate: `PrunedFilteredScan` gives
  * this reader column pruning AND filter-driven FILE SKIPPING through
  * the manifest's per-file column stats — an equality/range/prefix/IN
  * predicate on a stats-carrying column admits only the files whose
  * recorded bounds (and bloom bitsets) allow it, before any scan, by
  * the one admission rule every manifest reader shares
  * ([[FileAdmission]]); planning resolves through the manifest LIST,
  * reading only the intersecting checkpoint segments. Every filter is
  * reported unhandled so Spark re-applies them row-exactly on the
  * admitted files (the stats prune is a superset admit, never an answer).
  * Schema resolution order: caller-supplied > `schema=` header meta
  * (ADD COLUMN evolution) > first data file's parquet footer.
  */
class ManifestSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  /** `df.writeStream.format("graft-manifest")` — each micro-batch is
    * one ledger-idempotent commit ([[ManifestStreamSink]]); Append
    * appends O(delta), Complete replaces the live set, Update is
    * rejected (no manifest equivalent).
    */
  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    require(partitionColumns.isEmpty,
      "graft-manifest lays files out by stats/transforms, not " +
      "partitionBy — declare PARTITIONED BY transforms at CREATE")
    require(outputMode != OutputMode.Update(),
      "graft-manifest sink supports Append (ledger-idempotent " +
      "delta commits) and Complete (live-set replacement); Update " +
      "has no manifest equivalent")
    val root = Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest sink needs .option(\"path\", <table root>)")))
    Files.createDirectories(root)
    def colsOf(key: String) = parameters.get(key)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    new ManifestStreamSink(ctx, root, colsOf("statsColumns"),
      colsOf("statsStringColumns"), colsOf("statsDoubleColumns"),
      colsOf("statsDecimalColumns"),
      complete = outputMode == OutputMode.Complete())
  }

  /** `spark.readStream.format("graft-manifest")` — offsets are commit
    * versions, each micro-batch one readIncremental file delta
    * ([[ManifestStreamSource]]).
    */
  override def sourceSchema(ctx: SQLContext,
      userSchema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), ManifestStreamSource.resolve(ctx, userSchema,
      parameters)._2)

  override def createSource(ctx: SQLContext, metadataPath: String,
      userSchema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    ManifestStreamSource.create(ctx, userSchema, parameters)

  /** The WRITE path: `df.write.format("graft-manifest")` maps Spark's
    * save modes onto the commit protocol — Append = stage + O(delta)
    * appendCommit, Overwrite = full checkpoint commit replacing the
    * live set, ErrorIfExists/Ignore = their contract against table
    * existence. `.option("statsColumns", "k,c")` stages with exact
    * per-file min/max on those (long) columns so the written table
    * composes with every stats consumer (pruned reads, merges, the
    * read path's file skipping). Concurrency is the OCC publish loop —
    * two racing writers both land, in some serial order.
    */
  override def createRelation(ctx: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      df: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val root = Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest needs .option(\"path\", <table root>)")))
    Files.createDirectories(root)
    val exists = ManifestTable.latestVersion(root) > 0
    // CHECK constraints (round 13): `check.*` table properties are a
    // TABLE contract — enforced on every write path, including this
    // direct path-based one (short-circuit limit(1) per constraint;
    // nothing is staged on violation)
    ManifestV2Table.enforceChecks(df,
      ManifestV2Table.checks(ManifestV2Table.props(root)),
      s"write to $root")
    def colsOf(key: String) = parameters.get(key)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    val statsCols = colsOf("statsColumns")
    // string-typed bounds (wave 135): .option("statsStringColumns",
    // "brand,region") records per-file string min/max so the read
    // path's string-filter file skipping composes with written tables
    val statsStrCols = colsOf("statsStringColumns")
    // double-typed bounds (round 11): .option("statsDoubleColumns",
    // "o_totalprice") records per-file double min/max so price/metric
    // predicates prune written tables
    val statsDblCols = colsOf("statsDoubleColumns")
    val statsDecCols = colsOf("statsDecimalColumns")
    // COLUMN MAPPING (round-10 ADVICE fix): an Append onto a renamed
    // table must stage under PHYSICAL names and carry the parent's
    // colmap= forward, or the mapping-aware read null-fills the
    // renamed column for every pre-rename file. Overwrite REPLACES
    // the live file set, so it legitimately resets the evolution
    // state (new files under logical names, no mapping).
    val cmap: Map[String, String] =
      if (exists) ManifestTable.columnMap(root,
        ManifestTable.latestVersion(root))
      else Map.empty
    // HIDDEN PARTITIONING (wave 151): a table created PARTITIONED BY
    // bucket/truncate/days carries ptrans= meta — every write lays its
    // files out by the transform tuple and records the virtual stats,
    // so SQL INSERTs compose with the plan-time derivation without
    // per-write options. Mapping + transforms together is rejected
    // loudly (the recorded srcCol is the CREATE-time name; deriving
    // through a rename needs a remap this format doesn't carry yet).
    val transforms: Seq[ManifestTable.PartTransform] =
      if (exists) ManifestTable.partTransforms(root,
        ManifestTable.latestVersion(root))
      else Nil
    require(transforms.isEmpty || cmap.isEmpty,
      "graft-manifest: writes to a table with BOTH partition " +
      "transforms and renamed columns are unsupported — compact and " +
      "recreate, or avoid renaming transform source columns")
    def physName(c: String) = cmap.getOrElse(c, c)
    def staged(batch: String, mapped: Boolean): Seq[String] = {
      val out = if (mapped && cmap.nonEmpty)
        df.select(df.columns.toSeq.map(c => col(c).as(physName(c))): _*)
      else df
      // transform-laid writes take an explicit target file count (the
      // stageHidden convention; round-10 ADVICE fix — the old
      // out.rdd.getNumPartitions forced an extra physical-plan compile
      // per INSERT and the pre-shuffle partition count was an
      // arbitrary proxy for output files): `writeFiles` as a write
      // option or durable table property, else 16 — matching the
      // bucket(16) convention, and harmless for small inserts because
      // an empty partition stages no file.
      val targetFiles = parameters.get("writeFiles")
        .orElse(ManifestV2Table.props(root).get("writeFiles"))
        .map(_.toInt).getOrElse(16)
      val base =
        if (transforms.isEmpty) out
        else transforms.foldLeft(out)((d, t) =>
            d.withColumn(t.statName, t.exprCol))
          .repartitionByRange(math.max(1, targetFiles),
            transforms.map(t => col(t.statName)): _*)
      def names(cs: Seq[String]) =
        if (mapped) cs.map(physName) else cs
      val allStats = (names(statsCols) ++ transforms.map(_.statName))
        .distinct
      ManifestTable.stage(base, root, batch, allStats,
        names(statsStrCols), names(statsDblCols), names(statsDecCols))
    }
    val schemaMeta = s"schema=${ManifestTable.schemaMeta(df.schema)}"
    // MERGE-SCHEMA widening (round 11 — r10-VERDICT task 7): an
    // Append carrying columns the table's recorded schema lacks, with
    // .option("mergeSchema", "true"), widens the logical schema in
    // the SAME commit (recorded columns first, new ones appended) —
    // existing files null-fill the additions under the evolved read,
    // zero bytes rewritten; without the option the extra columns are
    // rejected loudly instead of silently projected away forever.
    // Recomputed PER PUBLISH ATTEMPT against the winning parent
    // (round 12 — r11-ADVICE fix): the old pre-read snapshot meant a
    // concurrent widening commit that won first had its new column
    // silently dropped from the logical schema by this append's stale
    // last-writer-wins schema= header.
    def appendSchemaAt(parent: Int): StructType =
      if (parent == 0) df.schema
      else ManifestTable.headerMeta(root, parent).get("schema") match {
        case None => df.schema // schema-less legacy table: as before
        case Some(m) =>
          val recorded = ManifestTable.parseSchemaMeta(m)
          val extra = df.schema.fields.filterNot(f =>
            recorded.fieldNames.contains(f.name))
          // a narrower append must not NARROW the recorded schema —
          // keep the full recorded set (missing columns null-fill)
          if (extra.isEmpty) recorded
          else {
            require(parameters.get("mergeSchema").exists(_.toBoolean),
              s"append carries new column(s) ${extra.map(_.name).toSeq
                .mkString(",")} — set .option(\"mergeSchema\", " +
              "\"true\") to widen the table schema, or drop them")
            StructType(recorded.fields ++ extra)
          }
      }
    // keep only mapping entries for columns this write still carries
    // (the mapping itself is the staging-time snapshot: the staged
    // files were written under ITS physical names)
    val liveMap = cmap.filter { case (l, _) => df.columns.contains(l) }
    def appendMetaAt(parent: Int): String =
      s"schema=${ManifestTable.schemaMeta(appendSchemaAt(parent))}" +
        (if (liveMap.isEmpty) "" else
          " colmap=" + liveMap.toSeq.sorted
            .map { case (l, p) => s"$l:$p" }.mkString(","))
    mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-manifest table at $root already exists (SaveMode." +
          "ErrorIfExists)")
      case Ignore if exists => ()
      case Overwrite =>
        // explicit empty colmap= CLEARS any inherited mapping — the
        // replaced file set is staged under logical names
        ManifestTable.commit(root, staged("ow", mapped = false),
          schemaMeta + (if (cmap.isEmpty) "" else " colmap=")): Unit
      case _ => // Append, or a first write under any mode
        ManifestTable.appendCommitF(root, staged("ap", mapped = true),
          appendMetaAt): Unit
    }
    createRelation(ctx, parameters - "statsColumns" -
      "statsStringColumns" - "statsDoubleColumns" - "statsDecimalColumns")
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    createRelation(ctx, parameters, null)

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String], userSchema: StructType)
      : BaseRelation = {
    val root = Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest needs .option(\"path\", <table root>)")))
    require(Files.isDirectory(root.resolve("_manifests")),
      s"$root is not a graft manifest table (no _manifests/)")
    val spark = ctx.sparkSession
    val version = parameters.get("asof") match {
      case Some(t) => ManifestTable.versionAt(root, t.toLong)
      case None => parameters.get("version").map(_.toInt)
        .getOrElse(ManifestTable.latestVersion(root))
    }
    require(version >= 1 && version <= ManifestTable.latestVersion(root),
      s"no committed version $version at $root")
    val meta = ManifestTable.headerMeta(root, version)
    val schema = Option(userSchema)
      .orElse(meta.get("schema").map(ManifestTable.parseSchemaMeta))
      .getOrElse {
        val fs = ManifestTable.filesFor(root, version)
        require(fs.nonEmpty, s"v$version at $root holds no data files")
        // reserved __pt* layout columns (hidden partitioning) must
        // never surface through the footer fallback
        StructType(spark.read.parquet(root.resolve("data")
          .resolve(fs.head).toString).schema.fields
          .filterNot(_.name.startsWith("__pt")))
      }
    new ManifestRelation(ctx, root, version, schema)
  }
}

private[graft] class ManifestRelation(ctx: SQLContext, root: Path,
    version: Int, override val schema: StructType)
    extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  // COLUMN MAPPING (wave 139 review fix): `schema` is the LOGICAL
  // schema (what Spark sees); after a renameColumn the files carry
  // PHYSICAL names — reading under the logical schema would null-fill
  // the renamed column silently. Read physical, alias back; pushed
  // filter names translate logical→physical before stats admission.
  private val cmap: Map[String, String] =
    ManifestTable.columnMap(root, version)
  private def phys(c: String): String = cmap.getOrElse(c, c)
  private val physSchema: StructType =
    StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
  private def toLogical(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (cmap.isEmpty) df
    else df.select(schema.fields.toSeq.map(f =>
      col(phys(f.name)).as(f.name)): _*)

  // the stats prune is a superset admit; Spark must re-apply every
  // predicate row-exactly on the admitted files
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** Sidecar-derived key column: a vector sidecar carries exactly the
    * key column (plus `src` for the scoped form).
    */
  private def sidecarKey(files: Seq[String]): String = {
    val spark = ctx.sparkSession
    spark.read.parquet(root.resolve("data").resolve(files.head).toString)
      .schema.fieldNames.filterNot(_ == "src").head
  }

  /** The stats-admitted live files under the pushed filters — exposed
    * at package level so the file-skipping claim is unit-assertable.
    */
  private[graft] def admittedEntries(filters: Array[Filter])
      : Seq[ManifestTable.FileEntry] =
    FileAdmission.admit(root, version, filters, phys)

  /** The stats-pruned, DV-subtracted, mapping-aliased snapshot scan as
    * a DataFrame under the FULL logical schema — the shared core of
    * the V1 `buildScan` and the V2 bridge scan ([[ManifestV2]]).
    */
  private[graft] def scanDF(filters: Array[Filter])
      : org.apache.spark.sql.DataFrame = {
    val spark = ctx.sparkSession
    val dvs = ManifestTable.dvsFor(root, version)
    val dvps = ManifestTable.scopedDvsFor(root, version)
    val dvrs = ManifestTable.rowDvsFor(root, version)
    toLogical(
      if (dvrs.nonEmpty) // row-position vectors: full positional read
        ManifestTable.readMORPositional(spark, root, version, physSchema)
      else if (dvps.nonEmpty) // file-scoped vectors: MOR-scoped read
        ManifestTable.readMORScoped(spark, root, version, physSchema,
          sidecarKey(dvps))
      else if (dvs.nonEmpty) // key vectors: subtract, no file skip
        ManifestTable.readMOR(spark, root, version, physSchema,
          sidecarKey(dvs))
      else // clean snapshot: stats-pruned file set, explicit schema
        ManifestTable.scanFiles(spark, root, physSchema,
          admittedEntries(filters).map(_.path)))
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val df = scanDF(filters)
    (if (requiredColumns.isEmpty) df
     else df.select(requiredColumns.toSeq.map(col): _*)).rdd
  }
}

/** Pushed-filter to per-column band translation, the one entry point
  * being [[FilterBands.of]]: read admission ([[FileAdmission]]) and
  * the write paths' candidate-file prunes (DELETE / UPDATE / REPLACE
  * WHERE) all take their bands from it. Only comparisons against
  * literals of a stats-carrying type contribute — anything else
  * admits all files; conjunctions intersect per column inside the
  * entry-level admission. The stats prune is a superset admit, never
  * an answer: the exact predicate re-applies row-exactly on the
  * admitted files.
  */
private[graft] object FilterBands {

  /** Every band a conjunction of filters implies, column names mapped
    * logical→physical (stats keys are stage-time names). `in` holds
    * long IN sets sorted for per-file binary search; `probes` the
    * long point/IN values for bloom admission.
    */
  final case class Bands(
      long: Seq[(String, Long, Long)],
      str: Seq[(String, Option[String], Option[String])],
      dbl: Seq[(String, Double, Double)],
      dec: Seq[(String, Option[BigDecimal], Option[BigDecimal])],
      bin: Seq[(String, Option[Seq[Byte]], Option[Seq[Byte]])],
      in: Seq[(String, Array[Long])],
      probes: Seq[(String, Array[Long])])

  def of(filters: Array[Filter], phys: String => String): Bands = {
    def m[A, B](bs: Seq[(String, A, B)]) =
      bs.map { case (c, lo, hi) => (phys(c), lo, hi) }
    def mv(vs: Seq[(String, Array[Long])]) =
      vs.map { case (c, v) => (phys(c), v) }
    Bands(m(long(filters)), m(str(filters)), m(dbl(filters)),
      m(dec(filters)), m(bin(filters)), mv(inSets(filters)),
      mv(bloomProbes(filters)))
  }

  /** Temporal literal → epoch micros (the µs-timestamp stats
    * convention, round 11): pushed timestamp predicates prune through
    * LONG micros bounds recorded by the stage-time twin
    * ([[graft.operators.FileEntry.microsOf]]).
    */
  private def us(v: Any): Option[Long] =
    graft.operators.FileEntry.microsOf(v) match {
      case s @ Some(_) if !v.isInstanceOf[java.lang.Long] => s
      case _ => None // plain longs are handled by the long cases
    }

  private def long(filters: Array[Filter]): Seq[(String, Long, Long)] =
    filters.toSeq.flatMap {
      case EqualTo(a, v: Long) => Seq((a, v, v))
      case EqualTo(a, v: Int) => Seq((a, v.toLong, v.toLong))
      case GreaterThan(a, v: Long) => Seq((a, v + 1, Long.MaxValue))
      case GreaterThan(a, v: Int) => Seq((a, v.toLong + 1, Long.MaxValue))
      case GreaterThanOrEqual(a, v: Long) => Seq((a, v, Long.MaxValue))
      case GreaterThanOrEqual(a, v: Int) => Seq((a, v.toLong, Long.MaxValue))
      case LessThan(a, v: Long) => Seq((a, Long.MinValue, v - 1))
      case LessThan(a, v: Int) => Seq((a, Long.MinValue, v.toLong - 1))
      case LessThanOrEqual(a, v: Long) => Seq((a, Long.MinValue, v))
      case LessThanOrEqual(a, v: Int) => Seq((a, Long.MinValue, v.toLong))
      // temporal literals (Timestamp / Instant / LocalDateTime) prune
      // through the recorded micros bounds; a strict bound keeps the
      // inclusive endpoint when sub-micro precision could exist — the
      // superset admit is always safe, and micros ARE the storage
      // precision, so ±1 is exact here
      case EqualTo(a, v) if us(v).isDefined =>
        us(v).toSeq.map(m => (a, m, m))
      case GreaterThan(a, v) if us(v).isDefined =>
        us(v).toSeq.map(m => (a, m + 1, Long.MaxValue))
      case GreaterThanOrEqual(a, v) if us(v).isDefined =>
        us(v).toSeq.map(m => (a, m, Long.MaxValue))
      case LessThan(a, v) if us(v).isDefined =>
        us(v).toSeq.map(m => (a, Long.MinValue, m - 1))
      case LessThanOrEqual(a, v) if us(v).isDefined =>
        us(v).toSeq.map(m => (a, Long.MinValue, m))
      case And(l, r) => long(Array(l, r))
      case _ => Nil
    }

  /** DECIMAL comparison bands (round 11, wave 161): pushed values
    * arrive as java.math.BigDecimal. Strict comparisons keep the
    * inclusive endpoint — the superset admit is always safe. Bounds
    * are OPEN intervals like the string bands (round 12 — r11-ADVICE
    * fix: the old ±"9"*40 sentinel was safe at Spark's 38-digit
    * precision cap, but a wider recorded bound would falsely prove
    * disjointness — a false prune, not a superset admit).
    */
  private def dec(filters: Array[Filter])
      : Seq[(String, Option[BigDecimal], Option[BigDecimal])] = {
    def of(v: Any): Option[BigDecimal] = v match {
      case d: java.math.BigDecimal => Some(BigDecimal(d))
      case d: BigDecimal => Some(d)
      case _ => None
    }
    filters.toSeq.flatMap {
      case EqualTo(a, v) if of(v).isDefined =>
        of(v).toSeq.map(d => (a, Some(d), Some(d)))
      case GreaterThan(a, v) if of(v).isDefined =>
        of(v).toSeq.map(d => (a, Some(d), None))
      case GreaterThanOrEqual(a, v) if of(v).isDefined =>
        of(v).toSeq.map(d => (a, Some(d), None))
      case LessThan(a, v) if of(v).isDefined =>
        of(v).toSeq.map(d => (a, None, Some(d)))
      case LessThanOrEqual(a, v) if of(v).isDefined =>
        of(v).toSeq.map(d => (a, None, Some(d)))
      case And(l, r) => dec(Array(l, r))
      case _ => Nil
    }
  }

  /** DOUBLE comparison bands (round 11). Strict comparisons keep the
    * inclusive endpoint (doubles have no cheap predecessor/successor;
    * a superset admit is always safe); the row-level filter re-applies
    * exactly.
    */
  private def dbl(filters: Array[Filter]): Seq[(String, Double, Double)] =
    filters.toSeq.flatMap {
      case EqualTo(a, v: Double) => Seq((a, v, v))
      case EqualTo(a, v: Float) => Seq((a, v.toDouble, v.toDouble))
      case GreaterThan(a, v: Double) =>
        Seq((a, v, Double.PositiveInfinity))
      case GreaterThanOrEqual(a, v: Double) =>
        Seq((a, v, Double.PositiveInfinity))
      case LessThan(a, v: Double) =>
        Seq((a, Double.NegativeInfinity, v))
      case LessThanOrEqual(a, v: Double) =>
        Seq((a, Double.NegativeInfinity, v))
      case And(l, r) => dbl(Array(l, r))
      case _ => Nil
    }

  /** STRING comparison bands (wave 135), open intervals because
    * strings have no finite top element. Strict comparisons keep the
    * inclusive endpoint — a superset admit is always safe; prefix
    * predicates use the increment-last-code-point upper bound.
    */
  private def str(filters: Array[Filter])
      : Seq[(String, Option[String], Option[String])] =
    filters.toSeq.flatMap {
      case EqualTo(a, v: String) => Seq((a, Some(v), Some(v)))
      case GreaterThan(a, v: String) => Seq((a, Some(v), None))
      case GreaterThanOrEqual(a, v: String) => Seq((a, Some(v), None))
      case LessThan(a, v: String) => Seq((a, None, Some(v)))
      case LessThanOrEqual(a, v: String) => Seq((a, None, Some(v)))
      case StringStartsWith(a, p) => Seq((a, Some(p), prefixUpper(p)))
      case And(l, r) => str(Array(l, r))
      case _ => Nil
    }

  /** BINARY comparison bands (round 12): pushed values arrive as
    * Array[Byte]. Open intervals both sides (bytes have no finite top
    * element at unbounded length); strict comparisons keep the
    * inclusive endpoint — the superset admit is always safe.
    */
  private def bin(filters: Array[Filter])
      : Seq[(String, Option[Seq[Byte]], Option[Seq[Byte]])] =
    filters.toSeq.flatMap {
      case EqualTo(a, v: Array[Byte]) =>
        Seq((a, Some(v.toSeq), Some(v.toSeq)))
      case GreaterThan(a, v: Array[Byte]) => Seq((a, Some(v.toSeq), None))
      case GreaterThanOrEqual(a, v: Array[Byte]) =>
        Seq((a, Some(v.toSeq), None))
      case LessThan(a, v: Array[Byte]) => Seq((a, None, Some(v.toSeq)))
      case LessThanOrEqual(a, v: Array[Byte]) =>
        Seq((a, None, Some(v.toSeq)))
      case And(l, r) => bin(Array(l, r))
      case _ => Nil
    }

  /** Long IN sets — the shape DPP subqueries arrive in — as sorted
    * arrays for per-file binary-search admission.
    */
  private def inSets(filters: Array[Filter]): Seq[(String, Array[Long])] =
    filters.toSeq.collect {
      case In(a, vs) if vs.nonEmpty && vs.forall(v =>
          v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer]) =>
        a -> vs.map {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
        }.sorted
    }

  /** Point/IN probe values for BLOOM admission (round 12): only LONG
    * candidates — the index covers BIGINT columns and the build
    * hashed long values, so probing any other type would mis-hash
    * (such columns never carry a bitset anyway; admission there is
    * unconditional by the no-bitset rule).
    */
  private def bloomProbes(filters: Array[Filter]): Seq[(String, Array[Long])] =
    filters.toSeq.flatMap {
      case EqualTo(a, v: Long) => Seq((a, Array(v)))
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[java.lang.Long]) =>
        Seq((a, vs.map(_.asInstanceOf[java.lang.Long].longValue)))
      case And(l, r) => bloomProbes(Array(l, r))
      case _ => Nil
    }

  /** Least string that upper-bounds every string with prefix `p`,
    * computed over CODE POINTS (bounds compare in UTF-8 byte order,
    * which is code-point order): drop trailing U+10FFFF scalars,
    * increment the last survivor; all-max prefixes have no finite
    * bound (None = unbounded). Incrementing into the surrogate gap
    * (U+D7FF + 1 = U+D800) would leave an unpaired surrogate whose
    * UTF-8 encoding ('?') sorts BELOW the prefix itself, so that case
    * snaps to U+E000, the smallest scalar above the gap; safe because
    * recorded bounds are valid scalars and nothing sorts inside the
    * gap (round-10 ADVICE fix: the old UTF-16 char increment silently
    * skipped matching files for prefixes ending in U+D7FF).
    */
  def prefixUpper(p: String): Option[String] = {
    val cps = p.codePoints.toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val next0 = cps(i) + 1
      val next = if (next0 >= 0xD800 && next0 <= 0xDFFF) 0xE000 else next0
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < i) { sb.appendCodePoint(cps(j)); j += 1 }
      sb.appendCodePoint(next)
      Some(sb.toString)
    }
  }
}

/** The one file-admission rule of a manifest read: every reader — the
  * V1 relation, the native V2 scan (pushed ++ runtime DPP filters) and
  * [[ManifestTable.readPruned]] — admits exactly the entries this
  * returns. A superset admit, never an answer: the caller re-applies
  * the filters row-exactly.
  *
  *  - long, string, double, decimal and binary bands, plus the
  *    min..max of each long IN set, drive the two-level manifest-list
  *    prune ([[ManifestTable.prunedEntries]]);
  *  - hidden partitioning: the same coarse bands derive virtual
  *    transform bands through the version's current AND historical
  *    transforms (evolved tables' old files prune via their old
  *    bands), and IN sets map value-wise through each transform;
  *  - IN sets then refine per value: a file survives only when some
  *    candidate falls inside its recorded band;
  *  - bloom refinement: equalities and IN sets drop files whose
  *    bitset proves every candidate absent (bitset-less files admit).
  */
private[graft] object FileAdmission {

  private def anyInBand(vs: Array[Long], lo: Long, hi: Long): Boolean = {
    var i = java.util.Arrays.binarySearch(vs, lo)
    if (i < 0) i = -i - 1
    i < vs.length && vs(i) <= hi
  }

  def admit(root: Path, version: Int, filters: Array[Filter],
      phys: String => String): Seq[ManifestTable.FileEntry] = {
    val b = FilterBands.of(filters, phys)
    val coarse = b.long ++ b.in.map { case (c, vs) => (c, vs.head, vs.last) }
    val hiddenIn = b.in.flatMap { case (c, vs) =>
      ManifestTable.allPartTransforms(root, version).filter(_.srcCol == c)
        .map(t => (t.statName, vs.map(t.ofLiteral).distinct.sorted))
    }
    val (hit, _, _) = ManifestTable.prunedEntries(root, version,
      coarse ++ ManifestTable.hiddenBands(root, version, coarse),
      b.str, b.dbl, b.dec, b.bin)
    val banded = hit.filter { e =>
      (b.in ++ hiddenIn).forall { case (c, vs) =>
        e.band(c).forall { case (lo, hi) => anyInBand(vs, lo, hi) }
      }
    }
    ManifestTable.bloomAdmitEntries(root, version, b.probes, banded)
  }
}
