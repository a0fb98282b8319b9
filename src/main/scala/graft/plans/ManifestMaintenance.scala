package graft.plans

import java.nio.file.Path

import graft.operators.ManifestTable
import graft.sources.{ManifestV2Table, ManifestCatalog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** The SQL MAINTENANCE surface (round 11 — r10-VERDICT task 5): the
  * lifecycle statements every real lakehouse exposes, parsed by a
  * lightweight [[ParserInterface]] wrapper that recognizes exactly
  * three statement shapes and delegates EVERYTHING else verbatim —
  * the standard extension-parser pattern (Delta's SparkSqlParser
  * wrapper, stated minimally):
  *
  * {{{
  * OPTIMIZE gm.sales.orders                          -- small-file bin-pack
  * OPTIMIZE gm.sales.orders ZORDER BY (k, c)         -- 2-3-col Morton relayout
  * VACUUM gm.sales.orders [RETAIN 168 HOURS]         -- unreferenced-file sweep
  * DESCRIBE HISTORY gm.sales.orders                  -- the commit log as rows
  * }}}
  *
  * Installed by [[graft.GraftExtensions]] via `injectParser`; sessions
  * built without the extensions reach the same statements through
  * [[GraftSql.sql]], which parses with this wrapper directly (a parser
  * cannot be added to a live session the way planner strategies can).
  * Identifiers must be catalog-qualified (`cat.ns….table`) against a
  * [[ManifestCatalog]]; each command maps onto the existing
  * maintenance primitive — OPTIMIZE onto
  * [[ManifestTable.optimizeSmall]] / [[ManifestTable.optimizeZorder]]
  * (CoW, OCC publish, retention guards all preserved), VACUUM onto
  * [[ManifestTable.vacuum]] + [[ManifestTable.vacuumOrphanSegments]],
  * DESCRIBE HISTORY onto [[ManifestTable.history]].
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenancePlan(sqlText, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  // statement shapes; identifiers are re-parsed by the DELEGATE's
  // multipart-identifier grammar, so backquoted segments with any
  // characters work exactly as everywhere else in Spark SQL
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS?)?\s*;?\s*$""".r
  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  // CALL <cat>.system.<proc>(args…) — the Iceberg-shaped procedure
  // surface (round 12 — r11-VERDICT task 5); the catalog segment is
  // part of the statement shape, table arguments carry their own
  // catalog-qualified identifiers
  private val CallRe =
    """(?is)^\s*CALL\s+[\w`]+\.system\.(\w+)\s*\((.*)\)\s*;?\s*$""".r
  // RESTORE TABLE t TO VERSION AS OF n — Delta's statement shape,
  // mapped onto the same procedure as CALL …restore(t, n)
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r

  private[plans] def maintenancePlan(sql: String,
      delegate: ParserInterface): Option[LogicalPlan] = sql match {
    case HistoryRe(ident) =>
      Some(DescribeHistoryCommand(delegate.parseMultipartIdentifier(ident)))
    case VacuumRe(ident, hours) =>
      Some(VacuumManifestCommand(delegate.parseMultipartIdentifier(ident),
        Option(hours).map(_.toLong * 3600L * 1000L)))
    case OptimizeRe(ident, zorder) =>
      Some(OptimizeManifestCommand(
        delegate.parseMultipartIdentifier(ident),
        Option(zorder).map(_.split(',').toSeq
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)).getOrElse(Nil)))
    case CallRe(proc, argStr) =>
      Some(CallProcedureCommand(proc.toLowerCase, splitArgs(argStr)))
    case RestoreRe(ident, v) =>
      Some(CallProcedureCommand("restore", Seq(ident, v)))
    case _ => None
  }

  /** Top-level comma split of a CALL argument list, respecting
    * single-quoted string literals and backquoted identifier segments
    * (an identifier like gm.`a,b`.t must not split inside the quote).
    */
  private[plans] def splitArgs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var inStr = false
    var inTick = false
    var start = 0
    s.zipWithIndex.foreach { case (c, i) =>
      if (c == '\'' && !inTick) inStr = !inStr
      else if (c == '`' && !inStr) inTick = !inTick
      else if (c == ',' && !inStr && !inTick) {
        out += s.substring(start, i); start = i + 1
      }
    }
    require(!inStr && !inTick, s"unterminated quote in CALL args: $s")
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Resolve a catalog-qualified identifier to its table root through
    * the registered [[ManifestCatalog]] — the table IS its directory,
    * so no further state is needed.
    */
  private[plans] def rootOf(spark: SparkSession, parts: Seq[String]): Path = {
    require(parts.length >= 2,
      s"maintenance statements take a catalog-qualified identifier " +
      s"(cat.ns….table), got ${parts.mkString(".")}")
    val cat = bridge.catalog(spark, parts.head) match {
      case c: ManifestCatalog => c
      case other => throw new IllegalArgumentException(
        s"catalog '${parts.head}' is not a graft ManifestCatalog: $other")
    }
    cat.loadTable(Identifier.of(parts.tail.dropRight(1).toArray,
      parts.last)) match {
      case t: ManifestV2Table => t.root
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  }
}

/** `OPTIMIZE t [ZORDER BY (c1, c2[, c3])]` — bin-pack the small-file
  * tail (threshold: the `optimize.smallBytes` table property, default
  * 128 MiB) or rewrite the live set in Morton order. Column names are
  * logical; the mapping translates them like every stats consumer.
  * Returns (version) — the post-optimize snapshot.
  */
case class OptimizeManifestCommand(parts: Seq[String],
    zorderCols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, parts)
    val latest = ManifestTable.latestVersion(root)
    require(latest >= 1, s"OPTIMIZE on empty table ${parts.mkString(".")}")
    val cmap = ManifestTable.columnMap(root, latest)
    def phys(n: String): String = cmap.getOrElse(n, n)
    val logical = graft.sources.ManifestV2.resolveSchema(spark, root, latest)
    val physSchema = StructType(logical.fields.map(f =>
      f.copy(name = phys(f.name))))
    val props = graft.sources.ManifestV2Table.props(root)
    val v =
      if (zorderCols.nonEmpty) {
        val live = ManifestTable.filesFor(root, latest).size
        val target = props.get("writeFiles").map(_.toInt)
          .getOrElse(math.max(1, live))
        ManifestTable.optimizeZorder(spark, root, latest, physSchema,
          zorderCols.map(phys), target)
      } else {
        // bin-pack key: the table's declared stats key, else the first
        // recorded long-stat column of the live set
        val keyCol = props.get("statsColumns")
          .flatMap(_.split(',').map(_.trim).find(_.nonEmpty)).map(phys)
          .orElse(ManifestTable.entriesFor(root, latest)
            .flatMap(_.stats.map(_._1)).headOption)
          .getOrElse(throw new IllegalArgumentException(
            s"OPTIMIZE needs a stats key: set TBLPROPERTIES(" +
            "'statsColumns'='…') or use ZORDER BY"))
        val smallBytes = props.get("optimize.smallBytes").map(_.toLong)
          .getOrElse(128L * 1024 * 1024)
        ManifestTable.optimizeSmall(spark, root, latest, physSchema,
          keyCol, smallBytes)
      }
    Seq(Row(v.toLong))
  }
}

/** `VACUUM t [RETAIN n HOURS]` — delete data files referenced by no
  * retained version (plus orphan checkpoint segments), keeping
  * anything newer than the retention horizon for in-flight writers —
  * Delta VACUUM's contract, default 168 h. Returns one row per
  * removed file.
  */
case class VacuumManifestCommand(parts: Seq[String],
    retainMillis: Option[Long]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, parts)
    val latest = ManifestTable.latestVersion(root)
    require(latest >= 1, s"VACUUM on empty table ${parts.mkString(".")}")
    val retain = retainMillis.getOrElse(7L * 24 * 3600 * 1000)
    val dead = ManifestTable.vacuum(root, latest, retain) ++
      ManifestTable.vacuumOrphanSegments(root, retain)
    dead.map(Row(_))
  }
}

/** `DESCRIBE HISTORY t` — one row per committed version from the
  * manifest headers ([[ManifestTable.history]]'s derivation: the log
  * IS the history), newest first like Delta.
  */
case class DescribeHistoryCommand(parts: Seq[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("ts_millis", LongType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, parts)
    ManifestTable.history(spark, root).collect().toSeq
      .sortBy(-_.getLong(0))
  }
}

/** `CALL <cat>.system.<proc>(args…)` — the stored-procedure surface
  * real lakehouses expose for operations DDL/DML cannot spell
  * (round 12 — r11-VERDICT task 5), each a thin mapping onto an
  * existing primitive:
  *
  * {{{
  * CALL gm.system.build_bloom_index(gm.ns.t, 'o_custkey')  -- → version
  * CALL gm.system.expire_manifests(gm.ns.t, 4)   -- → deleted manifests
  * CALL gm.system.replicate(gm.ns.src, gm.ns.dst)          -- → version
  * }}}
  *
  * `replicate` is SNAPSHOT replication: the source's latest LOGICAL
  * view (deletion vectors subtracted, column mapping aliased — the
  * registered source's read semantics) lands as the destination's
  * next full-checkpoint commit, per-file stats recomputed under the
  * logical names; the CDC pipeline (change feed → scoped-vector
  * apply) remains the programmatic composition for incremental
  * mirrors. Unknown procedures and malformed argument lists fail
  * loudly — a maintenance surface must never guess.
  */
case class CallProcedureCommand(proc: String, args: Seq[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())

  private def unquote(s: String): String = {
    val t = s.trim
    require(t.length >= 2 && t.head == '\'' && t.last == '\'',
      s"expected a 'string' literal argument, got: $t")
    t.substring(1, t.length - 1)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    def rootAt(i: Int): Path = GraftSqlParser.rootOf(spark,
      bridge.parser(spark).parseMultipartIdentifier(args(i)))
    def arity(n: Int, usage: String): Unit = require(args.length == n,
      s"$proc takes $usage — got ${args.length} argument(s)")
    proc match {
      case "build_bloom_index" =>
        arity(2, "(table_identifier, 'column')")
        val root = rootAt(0)
        val latest = ManifestTable.latestVersion(root)
        val cmap = ManifestTable.columnMap(root, latest)
        def phys(n: String): String = cmap.getOrElse(n, n)
        val logical = graft.sources.ManifestV2.resolveSchema(spark, root, latest)
        val physSchema = StructType(logical.fields.map(f =>
          f.copy(name = phys(f.name))))
        val v = ManifestTable.buildBloomIndex(spark, root, physSchema,
          phys(unquote(args(1))))
        Seq(Row(v.toString))
      case "expire_manifests" =>
        arity(2, "(table_identifier, keep_from_version)")
        val root = rootAt(0)
        ManifestTable.expireManifests(root, args(1).trim.toInt).map(Row(_))
      case "replicate" =>
        arity(2, "(source_identifier, destination_identifier)")
        val (src, dst) = (rootAt(0), rootAt(1))
        require(src.toAbsolutePath != dst.toAbsolutePath,
          "replicate onto itself")
        val latest = ManifestTable.latestVersion(src)
        val logical = graft.sources.ManifestV2.resolveSchema(spark, src, latest)
        // physical→logical reverse map: stat coverage recorded on the
        // source translates to the destination's logical-name files
        // (reserved __pt* layout stats drop away — the destination
        // declares its own layout)
        val toLogical = ManifestTable.columnMap(src, latest)
          .map { case (l, p) => p -> l }
        def statCols(names: Seq[String]): Seq[String] = names
          .map(n => toLogical.getOrElse(n, n)).distinct
          .filter(logical.fieldNames.contains)
        val entries = ManifestTable.entriesFor(src, latest)
        val df = spark.read.format("graft-manifest")
          .option("path", src.toString).load()
        val (lc, sc, dc, cc) = (
          statCols(entries.flatMap(_.stats.map(_._1))),
          statCols(entries.flatMap(_.strStats.map(_._1))),
          statCols(entries.flatMap(_.dblStats.map(_._1))),
          statCols(entries.flatMap(_.decStats.map(_._1))))
        val staged = ManifestTable.stage(df, dst, "repl", lc, sc, dc, cc)
        val v = ManifestTable.commit(dst, staged,
          s"schema=${ManifestTable.schemaMeta(logical)}")
        Seq(Row(v.toString))
      case "restore" =>
        arity(2, "(table_identifier, version)")
        val root = rootAt(0)
        val v = ManifestTable.restore(root, args(1).trim.toInt)
        Seq(Row(v.toString))
      case "compact_mor" =>
        // the mandatory pre-rewrite step for DV-carrying tables
        // (every rewrite path fails loudly while vectors are
        // outstanding; until now the compaction was API-only, so a
        // SQL user whose table took MOR deletes was stuck): resolve
        // the outstanding vector KIND and materialize it
        arity(3, "(table_identifier, 'key_column', target_files)")
        val root = rootAt(0)
        val latest = ManifestTable.latestVersion(root)
        val cmap = ManifestTable.columnMap(root, latest)
        def phys(n: String): String = cmap.getOrElse(n, n)
        val logical = graft.sources.ManifestV2.resolveSchema(spark, root, latest)
        val physSchema = StructType(logical.fields.map(f =>
          f.copy(name = phys(f.name))))
        val key = phys(unquote(args(1)))
        val n = args(2).trim.toInt
        val v =
          if (ManifestTable.rowDvsFor(root, latest).nonEmpty)
            ManifestTable.compactMORPositional(spark, root, latest,
              physSchema, key, n)
          else if (ManifestTable.scopedDvsFor(root, latest).nonEmpty)
            ManifestTable.compactMORScoped(spark, root, latest,
              physSchema, key, n)
          else if (ManifestTable.dvsFor(root, latest).nonEmpty)
            ManifestTable.compactMOR(spark, root, latest, physSchema,
              key, n)
          else throw new IllegalArgumentException(
            s"compact_mor: no outstanding deletion vectors on $root — " +
            "use OPTIMIZE for plain small-file compaction")
        Seq(Row(v.toString))
      case "evolve_partitioning" =>
        // PARTITION EVOLUTION (round 13): swap the write layout in one
        // metadata-only commit; old files keep pruning via ptransprev=
        // derivation. Spec format is the ptrans= encoding, e.g.
        // 'bucket(16,o_custkey),days(o_odate_us)'; '' un-partitions.
        arity(2, "(table_identifier, 'transform_spec')")
        val root = rootAt(0)
        // strict parse: the findAllIn scan skips garbage tokens, and a
        // silently-dropped transform here would UN-partition the table
        val spec = unquote(args(1)).replaceAll("\\s+", "")
        val ts = ManifestTable.parseTransforms(spec)
        require(ts.map(_.meta).mkString(",") == spec,
          s"evolve_partitioning: unparseable transform spec '$spec' — " +
          "expected bucket(n,col) / truncate(w,col) / days(col), " +
          "comma-separated ('' un-partitions)")
        val v = ManifestTable.evolvePartitioning(root, ts)
        Seq(Row(v.toString))
      case "create_tag" =>
        // named immutable refs (round 13 — Iceberg tags): readable as
        // `VERSION AS OF 'name'`, retained through log expiry
        arity(3, "(table_identifier, 'tag_name', version)")
        val root = rootAt(0)
        val tag = unquote(args(1))
        ManifestTable.createTag(root, tag, args(2).trim.toInt)
        Seq(Row(tag))
      case "drop_tag" =>
        arity(2, "(table_identifier, 'tag_name')")
        val root = rootAt(0)
        val tag = unquote(args(1))
        ManifestTable.dropTag(root, tag)
        Seq(Row(tag))
      case other => throw new UnsupportedOperationException(
        s"unknown procedure 'system.$other' — known: " +
        "build_bloom_index, expire_manifests, replicate, restore, " +
        "compact_mor, evolve_partitioning, create_tag, drop_tag")
    }
  }
}

/** Maintenance SQL for sessions built WITHOUT the extensions (the
  * Verify/Bench route): parse through [[GraftSqlParser]] directly and
  * execute — byte-identical semantics to an `injectParser` session.
  */
object GraftSql {
  def sql(spark: SparkSession, text: String): DataFrame =
    bridge.ofRows(spark,
      new GraftSqlParser(bridge.parser(spark)).parsePlan(text))
}
