package graft.sources

import java.nio.file.{Files, Paths}

import graft.operators.{FileEntry, ManifestTable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** The NATIVE V2 batch write for transform-laid tables (round 13 —
  * r12-VERDICT task 6). Two reasons it exists instead of the V1
  * bridge:
  *
  *  1. `RequiresDistributionAndOrdering` is only honored on the true
  *     V2 write path — Spark's V1 fallback executes the ANALYZED
  *     query (an InsertableRelation needs a re-plannable Row frame)
  *     and silently drops the prepared repartition+sort, so the
  *     write-side clustering request was unenforceable through the
  *     bridge (verified against this Spark: the optimized plan
  *     carried the exchange, the executed V1 write did not).
  *  2. Per-file stats are computed IN THE WRITER TASK while the rows
  *     stream through ([[ManifestDataWriter]], the same writer
  *     [[ManifestTable.stage]] runs) — no second scan of the written
  *     files.
  *
  * Each task writes ROLLING parquet files (wave 190): rows arrive
  * transform-sorted (the write's required ordering), and the writer
  * opens a NEW file whenever the transform tuple changes — every
  * committed file is value-exact BY CONSTRUCTION, independent of how
  * the range exchange sampled its boundaries (a rare value merged
  * into a neighbor's partition previously produced a straddling
  * file, silently degrading storage-partitioned joins). Files go
  * through Spark's own ParquetOutputWriter via
  * [[bridge.parquetWriteKit]] — InternalRow in, no Row conversion —
  * with min/max tracked for every stats column on the fly. Commit
  * messages carry the manifest ENTRY LINES; the driver commits them
  * through the ordinary OCC protocol (append = O(delta) delta
  * manifest, overwrite = checkpoint). Task retries write distinct
  * uuid-suffixed files — only the committed attempt's lines become
  * live, losers are vacuum fodder, exactly the staging rule.
  */
private[graft] case class ManifestWriteMsg(lines: Seq[String])
    extends WriterCommitMessage

private[graft] object ManifestBatchWrite {
  /** Driver-side commit-splice state for the native write (never
    * serialized — a BatchWrite stays on the driver).
    */
  sealed trait Splice
  final case class ReplaceWhere(schema: StructType,
      cond: org.apache.spark.sql.Column,
      longBands: Seq[(String, Long, Long)],
      strBands: Seq[(String, Option[String], Option[String])],
      dblBands: Seq[(String, Double, Double)],
      decBands: Seq[(String, Option[BigDecimal], Option[BigDecimal])])
      extends Splice
  final case class DynamicOverwrite(schema: StructType) extends Splice
}

private[graft] class ManifestBatchWrite(rootStr: String, replace: Boolean,
    logical: StructType, writeSchema: StructType,
    transforms: Seq[ManifestTable.PartTransform],
    statsCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
    decCols: Seq[String], kit: bridge.ParquetWriteKit, nonce: String,
    splice: Option[ManifestBatchWrite.Splice] = None,
    checks: Seq[(String, String)] = Nil)
    extends BatchWrite {

  /** CHECK constraints against the STAGED files (round 13, wave 193):
    * the distributed tasks have already written; the commit reads the
    * new files back under LOGICAL names (one narrow short-circuit job
    * per constraint) and deletes them all on a violation — nothing
    * commits. Per-row task-side evaluation would avoid the re-read;
    * the re-read keeps the predicate evaluation in ordinary Catalyst.
    */
  private def enforceOnStaged(lines: Seq[String]): Unit =
    if (checks.nonEmpty && lines.nonEmpty) {
      val data = Paths.get(rootStr).resolve("data")
      val files = lines.map(l => data.resolve(l.split('\t').head))
      val physRead = StructType(
        writeSchema.fields.take(logical.fields.length))
      val spark = org.apache.spark.sql.SparkSession.active
      val df = spark.read.schema(physRead)
        .parquet(files.map(_.toString): _*)
        .toDF(logical.fieldNames.toSeq: _*)
      try ManifestV2Table.enforceChecks(df, checks, s"write to $rootStr")
      catch {
        case e: Throwable =>
          files.foreach(f =>
            try Files.deleteIfExists(f): Unit
            catch { case _: Exception => () })
          throw e
      }
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    // transforms ship as their meta STRINGS: PartTransform instances
    // are inner classes of the (non-serializable) ManifestTable
    // object, so tasks re-parse locally instead of serializing them
    ManifestWriterFactory(rootStr, kit, writeSchema,
      transforms.map(_.meta), statsCols, strCols, dblCols, decCols,
      Nil, nonce, roll = true)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = Paths.get(rootStr)
    val lines = messages.toSeq.collect {
      case ManifestWriteMsg(ls) => ls
    }.flatten
    enforceOnStaged(lines)
    splice match {
      case Some(rw: ManifestBatchWrite.ReplaceWhere) =>
        // REPLACE WHERE (round 13): the tasks wrote the new-data
        // files distributed; the splice validates them against the
        // predicate, rewrites the touched files' survivors, and
        // commits the whole exchange atomically. The BatchWrite (and
        // the Column/bands it holds) never leaves the driver — only
        // the writer factory ships.
        ManifestTable.spliceReplaceWhere(
          org.apache.spark.sql.SparkSession.active, root, rw.schema,
          rw.cond, lines, rw.longBands, rw.strBands, rw.dblBands,
          rw.decBands): Unit
      case Some(dyo: ManifestBatchWrite.DynamicOverwrite) =>
        // dynamic partition overwrite (round 13): the partitions
        // present in the written files replace their current files —
        // value-exact bucket files drop by metadata, the rest rewrite
        // survivors row-exactly
        ManifestTable.spliceDynamicOverwrite(
          org.apache.spark.sql.SparkSession.active, root, dyo.schema,
          lines): Unit
      case None if replace =>
        // the V1 Overwrite contract: full checkpoint commit under the
        // query's schema; ptrans/bloom ride the meta inheritance
        ManifestTable.commit(root, lines,
          s"schema=${ManifestTable.schemaMeta(logical)}"): Unit
      case None =>
        // append: empty meta inherits schema/colmap/ptrans/DV state
        // from the winning parent inside the OCC retry
        ManifestTable.appendCommit(root, lines): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val data = Paths.get(rootStr).resolve("data")
    messages.foreach {
      case ManifestWriteMsg(ls) => ls.foreach { l =>
        try Files.deleteIfExists(data.resolve(l.split('\t').head)): Unit
        catch { case _: Exception => () } // orphan = vacuum fodder
      }
      case _ => ()
    }
  }
}

private[graft] case class ManifestWriterFactory(rootStr: String,
    kit: bridge.ParquetWriteKit, writeSchema: StructType,
    transformMetas: Seq[String],
    statsCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
    decCols: Seq[String], binCols: Seq[String], nonce: String,
    roll: Boolean) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : ManifestDataWriter =
    new ManifestDataWriter(rootStr, kit, writeSchema,
      transformMetas.map(ManifestTable.parseTransform),
      statsCols, strCols, dblCols, decCols, binCols,
      s"$nonce-p$partitionId-$taskId", partitionId, taskId, roll)

  /** The task body of [[ManifestTable.stage]]: write one partition's
    * rows and return their entry lines. A partition with no rows
    * writes no file; a failing task deletes the files it opened.
    */
  def writePartition(partitionId: Int, rows: Iterator[InternalRow])
      : Iterator[String] =
    if (!rows.hasNext) Iterator.empty
    else {
      val w = createWriter(partitionId,
        org.apache.spark.TaskContext.get().taskAttemptId())
      try {
        rows.foreach(w.write)
        w.commit().lines.iterator
      } catch {
        case e: Throwable => w.abort(); throw e
      }
    }
}

/** One task's writer: lazily opens a file on the first row (empty
  * partitions commit nothing), appends the transform columns per row
  * and folds min/max for the stats columns as rows stream through.
  * With `roll` it opens a fresh file whenever the layout tuple changes
  * — value-exact files by construction when the rows arrive sorted by
  * that tuple (the native write's required ordering, the layout-aware
  * OPTIMIZE). The tuple is the computed transform values, or, when
  * `transforms` is empty, the `__pt*` columns `writeSchema` already
  * carries. Without `roll` each task writes one file.
  */
private[graft] class ManifestDataWriter(rootStr: String,
    kit: bridge.ParquetWriteKit, writeSchema: StructType,
    transforms: Seq[ManifestTable.PartTransform],
    statsCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
    decCols: Seq[String], binCols: Seq[String], fileBase: String,
    partitionId: Int, taskId: Long, roll: Boolean)
    extends DataWriter[InternalRow] {

  ManifestDataWriter.checkStatsTypes(writeSchema, statsCols, strCols,
    dblCols, decCols, binCols)

  // per-row transform evaluation, bit-identical to the stage-time
  // Column expressions (bucket of NULL = pmod(xxhash64-of-nothing) =
  // floorMod(seed, n); monotone transforms of NULL stay NULL)
  private val tSrcOrds = transforms.map(t => writeSchema.fieldIndex(t.srcCol))
  private val tFns: Seq[Long => Long] = transforms.map {
    case b: ManifestTable.BucketTransform =>
      (v: Long) => java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, 42L),
        b.n.toLong)
    case t => (v: Long) => t.ofLiteral(v)
  }
  private val tNull: Seq[Any] = transforms.map {
    case b: ManifestTable.BucketTransform =>
      java.lang.Long.valueOf(java.lang.Math.floorMod(42L, b.n.toLong))
    case _ => null
  }
  // precomputed-layout mode: roll on the __pt* columns the frame
  // already carries (the OPTIMIZE path)
  private val preTupleOrds: Seq[Int] =
    if (!roll || transforms.nonEmpty) Nil
    else writeSchema.fields.zipWithIndex.collect {
      case (f, i) if f.name.startsWith("__pt") => i
    }.toSeq

  private abstract class Tracker(val col: String, val ord: Int) {
    def observe(row: InternalRow): Unit
  }
  private class LongTracker(c: String, o: Int) extends Tracker(c, o) {
    var lo = Long.MaxValue; var hi = Long.MinValue; var seen = false
    def observe(r: InternalRow): Unit = if (!r.isNullAt(ord)) {
      val v = r.getLong(ord)
      if (v < lo) lo = v
      if (v > hi) hi = v
      seen = true
    }
  }
  private class StrTracker(c: String, o: Int) extends Tracker(c, o) {
    var lo: org.apache.spark.unsafe.types.UTF8String = _
    var hi: org.apache.spark.unsafe.types.UTF8String = _
    def observe(r: InternalRow): Unit = if (!r.isNullAt(ord)) {
      val v = r.getUTF8String(ord)
      // clone: the source buffer is reused across rows
      if (lo == null || v.binaryCompare(lo) < 0) lo = v.clone()
      if (hi == null || v.binaryCompare(hi) > 0) hi = v.clone()
    }
  }
  private class DblTracker(c: String, o: Int) extends Tracker(c, o) {
    var lo = Double.NaN; var hi = Double.NaN; var seen = false
    def observe(r: InternalRow): Unit = if (!r.isNullAt(ord)) {
      val v = r.getDouble(ord)
      // Double.compare total order — Spark's min/max rank NaN greatest
      if (!seen || java.lang.Double.compare(v, lo) < 0) lo = v
      if (!seen || java.lang.Double.compare(v, hi) > 0) hi = v
      seen = true
    }
  }
  private class DecTracker(c: String, o: Int, p: Int, s: Int)
      extends Tracker(c, o) {
    var lo: java.math.BigDecimal = _
    var hi: java.math.BigDecimal = _
    def observe(r: InternalRow): Unit = if (!r.isNullAt(ord)) {
      val v = r.getDecimal(ord, p, s).toJavaBigDecimal
      if (lo == null || v.compareTo(lo) < 0) lo = v
      if (hi == null || v.compareTo(hi) > 0) hi = v
    }
  }
  private class BinTracker(c: String, o: Int) extends Tracker(c, o) {
    var lo: Array[Byte] = _
    var hi: Array[Byte] = _
    private def u8(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def observe(r: InternalRow): Unit = if (!r.isNullAt(ord)) {
      val v = r.getBinary(ord)
      if (lo == null || u8(v, lo) < 0) lo = v.clone()
      if (hi == null || u8(v, hi) > 0) hi = v.clone()
    }
  }

  private def mkTrackers(): (Seq[LongTracker], Seq[StrTracker],
      Seq[DblTracker], Seq[DecTracker], Seq[BinTracker]) = (
    statsCols.map(c => new LongTracker(c, writeSchema.fieldIndex(c))),
    strCols.map(c => new StrTracker(c, writeSchema.fieldIndex(c))),
    dblCols.map(c => new DblTracker(c, writeSchema.fieldIndex(c))),
    decCols.map { c =>
      val i = writeSchema.fieldIndex(c)
      val d = writeSchema.fields(i).dataType.asInstanceOf[DecimalType]
      new DecTracker(c, i, d.precision, d.scale)
    },
    binCols.map(c => new BinTracker(c, writeSchema.fieldIndex(c))))

  private var writer: bridge.RowFileWriter = null
  private var rows = 0L
  private var fileIdx = 0
  private var fileName: String = null
  private var current: (Seq[LongTracker], Seq[StrTracker],
    Seq[DblTracker], Seq[DecTracker], Seq[BinTracker]) = null
  private var currentTuple: Seq[Any] = null
  private val done = scala.collection.mutable.ListBuffer.empty[String]
  private val opened = scala.collection.mutable.ListBuffer.empty[String]
  private val tRow = new GenericInternalRow(transforms.size)
  private val joined = new JoinedRow()

  private def fileAt(name: String) =
    Paths.get(rootStr).resolve("data").resolve(name)

  // Hadoop's checksummed local file system leaves a `.<name>.crc`
  // sidecar next to each file; nothing reads it, and vacuum would
  // count it as an orphan data file
  private def dropChecksum(name: String): Unit = {
    val f = fileAt(name)
    Files.deleteIfExists(
      f.resolveSibling("." + f.getFileName.toString + ".crc")): Unit
  }

  private def openNext(): Unit = {
    fileName = s"$fileBase-f$fileIdx.parquet"
    fileIdx += 1
    opened += fileName
    writer = kit.open(fileAt(fileName).toString, partitionId, taskId)
    current = mkTrackers()
    rows = 0L
  }

  private def closeCurrent(): Unit = if (writer != null) {
    writer.close()
    writer = null
    dropChecksum(fileName)
    if (rows > 0L) {
      val (lt, st, dt, dct, bt) = current
      done += FileEntry(fileName,
        lt.filter(_.seen).map(t => t.col -> (t.lo, t.hi)),
        st.filter(_.lo != null)
          .map(t => t.col -> (t.lo.toString, t.hi.toString)),
        dt.filter(_.seen).map(t => t.col -> (t.lo, t.hi)),
        dct.filter(_.lo != null)
          .map(t => t.col -> (BigDecimal(t.lo), BigDecimal(t.hi))),
        bt.filter(_.lo != null).map(t => t.col ->
          (FileEntry.binLower(t.lo), FileEntry.binUpper(t.hi)))).line
    }
  }

  override def write(record: InternalRow): Unit = {
    // the roll key: computed transform values, or the precomputed
    // __pt* columns; null when neither (plain single-file write)
    val tuple: Seq[Any] =
      if (transforms.nonEmpty) {
        var i = 0
        while (i < transforms.size) {
          if (record.isNullAt(tSrcOrds(i))) tRow.update(i, tNull(i))
          else tRow.update(i,
            java.lang.Long.valueOf(tFns(i)(record.getLong(tSrcOrds(i)))))
          i += 1
        }
        (0 until transforms.size).map(tRow.get(_, LongType))
      } else if (preTupleOrds.nonEmpty)
        preTupleOrds.map(i =>
          if (record.isNullAt(i)) null
          else java.lang.Long.valueOf(record.getLong(i)))
      else null
    if (writer == null) openNext()
    else if (roll && tuple != null && currentTuple != null &&
        tuple != currentTuple) {
      closeCurrent()
      openNext()
    }
    currentTuple = tuple
    val out: InternalRow =
      if (transforms.isEmpty) record else joined(record, tRow)
    val (lt, st, dt, dct, bt) = current
    lt.foreach(_.observe(out)); st.foreach(_.observe(out))
    dt.foreach(_.observe(out)); dct.foreach(_.observe(out))
    bt.foreach(_.observe(out))
    writer.write(out)
    rows += 1L
  }

  override def commit(): ManifestWriteMsg = {
    closeCurrent()
    ManifestWriteMsg(done.toList)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      writer = null
    }
    opened.foreach { f =>
      try { Files.deleteIfExists(fileAt(f)); dropChecksum(f) }
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}

private[graft] object ManifestDataWriter {
  /** Refuse a stats column that is missing from `schema` or whose type
    * its stats kind cannot record: long bounds take BIGINT and both
    * timestamp types (epoch micros), the others their own type.
    */
  def checkStatsTypes(schema: StructType, longCols: Seq[String],
      strCols: Seq[String], dblCols: Seq[String], decCols: Seq[String],
      binCols: Seq[String]): Unit = {
    def check(cols: Seq[String], label: String)(ok: DataType => Boolean) =
      cols.foreach { c =>
        val dt = schema(c).dataType
        require(ok(dt), s"stats column '$c' is not $label-typed in the " +
          s"write schema (${dt.simpleString})")
      }
    check(longCols, "BIGINT/timestamp")(dt => dt == LongType ||
      dt == TimestampType || dt == TimestampNTZType)
    check(strCols, "STRING")(_.isInstanceOf[StringType])
    check(dblCols, "DOUBLE")(_ == DoubleType)
    check(decCols, "DECIMAL")(_.isInstanceOf[DecimalType])
    check(binCols, "BINARY")(_ == BinaryType)
  }
}
