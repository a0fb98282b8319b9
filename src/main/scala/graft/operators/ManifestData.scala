package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.StructType

/** DATA-PATH half of [[ManifestTable]] (round-10 split; zero behavior
  * change): staging with typed per-file stats, snapshot reads, stats-
  * pruned planning (two-level manifest list), incremental reads, the
  * change feed, and hidden partitioning (transforms + derivation).
  * Internal — every consumer addresses [[ManifestTable]].
  */
trait ManifestData { self: ManifestLog with ManifestMutations
    with ManifestTxn with ManifestBloom =>

  /** Stage a DataFrame as immutable data files under data/ and return
    * their manifest entry lines (NOT yet visible to readers — only a
    * commit references them). One task per input partition writes one
    * file; a partition with no rows writes none, so an empty frame
    * stages nothing. The names start with `batch` plus a fresh per-call
    * nonce, so no call can overwrite another's files.
    *
    * The task folds EXACT min/max for the named stats columns while
    * the rows stream through, and the entry line records them
    * (`path\tc:min:max,...`); with no stats columns it is the bare
    * path. A column whose values are all null records no bounds.
    *  - `longCols`: BIGINT, TIMESTAMP or TIMESTAMP_NTZ — timestamps
    *    record as epoch-micros longs ([[FileEntry.microsOf]] translates
    *    pushed literals the same way at plan time);
    *  - `strCols`: strings, UTF-8 byte order;
    *  - `dblCols`: doubles, Double.compare order (NaN greatest);
    *  - `decCols`: decimals, scale-exact;
    *  - `binCols`: binaries as 16-byte truncated prefixes
    *    ([[FileEntry.binLower]]/[[FileEntry.binUpper]]).
    * The caller range-lays the frame first (repartitionByRange on the
    * key) so each file covers a narrow band and the stats prune. A
    * stats column of the wrong type is refused before any task runs;
    * a failed job deletes every file the call wrote, then rethrows.
    */
  def stage(df: DataFrame, root: Path, batch: String,
      longCols: Seq[String] = Nil, strCols: Seq[String] = Nil,
      dblCols: Seq[String] = Nil, decCols: Seq[String] = Nil,
      binCols: Seq[String] = Nil): Seq[String] =
    stageFiles(df, root, batch, roll = false, longCols, strCols, dblCols,
      decCols, binCols)

  /** [[stage]], optionally ROLLING to a new file whenever the `__pt*`
    * tuple changes: only for a frame sorted by that tuple within each
    * partition (the layout-aware [[optimizeSmall]]) — on an unsorted
    * frame rolling would split each partition into one file per run.
    */
  private[operators] def stageFiles(df: DataFrame, root: Path,
      batch: String, roll: Boolean, longCols: Seq[String],
      strCols: Seq[String], dblCols: Seq[String], decCols: Seq[String],
      binCols: Seq[String]): Seq[String] = {
    graft.sources.ManifestDataWriter.checkStatsTypes(df.schema, longCols,
      strCols, dblCols, decCols, binCols)
    val name = s"$batch-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val base = root.resolve("data").resolve(name)
    Files.createDirectories(base.getParent)
    val factory = graft.sources.ManifestWriterFactory(root.toString,
      org.apache.spark.sql.graft.bridge.parquetWriteKit(df.sparkSession,
        df.schema), df.schema, Nil, longCols, strCols, dblCols, decCols,
      binCols, name, roll)
    val sc = df.sparkSession.sparkContext
    org.apache.spark.sql.graft.bridge.executeRows(df, "stage") { rows =>
      val lines = new Array[Seq[String]](rows.getNumPartitions)
      val job = sc.submitJob(
        rows.mapPartitionsWithIndex(factory.writePartition),
        (it: Iterator[String]) => it.toVector, rows.partitions.indices,
        (i: Int, ls: Vector[String]) => lines(i) = ls, ())
      try {
        scala.concurrent.Await.result(job,
          scala.concurrent.duration.Duration.Inf)
        lines.toSeq.flatten
      } catch {
        case e: Throwable =>
          // tasks still running when the job failed may yet finish a
          // file: wait for them, then delete every file of this call
          job.cancel()
          awaitTasksEnded(sc, job.jobIds)
          val prefix = base.getFileName.toString + "-"
          try {
            val s = Files.list(base.getParent)
            try s.filter(_.getFileName.toString.startsWith(prefix))
              .forEach(p => Files.deleteIfExists(p): Unit)
            finally s.close()
          } catch { case c: java.io.IOException => e.addSuppressed(c) }
          throw e
      }
    }
  }

  /** Block until no task of `jobIds` is still running (at most 60 s).
    * The status tracker applies events in order, so once it reports a
    * job ended it has seen every task start of that job.
    */
  private def awaitTasksEnded(sc: org.apache.spark.SparkContext,
      jobIds: Seq[Int]): Unit = {
    val st = sc.statusTracker
    def running = jobIds.flatMap(st.getJobInfo).exists(j =>
      j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
        j.stageIds.flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** HIDDEN PARTITIONING (round 10 — r9-VERDICT task 6, Iceberg's
    * headline feature restated): a table records VALUE TRANSFORMS in
    * its header meta (`ptrans=bucket(16,c),truncate(1000,k),days(ts)`)
    * and its writers lay files out by the transform values, recording
    * each file's transform bounds as ordinary per-file stats under a
    * reserved virtual column name (`__ptb16_c` / `__ptt1000_k` /
    * `__ptd_ts`). Planning then DERIVES virtual bands from plain
    * predicates on the SOURCE column — a user filters `c = 42` and the
    * planner adds `__ptb16_c = bucket(42)` — so file skipping works
    * with zero user knowledge of the layout (that is what makes the
    * partitioning "hidden"; a Hive-style layout leaks partition
    * columns into every query). The transform values are materialized
    * as extra columns in the data files: explicit-schema readers never
    * see them (parquet projection drops unrequested columns), and the
    * bytes are RLE'd near-constants.
    *
    * Transforms cover LONG columns: `bucket(n,c)` =
    * pmod(xxhash64(c), n) — equality predicates derive an exact
    * bucket band, ranges derive nothing (hash is not monotone);
    * `truncate(w,c)` = c - floorMod(c, w) and `days(c)` =
    * floorDiv(c, 86400000000) are monotone, so range bands map
    * through directly.
    */
  sealed trait PartTransform {
    def srcCol: String
    /** `ptrans=` meta token. */
    def meta: String
    /** Reserved virtual stats-column name the file bounds land under. */
    def statName: String
    /** Row-level transform value (stage-time layout + stats column). */
    def exprCol: Column
    /** Driver-side transform of one literal (plan-time derivation). */
    def ofLiteral(v: Long): Long
    /** Virtual band derived from a source-column band, when sound. */
    def bandOf(lo: Long, hi: Long): Option[(Long, Long)]
  }

  case class BucketTransform(n: Int, srcCol: String) extends PartTransform {
    def meta = s"bucket($n,$srcCol)"
    def statName = s"__ptb${n}_$srcCol"
    def exprCol: Column = pmod(xxhash64(col(srcCol)), lit(n.toLong))
    def ofLiteral(v: Long): Long = {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val h = new XxHash64(Seq(Literal(v)), 42L).eval(null)
        .asInstanceOf[Long]
      java.lang.Math.floorMod(h, n.toLong)
    }
    def bandOf(lo: Long, hi: Long): Option[(Long, Long)] =
      if (lo == hi) { val b = ofLiteral(lo); Some((b, b)) } else None
  }

  case class TruncateTransform(w: Long, srcCol: String)
      extends PartTransform {
    require(w > 0, s"truncate width must be positive, got $w")
    def meta = s"truncate($w,$srcCol)"
    def statName = s"__ptt${w}_$srcCol"
    def exprCol: Column =
      col(srcCol) - pmod(col(srcCol), lit(w))
    def ofLiteral(v: Long): Long = v - java.lang.Math.floorMod(v, w)
    // monotone; an open lower end stays open (truncating a bound
    // within w of Long.MinValue would wrap to a huge positive value and
    // admit no file)
    def bandOf(lo: Long, hi: Long): Option[(Long, Long)] =
      Some((if (lo < Long.MinValue + w) Long.MinValue else ofLiteral(lo),
        ofLiteral(hi)))
  }

  /** Epoch-micros → days-since-epoch (the Iceberg `days(ts)` shape on
    * a long micros column, which is how this format's fixtures carry
    * time).
    */
  case class DaysTransform(srcCol: String) extends PartTransform {
    private val DayUs = 86400000000L
    def meta = s"days($srcCol)"
    def statName = s"__ptd_$srcCol"
    /** Exact integer floorDiv (round-10 ADVICE fix): the old
      * floor(double/day) disagreed with [[ofLiteral]]'s Math.floorDiv
      * for |micros| beyond 2^53 — and since the DERIVED band is used
      * to SKIP files, a stage/plan mismatch there is a false prune
      * (missing rows), not a superset admit. floorDiv = truncating
      * `div` minus one when the remainder is negative — all long
      * arithmetic, no intermediate multiple (which itself overflows
      * within pmod of Long.MinValue under ANSI), bit-identical to
      * Math.floorDiv for every long.
      */
    def exprCol: Column = {
      import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal => CLit}
      val q = org.apache.spark.sql.graft.bridge.column(IntegralDivide(
        org.apache.spark.sql.graft.bridge.expression(col(srcCol)),
        CLit(DayUs)))
      q - when(col(srcCol) % DayUs < 0, lit(1L)).otherwise(lit(0L))
    }
    def ofLiteral(v: Long): Long = java.lang.Math.floorDiv(v, DayUs)
    def bandOf(lo: Long, hi: Long): Option[(Long, Long)] =
      Some((ofLiteral(lo), ofLiteral(hi))) // monotone
  }

  private val BucketRe = """bucket\((\d+),([^)]+)\)""".r
  private val TruncRe = """truncate\((\d+),([^)]+)\)""".r
  private val DaysRe = """days\(([^)]+)\)""".r

  def parseTransform(s: String): PartTransform = s match {
    case BucketRe(n, c) => BucketTransform(n.toInt, c)
    case TruncRe(w, c) => TruncateTransform(w.toLong, c)
    case DaysRe(c) => DaysTransform(c)
    case _ => throw new IllegalArgumentException(
      s"unknown partition transform '$s'")
  }

  /** Recorded transforms of a version (`ptrans=` header meta). The
    * token is comma-separated transform specs; specs contain no commas
    * outside their own parentheses, so a paren-depth split like
    * [[parseSchemaMeta]]'s applies — but bucket/truncate/days args
    * never nest, so a regex scan is enough.
    */
  def partTransforms(root: Path, version: Int): Seq[PartTransform] =
    headerMeta(root, version).get("ptrans").map(parseTransforms)
      .getOrElse(Nil)

  /** Parse a comma-separated transform spec list (the `ptrans=` token
    * encoding, also the CALL evolve_partitioning argument format).
    */
  def parseTransforms(t: String): Seq[PartTransform] =
    """(bucket|truncate)\(\d+,[^)]+\)|days\([^)]+\)""".r
      .findAllIn(t).toSeq.map(parseTransform)

  /** HISTORICAL transforms of a version (`ptransprev=` meta — written
    * by [[evolvePartitioning]]): transforms some LIVE files were laid
    * out under before an evolution. They no longer drive writes, but
    * read-side derivation still maps predicates through them so the
    * old files' recorded virtual bands keep pruning (Iceberg's
    * multi-spec admission).
    */
  def prevPartTransforms(root: Path, version: Int): Seq[PartTransform] =
    headerMeta(root, version).get("ptransprev").map(parseTransforms)
      .getOrElse(Nil)

  /** Current + historical transforms, deduped — what every READ-side
    * consumer (band derivation, rewrite stat restoration) walks; the
    * write layout uses [[partTransforms]] alone.
    */
  def allPartTransforms(root: Path, version: Int): Seq[PartTransform] = {
    val cur = partTransforms(root, version)
    val curMeta = cur.map(_.meta).toSet
    cur ++ prevPartTransforms(root, version)
      .filterNot(t => curMeta(t.meta))
  }

  /** PARTITION EVOLUTION (round 13 — r12-VERDICT task 5, Iceberg's
    * signature capability): one metadata-only commit swaps the table's
    * write layout (`ptrans=`) while the superseded transforms move to
    * `ptransprev=`. New writes lay out under the new transforms with
    * their virtual stats; old files keep their recorded bands, and
    * since derivation walks [[allPartTransforms]] while admission is
    * per-file only-skip-provably-empty (a file lacking a band admits),
    * pruning stays exact across the mixed layout — a table can move
    * from bucket(4) to bucket(16)+days(ts) as it grows without
    * rewriting a byte. Storage-partitioned joins DEGRADE (never
    * mis-co-locate) on mixed snapshots: old files carry no band for
    * the new transform, so the bucket-exact check fails closed.
    * An empty `newTs` un-partitions the table (writes stop laying
    * out; history keeps pruning).
    */
  def evolvePartitioning(root: Path, newTs: Seq[PartTransform]): Int =
    commitOpsF(root, { parent =>
      require(parent > 0, "evolvePartitioning on an empty table")
      val m = headerMeta(root, parent)
      // the write path rejects transforms + column mapping together
      // (the recorded srcCol is the create-time physical name); fail
      // at evolve time instead of stranding every later INSERT
      require(newTs.isEmpty || columnMap(root, parent).isEmpty,
        "evolvePartitioning on a column-mapped table is unsupported — " +
        "transforms key on create-time physical names")
      m.get("schema").map(parseSchemaMeta).foreach { sch =>
        newTs.foreach { t =>
          val f = sch.fields.find(_.name == t.srcCol).getOrElse(
            throw new IllegalArgumentException(
              s"evolvePartitioning ${t.meta}: no column '${t.srcCol}'"))
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"partition transform ${t.meta} needs a BIGINT source " +
            s"column; '${t.srcCol}' is ${f.dataType.simpleString}")
        }
      }
      val newMetas = newTs.map(_.meta).toSet
      val prev = (partTransforms(root, parent) ++
        prevPartTransforms(root, parent))
        .map(_.meta).distinct.filterNot(newMetas)
      s"ptrans=${newTs.map(_.meta).mkString(",")}" +
        s" ptransprev=${prev.mkString(",")}"
    })(_ => Some((Nil, Nil))).get

  def transformsMeta(ts: Seq[PartTransform]): String = {
    val m = ts.map(_.meta).mkString(",")
    require(!m.contains(' '), s"ptrans meta must be space-free: $m")
    s"ptrans=$m"
  }

  /** Stage `df` laid out BY the transform values (range-partitioned on
    * the transform tuple, so each staged file covers a tight,
    * near-disjoint transform range) with the transform bounds recorded
    * as per-file stats under the reserved virtual names, alongside any
    * ordinary stats columns. Commit the result with
    * [[transformsMeta]] in the commit meta so readers can derive.
    */
  def stageHidden(df: DataFrame, root: Path, batch: String,
      transforms: Seq[PartTransform], files: Int,
      statsCols: Seq[String] = Nil, strCols: Seq[String] = Nil)
      : Seq[String] = {
    require(transforms.nonEmpty, "stageHidden needs at least one transform")
    // the plan-time derivation hashes/arithmetics a LONG literal; a
    // narrower source column would hash differently spark-side
    // (xxhash64 of an int != xxhash64 of the widened long) and the
    // derived band would FALSELY prune — reject the type up front
    transforms.foreach { t =>
      require(df.schema(t.srcCol).dataType ==
          org.apache.spark.sql.types.LongType,
        s"partition transform ${t.meta} needs a BIGINT source column; " +
        s"'${t.srcCol}' is ${df.schema(t.srcCol).dataType.simpleString} " +
        "— cast it to long before staging")
    }
    val withT = transforms.foldLeft(df)((d, t) =>
      d.withColumn(t.statName, t.exprCol))
    val laid = withT.repartitionByRange(math.max(1, files),
      transforms.map(t => col(t.statName)): _*)
    stage(laid, root, batch,
      (statsCols ++ transforms.map(_.statName)).distinct, strCols)
  }

  /** Re-materialize the recorded transforms' virtual columns on a
    * rewrite frame (wave 150 review fix): every stat-preserving
    * rewrite path re-reads files under the LOGICAL schema — which has
    * no `__pt*` columns — while its preserved stat-column list (taken
    * from the touched entries) DOES name them, so staging would fail
    * on the missing column. The transform values are deterministic
    * functions of the source columns, so restoring them is exact.
    */
  private[operators] def restoreTransformCols(root: Path, version: Int,
      df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    // ALL transforms, historical included (round 13): a rewrite of a
    // pre-evolution file preserves ITS recorded stat columns, which
    // name the OLD transform's virtual column
    allPartTransforms(root, version)
      .filter(t => have(t.srcCol) && !have(t.statName))
      .foldLeft(df)((d, t) => d.withColumn(t.statName, t.exprCol))
  }

  /** Plan-time derivation: map source-column bands through the
    * version's recorded transforms into virtual-stat bands. A
    * predicate shape a transform cannot soundly map (range over a
    * bucket) derives nothing — the files are then admitted by the
    * ordinary rules (only-skip-provably-empty).
    */
  def hiddenBands(root: Path, version: Int,
      preds: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    // historical transforms derive too (round 13 partition evolution):
    // pre-evolution files prune via their old recorded virtual bands,
    // post-evolution ones via the new — per-file admission tolerates
    // the mix (a file without the band admits)
    val ts = allPartTransforms(root, version)
    if (ts.isEmpty) Nil
    else preds.flatMap { case (c, lo, hi) =>
      ts.filter(_.srcCol == c).flatMap(t =>
        t.bandOf(lo, hi).map { case (l, h) => (t.statName, l, h) })
    }
  }

  /** Scan one snapshot: exactly its listed files, explicit schema. */
  def read(spark: SparkSession, root: Path, version: Int,
      schema: StructType): DataFrame = {
    val files = filesFor(root, version)
      .map(f => root.resolve("data").resolve(f).toString)
    spark.read.schema(schema).parquet(files: _*)
  }

  /** Stats-pruned read: intersect the filters' bands with each live
    * file's recorded stats and scan ONLY the admitted files — planning
    * happens against the manifest's per-file stats, with no listing
    * and no footer I/O for skipped files ("a point read on 100 TB
    * touches the handful of files whose band contains the key").
    * Admission is the one rule every manifest reader shares
    * ([[graft.sources.FileAdmission]]: long/string/double/decimal/
    * binary bands, IN sets, hidden-partition bands, bloom probes), so
    * `inputFiles` is exactly the admitted set. Every filter re-applies
    * row-exactly (stats admit at file granularity; statless files are
    * admitted), so the result equals a full scan + filter; a filter
    * shape that cannot re-apply is refused rather than dropped. Reads
    * under the caller's schema: no column-mapping aliasing.
    */
  def readPruned(spark: SparkSession, root: Path, version: Int,
      schema: StructType, filters: Seq[Filter]): DataFrame = {
    // a pruned FILE scan never subtracts deletion vectors: on a
    // DV-carrying version it would silently resurrect deleted rows
    require(dvsFor(root, version).isEmpty &&
        scopedDvsFor(root, version).isEmpty &&
        rowDvsFor(root, version).isEmpty,
      s"readPruned on v$version: outstanding deletion vectors — a " +
      "pruned file scan would resurrect deleted rows; use readMOR/" +
      "readMORScoped/readMORPositional or compact first")
    val exact = filters.map(f =>
      graft.sources.ManifestV2.filterToColumn(f, identity).getOrElse(
        throw new IllegalArgumentException(
          s"readPruned cannot re-apply filter $f row-exactly")))
    val df = scanFiles(spark, root, schema, graft.sources.FileAdmission
      .admit(root, version, filters.toArray, identity).map(_.path))
    exact.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** [[readPruned]] on the key band `lo <= keyCol <= hi`. */
  def readPruned(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: Long, hi: Long): DataFrame =
    readPruned(spark, root, version, schema,
      Seq(GreaterThanOrEqual(keyCol, lo), LessThanOrEqual(keyCol, hi)))

  /** Scan exactly `files` (data-relative names) under `schema`; no
    * files reads as an empty frame of that schema.
    */
  private[graft] def scanFiles(spark: SparkSession, root: Path,
      schema: StructType, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(
      files.map(f => root.resolve("data").resolve(f).toString): _*)

  /** Plan-time pruned resolution (wave 134 — the two-level payoff): the
    * admitted entry set of `version` under conjunctive long + string
    * band predicates, computed WITHOUT resolving the full file list.
    * A parquet checkpoint's manifest list is consulted first: segments
    * whose aggregate bounds prove disjointness are never read, so
    * planning IO rides the relevant fraction of the file list — on a
    * 10M-file table a narrow band reads a handful of segment files,
    * not the 10M-entry checkpoint. Delta commits on top apply as
    * usual (removes may name entries in skipped segments; filtering a
    * set they were never admitted to is a no-op). Returns (admitted
    * entries, segments read, segments listed) — the counters are the
    * spec's hook for asserting the skip physically happened.
    */
  private[graft] def prunedEntries(root: Path, version: Int,
      longPreds: Seq[(String, Long, Long)],
      strPreds: Seq[(String, Option[String], Option[String])],
      dblPreds: Seq[(String, Double, Double)] = Nil,
      decPreds: Seq[(String, Option[BigDecimal], Option[BigDecimal])] = Nil,
      binPreds: Seq[(String, Option[Seq[Byte]], Option[Seq[Byte]])] = Nil)
      : (Seq[FileEntry], Int, Int) = {
    def admit(e: FileEntry): Boolean =
      longPreds.forall { case (c, lo, hi) => e.mayContain(c, lo, hi) } &&
      strPreds.forall { case (c, lo, hi) => e.mayContainStrOpt(c, lo, hi) } &&
      dblPreds.forall { case (c, lo, hi) => e.mayContainDbl(c, lo, hi) } &&
      decPreds.forall { case (c, lo, hi) => e.mayContainDecOpt(c, lo, hi) } &&
      binPreds.forall { case (c, lo, hi) => e.mayContainBin(c, lo, hi) }
    val (parent, kv, body) = manifestOf(root, version)
    if (kv.get("body").contains("seg")) {
      var segsRead = 0
      val out = body.flatMap { l =>
        val (seg, _, bounds) = parseDesc(l)
        if (!admit(bounds)) Nil
        else {
          segsRead += 1
          SegIO.read(manifestDir(root).resolve(seg)).filter(admit)
        }
      }
      (out, segsRead, body.size)
    } else if (!kv.contains("kind"))
      (body.map(parseEntry).filter(admit), 0, 0)
    else {
      val (base, r0, t0) =
        prunedEntries(root, parent, longPreds, strPreds, dblPreds,
          decPreds, binPreds)
      val removes = body.filter(_.startsWith("-")).map(_.drop(1)).toSet
      val adds = body.filter(_.startsWith("+")).map(_.drop(1)).map(parseEntry)
      // columnar-delta adds prune at the DESCRIPTOR level too: a
      // segment whose aggregate bounds prove disjointness is never read
      var segsRead = 0
      val descs = body.filter(_.startsWith("@"))
      val segAdds = descs.flatMap { l =>
        val (seg, _, bounds) = parseDesc(l)
        if (!admit(bounds)) Nil
        else {
          segsRead += 1
          SegIO.read(manifestDir(root).resolve(seg)).filter(admit)
        }
      }
      (base.filterNot(e => removes(e.path)) ++ adds.filter(admit)
        ++ segAdds, r0 + segsRead, t0 + descs.size)
    }
  }

  /** Incremental consumption: the rows added between two snapshots =
    * the files `to` references that `from` does not — the primitive
    * behind "stream a lakehouse table from version K" (a consumer
    * persists its last-read version and repeatedly drains the delta).
    * Valid only over an APPEND-ONLY version range: every file of
    * `from` must still be live in `to`, else a compaction/merge's
    * rewritten files would re-surface rows the consumer already saw —
    * the guard refuses instead. Real formats extend this to the
    * general case by logging row-level change actions (a change data
    * feed); this minimal format deliberately stops at file-level
    * append deltas.
    */
  def readIncremental(spark: SparkSession, root: Path, from: Int,
      to: Int, schema: StructType): DataFrame = {
    require(from <= to, s"incremental range v$from→v$to is backwards")
    val before = if (from == 0) Set.empty[String]
      else filesFor(root, from).toSet
    val after = filesFor(root, to)
    require(before.subsetOf(after.toSet),
      s"v$from→v$to is not append-only (a rewrite or compaction " +
      "intervened) — file-level incremental read is undefined there")
    scanFiles(spark, root, schema, after.filterNot(before))
  }

  /** Row-level CHANGE DATA FEED between two snapshots — the
    * generalization whose absence [[readIncremental]]'s append-only
    * guard documents: every committed difference surfaces as tagged
    * rows (`_change_type` = insert | delete; an update is its
    * delete(old image) + insert(new image) pair, the standard CDF
    * pre/post-image shape), derived from FILE LINEAGE, never a
    * full-table diff:
    *
    *  - rows of files `to` added, minus rows of files it removed
    *    (multiset exceptAll), are the inserts; the reverse difference
    *    the deletes — so a compaction or optimize, which only moves
    *    rows between files, yields an EMPTY feed, and a CoW merge
    *    yields exactly the band rows it changed (untouched rows in
    *    rewritten files cancel);
    *  - deletion vectors added in (from, to] kill rows of SURVIVING
    *    files: those surface as deletes via one broadcast semi-join —
    *    the only case that reads a file both versions share, and only
    *    because its rows' visibility changed.
    *
    * Both sides of the exceptAll are bounded by the CHANGED files, so
    * feed cost rides the delta at any table size. Invariant (the CDF
    * contract, proven by Wave115Spec across append+merge+MOR+compact
    * lifecycles): readMOR(from) − deletes ⊎ inserts ≡ readMOR(to) as
    * multisets.
    */
  def readChanges(spark: SparkSession, root: Path, from: Int, to: Int,
      schema: StructType, keyCol: String): DataFrame = {
    require(from <= to, s"change range v$from→v$to is backwards")
    // the feed's visibility algebra covers key-based vectors only;
    // scoped (positional) vectors must be compacted first
    requireNoScopedDvs(root, from, "readChanges")
    requireNoScopedDvs(root, to, "readChanges")
    val fromFiles =
      if (from == 0) Set.empty[String] else filesFor(root, from).toSet
    val toFiles = filesFor(root, to).toSet
    def readSet(fs: Set[String]): DataFrame =
      scanFiles(spark, root, schema, fs.toSeq.sorted)
    def dvKeys(v: Int): Option[DataFrame] = {
      val dvs = if (v == 0) Nil else dvsFor(root, v)
      if (dvs.isEmpty) None
      else Some(spark.read.parquet(dvs.map(f =>
          root.resolve("data").resolve(f).toString): _*)
        .select(keyCol).distinct())
    }
    def visible(df: DataFrame, keys: Option[DataFrame]): DataFrame =
      keys.fold(df)(k => df.join(broadcast(k), Seq(keyCol), "left_anti"))
    val addVis = visible(readSet(toFiles -- fromFiles), dvKeys(to))
    val remVis = visible(readSet(fromFiles -- toFiles), dvKeys(from))
    val inserts = addVis.exceptAll(remVis)
    val deletes = remVis.exceptAll(addVis)
    val newDvKeys = (dvKeys(to), dvKeys(from)) match {
      case (Some(t), Some(f)) => Some(t.join(f, Seq(keyCol), "left_anti"))
      case (Some(t), None) => Some(t)
      case _ => None
    }
    val dvDeletes = newDvKeys.map(k =>
      readSet(fromFiles.intersect(toFiles))
        .join(broadcast(k), Seq(keyCol), "left_semi"))
    val tagged = inserts.withColumn("_change_type", lit("insert"))
      .unionAll(deletes.withColumn("_change_type", lit("delete")))
    dvDeletes.fold(tagged)(d =>
      tagged.unionAll(d.withColumn("_change_type", lit("delete"))))
  }

}
