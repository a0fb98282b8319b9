package graft.operators

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DATA-PATH half of [[ManifestTable]] (round-10 split; zero behavior
  * change): staging with typed per-file stats, snapshot reads, stats-
  * pruned planning (two-level manifest list), incremental reads, the
  * change feed, and hidden partitioning (transforms + derivation).
  * Internal — every consumer addresses [[ManifestTable]].
  */
trait ManifestData { self: ManifestLog with ManifestMutations
    with ManifestTxn with ManifestBloom =>

  /** Stage a DataFrame as immutable data files under data/ with a
    * caller-chosen batch prefix; returns the relative paths (NOT yet
    * visible to readers — only a commit references them).
    */
  def stage(df: DataFrame, root: Path, batch: String): Seq[String] = {
    val tmp = root.resolve(s".stage_$batch")
    df.write.mode("overwrite").parquet(tmp.toString)
    val data = root.resolve("data")
    Files.createDirectories(data)
    val s = Files.list(tmp)
    val parts =
      try s.map[Path](p => p).toArray.toSeq.collect {
        case p: Path if p.getFileName.toString.endsWith(".parquet") => p
      }.sortBy(_.getFileName.toString)
      finally s.close()
    val rel = parts.zipWithIndex.map { case (p, i) =>
      val n = s"$batch-$i.parquet"
      Files.move(p, data.resolve(n), StandardCopyOption.REPLACE_EXISTING)
      n
    }
    // remove the staging leftovers (_SUCCESS etc.)
    val rest = Files.list(tmp)
    try rest.forEach(p => Files.delete(p)) finally rest.close()
    Files.delete(tmp)
    rel
  }

  /** [[stage]] plus EXACT per-file min/max stats on `keyCol`, encoded
    * into the manifest lines (`path\tmin\tmax`). The caller range-lays
    * the frame first (repartitionByRange on the key) so each file
    * covers a narrow key band and the stats actually prune; measured
    * post-write, the bounds are exact, not estimates.
    */
  def stageWithStats(df: DataFrame, root: Path, batch: String,
      keyCol: String): Seq[String] =
    stageWithStats(df, root, batch, Seq(keyCol))

  /** Multi-column form: record exact min/max for EVERY column in
    * `statCols` (all long-typed), one stats pass per staged file —
    * the per-column stats map real formats carry, so [[readPruned]] /
    * [[mergeCoW]] can prune on any recorded column, not one hard-wired
    * key (r8 VERDICT item 2).
    */
  def stageWithStats(df: DataFrame, root: Path, batch: String,
      statCols: Seq[String]): Seq[String] =
    stageWithTypedStats(df, root, batch, statCols, Nil)

  /** Typed form: exact per-file min/max for `longCols` (long-typed)
    * AND `strCols` (string-typed) in one stats pass per staged file —
    * string bounds being the wave-132 closure of the format's
    * long-only-stats gap, so prunes compose across numeric and string
    * predicates the way real formats' per-column stats do.
    */
  def stageWithTypedStats(df: DataFrame, root: Path, batch: String,
      longCols: Seq[String], strCols: Seq[String]): Seq[String] =
    stageWithTypedStats(df, root, batch, longCols, strCols, Nil)

  /** Full typed form (round 11 — r10-VERDICT task 4 adds DOUBLE
    * bounds): `longCols` may also name TIMESTAMP/TIMESTAMP_NTZ
    * columns, whose bounds record as epoch-micros LONGs (the
    * µs-timestamp convention [[FileEntry.microsOf]] — pushed
    * timestamp literals translate through the same function at plan
    * time, so the prune is bit-consistent); `dblCols` record
    * double bounds under Double.compare total order.
    */
  def stageWithTypedStats(df: DataFrame, root: Path, batch: String,
      longCols: Seq[String], strCols: Seq[String], dblCols: Seq[String])
      : Seq[String] =
    stageWithTypedStats(df, root, batch, longCols, strCols, dblCols, Nil)

  /** Four-type form (round 11, wave 161 adds DECIMAL bounds — money
    * columns in real schemas are decimal, not double; bounds record
    * scale-exact via toPlainString and compare numerically).
    */
  def stageWithTypedStats(df: DataFrame, root: Path, batch: String,
      longCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
      decCols: Seq[String]): Seq[String] =
    stageWithTypedStats(df, root, batch, longCols, strCols, dblCols,
      decCols, Nil)

  /** Five-type form (round 12 adds BINARY bounds — the last boundless
    * leaf type; media-blob/digest columns record TRUNCATED 16-byte
    * prefixes in the Iceberg truncate(16) shape, so a 10 MB blob
    * costs ~32 B of manifest regardless of size —
    * [[FileEntry.binLower]]/[[FileEntry.binUpper]]).
    */
  def stageWithTypedStats(df: DataFrame, root: Path, batch: String,
      longCols: Seq[String], strCols: Seq[String], dblCols: Seq[String],
      decCols: Seq[String], binCols: Seq[String]): Seq[String] = {
    require(longCols.nonEmpty || strCols.nonEmpty || dblCols.nonEmpty ||
      decCols.nonEmpty || binCols.nonEmpty,
      "stageWithTypedStats needs at least one stats column")
    val spark = df.sparkSession
    val staged = stage(df, root, batch)
    if (staged.isEmpty) return Nil
    // ONE stats job for the whole commit (r13 opt; the ManifestBloom
    // one-job-build discipline): the old shape ran one driver-sequential
    // Spark job PER staged file — O(files) jobs per commit, which at a
    // 10k-file production commit is 10k scheduler round-trips for work
    // that is a single grouped aggregate. Group rows by their source
    // file instead: one scan of the staged set, one agg, O(files) rows
    // back. Emptiness is still decided by ROWS — an empty file yields
    // no group at all and is deleted below, and per-column null bounds
    // are still simply not recorded (the only-skip-provably-empty rule).
    val aggs = count(lit(1)) +:
      (longCols ++ strCols ++ dblCols ++ decCols ++ binCols)
        .flatMap(c => Seq(min(c), max(c)))
    val data = root.resolve("data")
    val byFile = spark.read.schema(df.schema)
      .parquet(staged.map(r => data.resolve(r).toString): _*)
      .groupBy(input_file_name().as("__graft_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { full =>
        // input_file_name() is a URI string: decode %-escapes via URI
        // (URLDecoder is for query strings — it would also turn a
        // literal '+' in a caller-chosen batch name into a space, and
        // throws on a bare '%'), then take the basename
        val p = new java.net.URI(full.getString(0)).getPath
        val name = p.substring(p.lastIndexOf('/') + 1)
        // drop the grouping column so every downstream index matches
        // the historical single-file agg row layout exactly
        name -> org.apache.spark.sql.Row.fromSeq(full.toSeq.drop(1))
      }.toMap
    // a lookup MISS below means "empty file" and deletes the staged
    // file — that is only sound if every grouped name matched a staged
    // rel, so refuse to proceed when decoding produced an unknown name
    // (r13 ADVICE: a silent mismatch would drop that file's rows from
    // the commit instead of failing)
    val unmatched = byFile.keySet.diff(staged.toSet)
    // nothing of the batch is committed yet: delete what stage() wrote,
    // so a refused commit leaves no orphaned files in data/
    if (unmatched.nonEmpty)
      staged.foreach(rel => Files.deleteIfExists(data.resolve(rel)))
    require(unmatched.isEmpty,
      s"stats rows reference non-staged files (name decode mismatch): " +
        unmatched.mkString(", "))
    staged.flatMap { rel =>
      val mmOpt = byFile.get(rel)
      if (mmOpt.isEmpty) { // empty partition's file: no rows → not live
        Files.delete(root.resolve("data").resolve(rel)); None
      } else {
        val mm = mmOpt.get
        def longAt(i: Int): Long = FileEntry.microsOf(mm.get(i)).getOrElse(
          throw new IllegalArgumentException(
            s"stats column is neither BIGINT nor a timestamp: ${mm.get(i)}"))
        val off = 1 + 2 * longCols.size
        val doff = off + 2 * strCols.size
        Some(FileEntry(rel,
          longCols.zipWithIndex.flatMap { case (c, i) =>
            if (mm.isNullAt(1 + 2 * i)) None
            else Some(c -> (longAt(1 + 2 * i), longAt(2 + 2 * i))) },
          strCols.zipWithIndex.flatMap { case (c, i) =>
            if (mm.isNullAt(off + 2 * i)) None
            else Some(c ->
              (mm.getString(off + 2 * i), mm.getString(off + 2 * i + 1)))
          },
          dblCols.zipWithIndex.flatMap { case (c, i) =>
            if (mm.isNullAt(doff + 2 * i)) None
            else Some(c ->
              (mm.getDouble(doff + 2 * i), mm.getDouble(doff + 2 * i + 1)))
          },
          {
            val coff = doff + 2 * dblCols.size
            decCols.zipWithIndex.flatMap { case (c, i) =>
              if (mm.isNullAt(coff + 2 * i)) None
              else Some(c ->
                (BigDecimal(mm.getDecimal(coff + 2 * i)),
                 BigDecimal(mm.getDecimal(coff + 2 * i + 1))))
            }
          },
          {
            val boff = doff + 2 * dblCols.size + 2 * decCols.size
            binCols.zipWithIndex.flatMap { case (c, i) =>
              if (mm.isNullAt(boff + 2 * i)) None
              else Some(c ->
                ((FileEntry.binLower(mm.getAs[Array[Byte]](boff + 2 * i)),
                  FileEntry.binUpper(mm.getAs[Array[Byte]](boff + 2 * i + 1)))))
            }
          }).line)
      }
    }
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
    def bandOf(lo: Long, hi: Long): Option[(Long, Long)] =
      Some((ofLiteral(lo), ofLiteral(hi))) // monotone
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
    stageWithTypedStats(laid, root, batch,
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

  /** [[readPrunedMulti]] with hidden-partition derivation: predicates
    * prune through BOTH their own recorded stats (if any) and the
    * transform layout. The exact predicate re-applies on the admitted
    * rows, so results equal a full scan + filter.
    */
  def readPrunedHidden(spark: SparkSession, root: Path, version: Int,
      schema: StructType, preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "readPrunedHidden needs at least one predicate")
    requirePrunableSnapshot(root, version, "readPrunedHidden")
    val (hit, _, _) = prunedEntries(root, version,
      preds ++ hiddenBands(root, version, preds), Nil)
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
        .reduce(_ && _))
  }


  /** Scan one snapshot: exactly its listed files, explicit schema. */
  def read(spark: SparkSession, root: Path, version: Int,
      schema: StructType): DataFrame = {
    val files = filesFor(root, version)
      .map(f => root.resolve("data").resolve(f).toString)
    spark.read.schema(schema).parquet(files: _*)
  }

  /** Stats-pruned read: intersect `[lo, hi]` with each live file's
    * recorded key bounds and scan ONLY the admitted files — planning
    * happens against the manifest's per-file stats, with no listing
    * and no footer I/O for skipped files. The exact predicate is
    * re-applied on the admitted rows (stats admit at file granularity),
    * so the result equals a full scan + filter; the file skips are the
    * point ("a point read on 100 TB touches the handful of files whose
    * band contains the key").
    */
  def readPruned(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: Long, hi: Long): DataFrame =
    readPrunedMulti(spark, root, version, schema, Seq((keyCol, lo, hi)))

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

  /** Multi-predicate stats prune: a file is scanned only when EVERY
    * `(col, lo, hi)` band intersects its recorded bounds for that
    * column — predicates on different columns compose conjunctively,
    * exactly how real formats' per-column stats planning works. A file
    * with no recorded stats for some predicate column cannot be proven
    * disjoint and is admitted (the row-level filter still applies, so
    * results stay exact either way).
    */
  /** Fail-loud guard shared by the pruned readers: they scan snapshot
    * FILES and never subtract deletion vectors, so running one on a
    * DV-carrying version would silently resurrect deleted rows — the
    * same hazard the V1 source guards by checking vectors before
    * pruning (wave-139 review fix). Use [[readMOR]] /
    * [[readMORScoped]] (or compact first) on such snapshots.
    */
  private[operators] def requirePrunableSnapshot(root: Path, version: Int,
      op: String): Unit =
    require(dvsFor(root, version).isEmpty &&
        scopedDvsFor(root, version).isEmpty &&
        rowDvsFor(root, version).isEmpty,
      s"$op on v$version: outstanding deletion vectors — a pruned " +
      "file scan would resurrect deleted rows; use readMOR/" +
      "readMORScoped/readMORPositional or compact first")

  def readPrunedMulti(spark: SparkSession, root: Path, version: Int,
      schema: StructType, preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "readPrunedMulti needs at least one predicate")
    requirePrunableSnapshot(root, version, "readPrunedMulti")
    val (hit, _, _) = prunedEntries(root, version, preds, Nil)
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
        .reduce(_ && _))
  }

  /** String-band stats prune (wave 132): admit only the files whose
    * recorded STRING bounds for `keyCol` intersect [lo, hi] — the
    * mechanism behind "a brand/tenant/category predicate on 100 TB
    * touches the handful of files whose dictionary band contains it".
    * Same exactness contract as [[readPrunedMulti]]: stats admit at
    * file granularity, the row filter re-applies, statless files are
    * admitted (never skipped).
    */
  def readPrunedStr(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: String, hi: String)
      : DataFrame = {
    requirePrunableSnapshot(root, version, "readPrunedStr")
    val (hit, _, _) = prunedEntries(root, version, Nil,
      Seq((keyCol, Some(lo), Some(hi))))
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** DOUBLE-band stats prune (round 11): admit only the files whose
    * recorded double bounds for `keyCol` intersect [lo, hi] — closing
    * the "predicates on o_totalprice / events.value admit every file"
    * gap. Same exactness contract as [[readPrunedMulti]]: stats admit
    * at file granularity, the row filter re-applies, statless files
    * are admitted (never skipped).
    */
  def readPrunedDbl(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: Double, hi: Double)
      : DataFrame = {
    requirePrunableSnapshot(root, version, "readPrunedDbl")
    val (hit, _, _) = prunedEntries(root, version, Nil, Nil,
      Seq((keyCol, lo, hi)))
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** DECIMAL-band stats prune (round 11, wave 161): same exactness
    * contract as [[readPrunedMulti]] — stats admit at file
    * granularity, the row filter re-applies, statless files are
    * admitted.
    */
  def readPrunedDec(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: BigDecimal, hi: BigDecimal)
      : DataFrame = {
    requirePrunableSnapshot(root, version, "readPrunedDec")
    val (hit, _, _) = prunedEntries(root, version, Nil, Nil, Nil,
      Seq((keyCol, Some(lo), Some(hi))))
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** BINARY-band stats prune (round 12 — the last boundless leaf
    * type): admit only the files whose recorded truncated-prefix
    * bounds for `keyCol` intersect the byte range — "a digest/blob
    * range predicate on 100 TB touches the handful of files whose
    * prefix band contains it". Same exactness contract as
    * [[readPrunedMulti]]: stats admit at file granularity, the row
    * filter re-applies, statless files are admitted.
    */
  def readPrunedBin(spark: SparkSession, root: Path, version: Int,
      schema: StructType, keyCol: String, lo: Option[Array[Byte]],
      hi: Option[Array[Byte]]): DataFrame = {
    require(lo.isDefined || hi.isDefined,
      "readPrunedBin needs at least one bound")
    requirePrunableSnapshot(root, version, "readPrunedBin")
    val (hit, _, _) = prunedEntries(root, version, Nil, Nil, Nil, Nil,
      Seq((keyCol, lo.map(_.toSeq), hi.map(_.toSeq))))
    if (hit.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val cond = (lo.map(b => col(keyCol) >= lit(b)) ++
      hi.map(b => col(keyCol) <= lit(b))).reduce(_ && _)
    spark.read.schema(schema).parquet(
        hit.map(e => root.resolve("data").resolve(e.path).toString): _*)
      .filter(cond)
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
    val added = after.filterNot(before)
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(
      added.map(f => root.resolve("data").resolve(f).toString): _*)
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
      if (fs.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(fs.toSeq.sorted.map(f =>
        root.resolve("data").resolve(f).toString): _*)
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
