package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import graft.{QueryGroup, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One live data file plus its per-column stats (min/max of any
  * number of long-typed columns), the planning metadata real formats
  * carry per file: a reader or merge writer intersects a predicate
  * with these bounds and PRUNES files before any scan — the
  * mechanism behind "a MERGE into 100 TB rewrites 3 files, not the
  * table". Round 9 generalized the single hard-wired key of the r8
  * format (r8 VERDICT item 2) to a small ordered column→bounds list,
  * so pruning composes across predicates on different columns.
  */
case class FileEntry(path: String, stats: Seq[(String, (Long, Long))],
    strStats: Seq[(String, (String, String))] = Nil,
    dblStats: Seq[(String, (Double, Double))] = Nil,
    decStats: Seq[(String, (BigDecimal, BigDecimal))] = Nil,
    binStats: Seq[(String, (Seq[Byte], Option[Seq[Byte]]))] = Nil) {
  /** Recorded bounds of `c`, None when this file carries none. */
  def band(c: String): Option[(Long, Long)] =
    stats.collectFirst { case (`c`, b) => b }
  /** Recorded DOUBLE bounds of `c` (round 11 — r10-VERDICT task 4:
    * until now only long and string columns pruned, so a predicate on
    * o_totalprice/events.value admitted every file). NaN handling
    * follows Spark's min/max ordering (NaN largest): a file whose max
    * is NaN is admitted by any upper bound, the superset-admit rule.
    */
  def bandDbl(c: String): Option[(Double, Double)] =
    dblStats.collectFirst { case (`c`, b) => b }
  /** Recorded DECIMAL bounds of `c` (round 11, wave 161 — the last
    * numeric type without bounds; money columns in real schemas are
    * decimal, not double).
    */
  def bandDec(c: String): Option[(BigDecimal, BigDecimal)] =
    decStats.collectFirst { case (`c`, b) => b }
  /** Recorded BINARY bounds of `c` (round 12 — the last boundless
    * leaf type; media-blob/digest columns): TRUNCATED prefixes in the
    * Iceberg truncate(16) shape — the lower is the true min's first
    * 16 bytes (truncation only decreases, so it stays a valid lower
    * bound), the upper is the true max's truncation with its last
    * non-0xFF byte incremented and the tail dropped (strictly above
    * every value sharing the prefix), or None when all 16 bytes are
    * 0xFF (no finite bound exists at that width).
    */
  def bandBin(c: String): Option[(Seq[Byte], Option[Seq[Byte]])] =
    binStats.collectFirst { case (`c`, b) => b }
  /** Recorded STRING bounds of `c` (round-9 wave 132: the r8/r9
    * format carried long bounds only — "no string/binary bounds"
    * was a named representational gap). Admission compares in
    * UTF-8 BYTE order ([[ManifestTable.u8cmp]]) because that is the
    * order Spark's min/max on StringType recorded the bounds in —
    * Java's UTF-16 code-unit compare disagrees for
    * supplementary-plane text vs U+E000..U+FFFF, and a wrong-order
    * compare there would SKIP a non-empty file (wave-139 review
    * fix), breaking the only-skip-provably-empty rule.
    */
  def bandStr(c: String): Option[(String, String)] =
    strStats.collectFirst { case (`c`, b) => b }
  /** Can this file contain a row with `c` in [lo, hi]? A file with
    * no stats for `c` CANNOT be proven disjoint, so it is admitted —
    * pruning must only ever skip provably-empty files.
    */
  def mayContain(c: String, lo: Long, hi: Long): Boolean =
    band(c).forall { case (mn, mx) => mn <= hi && mx >= lo }
  /** String-band admission, same only-skip-provably-empty rule. */
  def mayContainStr(c: String, lo: String, hi: String): Boolean =
    bandStr(c).forall { case (mn, mx) =>
      FileEntry.u8cmp(mn, hi) <= 0 && FileEntry.u8cmp(mx, lo) >= 0 }
  /** Double-band admission: Double.compare total order EXCEPT that
    * ±0.0 normalize to one zero first (review fix) — Spark's min/max
    * and the row filter compare under SQL ordering where -0.0 == 0.0,
    * so a file recording (-0.0, -0.0) must be admitted for a [0.0,
    * 0.0] band (raw Double.compare would falsely prove disjointness
    * and SKIP matching rows). NaN stays greatest — a NaN max admits
    * any upper bound, the superset rule.
    */
  def mayContainDbl(c: String, lo: Double, hi: Double): Boolean = {
    def n(d: Double) = if (d == 0.0d) 0.0d else d
    bandDbl(c).forall { case (mn, mx) =>
      java.lang.Double.compare(n(mn), n(hi)) <= 0 &&
      java.lang.Double.compare(n(mx), n(lo)) >= 0 }
  }
  /** Decimal-band admission (numeric compare is scale-independent). */
  def mayContainDec(c: String, lo: BigDecimal, hi: BigDecimal): Boolean =
    bandDec(c).forall { case (mn, mx) => mn <= hi && mx >= lo }
  /** Open-interval decimal admission (round 12 — r11-ADVICE fix: the
    * closed form needed a ±"9"*40 sentinel for one-sided predicates,
    * safe at Spark's 38-digit precision cap but a FALSE PRUNE — not a
    * superset admit — for any wider recorded bound; None makes
    * one-sidedness representable, like the string form).
    */
  def mayContainDecOpt(c: String, lo: Option[BigDecimal],
      hi: Option[BigDecimal]): Boolean =
    bandDec(c).forall { case (mn, mx) =>
      lo.forall(mx >= _) && hi.forall(mn <= _) }
  /** Open-interval form (None = unbounded side) — strings have no
    * finite top element, so an unbounded `col > v` predicate cannot
    * be expressed with closed bounds without a fabricated sentinel
    * a pathological string could legitimately exceed.
    */
  def mayContainStrOpt(c: String, lo: Option[String],
      hi: Option[String]): Boolean =
    bandStr(c).forall { case (mn, mx) =>
      lo.forall(FileEntry.u8cmp(mx, _) >= 0) && hi.forall(FileEntry.u8cmp(mn, _) <= 0) }
  /** Binary admission, open intervals both sides (unsigned bytewise
    * order — the collation Spark's min/max on BinaryType and parquet
    * both use). The recorded bounds are already conservative
    * (truncated lower ≤ true min, incremented upper ≥ true max, None
    * = unbounded), so plain interval logic keeps the superset admit.
    */
  def mayContainBin(c: String, lo: Option[Seq[Byte]],
      hi: Option[Seq[Byte]]): Boolean =
    bandBin(c).forall { case (mn, mx) =>
      lo.forall(l => mx.forall(FileEntry.binCmp(_, l) >= 0)) &&
      hi.forall(h => FileEntry.binCmp(mn, h) <= 0) }
  /** The manifest line: `path` or `path\tc:min:max[,c2:min:max…]`.
    * String bounds ride the same comma list as `c:~b64:~b64` tokens
    * — base64 because a string bound may contain the line format's
    * own separators (colon, comma, tab, newline); the `~` marker
    * disambiguates from long bounds (a long never starts with `~`),
    * so pre-wave-132 lines parse unchanged. Double bounds (round 11)
    * are `c:#repr:#repr` tokens — `#` marks the type the same way,
    * and `java.lang.Double.toString` round-trips every value
    * (NaN/Infinity included) with no reserved separator characters.
    */
  def line: String = {
    val toks = stats.map { case (c, (mn, mx)) => s"$c:$mn:$mx" } ++
      strStats.map { case (c, (mn, mx)) => s"$c:~${FileEntry.b64(mn)}:~${FileEntry.b64(mx)}" } ++
      dblStats.map { case (c, (mn, mx)) => s"$c:#$mn:#$mx" } ++
      // decimal bounds (wave 161): `&` marker + toPlainString — no
      // exponent, scale preserved, no reserved separator characters
      decStats.map { case (c, (mn, mx)) =>
        s"$c:&${mn.underlying.toPlainString}:&${mx.underlying.toPlainString}" } ++
      // binary bounds (round 12): `!` marker + base64 of the prefix
      // bytes; a bare `!` upper = unbounded (all-0xFF truncation)
      binStats.map { case (c, (mn, mx)) =>
        s"$c:!${FileEntry.b64b(mn)}:!${mx.map(FileEntry.b64b).getOrElse("")}" }
    if (toks.isEmpty) path else path + "\t" + toks.mkString(",")
  }
}

object FileEntry {

  private[operators] def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private[operators] def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
  private[operators] def b64b(b: Seq[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b.toArray)
  private[operators] def unb64b(s: String): Seq[Byte] =
    java.util.Base64.getDecoder.decode(s).toSeq

  /** Unsigned bytewise comparison — the one order Spark's BinaryType
    * min/max, parquet stats, and this format's binary bounds all use.
    */
  private[graft] def binCmp(a: Seq[Byte], b: Seq[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Binary-bound prefix width (Iceberg's truncate(16) shape): full
    * blobs never land in manifests — 16 bytes bound a media column at
    * ~32 B per (file, column) regardless of blob size.
    */
  private[operators] val BinPrefixLen = 16

  /** Truncated LOWER bound: the first 16 bytes of the true min —
    * truncation only ever decreases in bytewise order, so the prefix
    * is a valid (conservative) lower bound.
    */
  private[graft] def binLower(min: Array[Byte]): Seq[Byte] =
    min.take(BinPrefixLen).toSeq

  /** Truncated UPPER bound: exact when the max fits the width; else
    * the truncation with its last non-0xFF byte incremented and the
    * tail dropped — strictly above every value sharing the original
    * prefix; None when every byte is 0xFF (no finite bound at this
    * width — the admit is then unconditional on that side).
    */
  private[graft] def binUpper(max: Array[Byte]): Option[Seq[Byte]] =
    if (max.length <= BinPrefixLen) Some(max.toSeq)
    else {
      val p = max.take(BinPrefixLen)
      var i = p.length - 1
      while (i >= 0 && p(i) == -1) i -= 1
      if (i < 0) None
      else Some((p.take(i) :+ ((p(i) + 1).toByte)).toSeq)
    }

  /** Unsigned UTF-8 byte comparison — the collation Spark's UTF8String
    * min/max recorded the string bounds in. Java String.compareTo
    * (UTF-16 code units) agrees on the BMP below the surrogate block
    * but INVERTS supplementary-plane text vs U+E000..U+FFFF; pruning
    * with the wrong order would skip non-empty files.
    */
  private[graft] def u8cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private[graft] def u8min(a: String, b: String): String =
    if (u8cmp(a, b) <= 0) a else b
  private[graft] def u8max(a: String, b: String): String =
    if (u8cmp(a, b) >= 0) a else b

  /** Epoch-MICROSECONDS of any temporal value Spark surfaces — the
    * µs-timestamp stats convention (round 11): timestamp columns
    * record LONG micros bounds, and pushed timestamp literals
    * translate through the same function, so stage-time and plan-time
    * agree bit-for-bit. NTZ values convert under UTC (both sides use
    * the same convention, so pruning is consistent regardless of the
    * session zone's display semantics). None for non-temporal values.
    */
  private[graft] def microsOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case d: java.time.LocalDateTime =>
      val i = d.toInstant(java.time.ZoneOffset.UTC)
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case _ => None
  }

  private[graft] def parse(l: String): FileEntry = l.split('\t') match {
    case Array(p) => FileEntry(p, Nil)
    case Array(p, s) =>
      val toks = s.split(',').toSeq.map { t =>
        val Array(c, mn, mx) = t.split(':')
        (c, mn, mx)
      }
      FileEntry(p,
        toks.collect { case (c, mn, mx)
            if !mn.startsWith("~") && !mn.startsWith("#") &&
               !mn.startsWith("&") && !mn.startsWith("!") =>
          c -> (mn.toLong, mx.toLong) },
        toks.collect { case (c, mn, mx) if mn.startsWith("~") =>
          require(mx.startsWith("~"), s"corrupt string-stat token in: $l")
          c -> (unb64(mn.drop(1)), unb64(mx.drop(1))) },
        toks.collect { case (c, mn, mx) if mn.startsWith("#") =>
          require(mx.startsWith("#"), s"corrupt double-stat token in: $l")
          c -> (mn.drop(1).toDouble, mx.drop(1).toDouble) },
        toks.collect { case (c, mn, mx) if mn.startsWith("&") =>
          require(mx.startsWith("&"), s"corrupt decimal-stat token in: $l")
          c -> (BigDecimal(mn.drop(1)), BigDecimal(mx.drop(1))) },
        toks.collect { case (c, mn, mx) if mn.startsWith("!") =>
          require(mx.startsWith("!"), s"corrupt binary-stat token in: $l")
          c -> ((unb64b(mn.drop(1)),
            if (mx == "!") None else Some(unb64b(mx.drop(1))))) })
    case _ => throw new IllegalArgumentException(s"corrupt manifest line: $l")
  }
}

/** Minimal MANIFEST-FILE table format over parquet — the lakehouse
  * architecture proof the r7 verdict listed as the one remaining
  * table-format gap (item 2 / stretch 9): snapshot isolation, time
  * travel, optimistic concurrency and compaction from nothing but
  * immutable data files plus an append-only manifest log, the core
  * idea shared by Delta/Iceberg/Hudi (re-derived here from their
  * public papers/specs; no table-format dependency is obtainable in
  * this environment, and none is needed for the mechanism).
  *
  * Layout under a table root:
  *
  *   data/<batch>-<n>.parquet     immutable, never rewritten in place
  *   _manifests/v00001.txt        one file per committed snapshot
  *
  * A manifest is EITHER a full checkpoint (header then the snapshot's
  * complete live-file list, one `path[\tstats]` line each) OR — the
  * round-9 upgrade that removed the r8 format's O(files) commit /
  * O(files²) cumulative-log cost — a DELTA (`kind=delta` header,
  * `+line` / `-path` body) against its parent, with a full checkpoint
  * forced every [[ManifestTable.CheckpointEvery]] commits so readers
  * resolve any version in O(CheckpointEvery) manifest reads (the
  * Delta-log JSON-deltas-plus-checkpoint shape). The manifest file
  * itself is the commit:
  *
  *  - WRITERS stage data files under data/ (invisible until
  *    referenced), then publish `v<K+1>.txt` via hard-link creation —
  *    atomic and CREATE-EXCLUSIVE on POSIX, so two racing committers
  *    cannot both win a version: the loser sees EEXIST, re-reads the
  *    new latest, and retries on top of it (optimistic concurrency,
  *    the Delta protocol's mutual-exclusion primitive). A plain
  *    rename() would silently REPLACE an existing manifest and lose
  *    the race's loser — that near-miss is exactly why the link trick
  *    exists.
  *  - READERS resolve a version (latest or pinned) to its file list
  *    and scan EXACTLY those files with an explicit schema. A reader
  *    holding version K is isolated from every later commit by
  *    immutability: compaction ADDS a rewritten file and publishes a
  *    new manifest; it never deletes what K references (vacuuming old
  *    files is a separate retention op, out of scope here).
  *
  * At 100 TB the protocol's three formerly-documented-only
  * refinements are now implemented: per-file PER-COLUMN stats
  * ([[ManifestTable.FileEntry]], so planning prunes files on any
  * recorded predicate before the scan), delta commits + periodic
  * checkpoints (commit bytes O(delta), reader resolution
  * O(CheckpointEvery)), and the `_latest` pointer replacing directory
  * listings. The remaining representational gap vs the real formats
  * is encoding only (text lines vs avro/parquet manifests). The scan
  * side is already the scale path: an explicit-schema multi-file
  * parquet read is splittable and fully parallel, identical to
  * Spark's own file-index scan on the listed subset.
  */
object ManifestTable extends ManifestLog with ManifestData
    with ManifestMutations with ManifestTxn with ManifestBloom {
  /** [[graft.operators.FileEntry]], re-exported under its historical
    * `ManifestTable.FileEntry` address (round-10 file split).
    */
  type FileEntry = graft.operators.FileEntry
  val FileEntry = graft.operators.FileEntry
}

/** LOG PROTOCOL half of [[ManifestTable]] (round-10 split of the
  * former single 3.9k-line file; zero behavior change): manifest
  * encoding (checkpoint segments, columnar deltas, descriptors),
  * version resolution and hints, the OCC commit core, schema
  * evolution meta, the batch ledger, history/time-travel lookup.
  * Internal — every consumer addresses [[ManifestTable]].
  */
trait ManifestLog { self: ManifestData with ManifestMutations
    with ManifestTxn with ManifestBloom =>

  // FileEntry's collation/encoding helpers under their historical
  // ManifestTable.* addresses
  private[graft] def u8cmp(a: String, b: String): Int = FileEntry.u8cmp(a, b)
  private[graft] def u8min(a: String, b: String): String = FileEntry.u8min(a, b)
  private[graft] def u8max(a: String, b: String): String = FileEntry.u8max(a, b)
  private[graft] def parseEntry(l: String): FileEntry = FileEntry.parse(l)

  private[operators] def manifestDir(root: Path) = root.resolve("_manifests")
  private[operators] def name(v: Int) = f"v$v%05d.txt"

  /** JVM-unique writer nonce for manifest-side file names (segments,
    * bloom sidecars, hint temp files): pid + thread alone is NOT
    * unique across two writes from one thread; the counter is.
    */
  private val writeNonce = new java.util.concurrent.atomic.AtomicLong(0)
  private[operators] def nonce(): String =
    s"x${ProcessHandle.current().pid()}t${Thread.currentThread().getId}" +
      s"n${writeNonce.incrementAndGet()}"

  /** Latest committed version, 0 if none — the `_latest` HINT file
    * (the _last_checkpoint refinement the object doc previously only
    * documented) plus forward existence probes from it. The hint is
    * advisory, never authoritative: it is written AFTER the commit
    * wins (losers and crashes leave it stale-low, never high — a
    * higher-than-real hint would fabricate a version, so writes take
    * max(current, v) under REPLACE-atomic move), and the probe loop
    * walks forward until the next manifest is absent. Cost: O(1 +
    * staleness) stat calls instead of a directory listing — the
    * object-store-scale lookup (LIST is the expensive op there).
    */
  def latestVersion(root: Path): Int = {
    val d = manifestDir(root)
    if (!Files.isDirectory(d)) return 0
    val hintFile = d.resolve("_latest")
    val hint =
      try new String(Files.readAllBytes(hintFile), "UTF-8").trim.toInt
      catch { case _: Exception => 0 }
    // never trust the hint's existence claim — verify, fall back to 0
    var v = if (hint > 0 && Files.exists(d.resolve(name(hint)))) hint else 0
    while (Files.exists(d.resolve(name(v + 1)))) v += 1
    // wave 138: with the hint lost AND v00001 expired by log retention,
    // the forward probe from 0 finds nothing — fall back to ONE
    // directory listing (the cold path real formats also pay when
    // their _last_checkpoint is gone), then probe forward from it
    if (v == 0) {
      manifestVersionsListed(d).maxOption.foreach { m =>
        v = m
        while (Files.exists(d.resolve(name(v + 1)))) v += 1
      }
    }
    v
  }

  /** Every live manifest version by directory listing — the cold-path
    * fallback only; steady-state lookups ride the hints.
    */
  private val ManifestName = """v(\d{5,})\.txt""".r

  private[operators] def manifestVersionsListed(d: Path): Seq[Int] = {
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    // exact-shape match: a stray "v2-backup.txt" or "versions.txt"
    // dropped into _manifests/ must be inert, not a NumberFormat crash
    try s.map[String](_.getFileName.toString).toArray.toSeq.collect {
      case n: String => n
    }.collect { case ManifestName(v) => v.toInt }
    finally s.close()
  }

  /** Smallest LIVE manifest version, 0 for an empty table — 1 until
    * [[expireManifests]] first truncates the log. The `_first` hint is
    * advisory like `_latest`: written after an expiry completes,
    * validated by existence, listing fallback when wrong.
    */
  def firstVersion(root: Path): Int = {
    val d = manifestDir(root)
    if (!Files.isDirectory(d)) return 0
    val hint =
      try new String(Files.readAllBytes(d.resolve("_first")), "UTF-8")
        .trim.toInt
      catch { case _: Exception => 1 }
    if (hint >= 1 && Files.exists(d.resolve(name(hint)))) hint
    else if (Files.exists(d.resolve(name(1)))) 1
    else manifestVersionsListed(d).minOption.getOrElse(0)
  }

  /** Advance the `_latest` hint to at least `v` (best-effort; losers
    * of the REPLACE race leave a lower value, which is safe).
    */
  private def writeHint(root: Path, v: Int): Unit =
    try {
      val d = manifestDir(root)
      val cur =
        try new String(Files.readAllBytes(d.resolve("_latest")), "UTF-8")
          .trim.toInt
        catch { case _: Exception => 0 }
      if (v > cur) {
        val tmp = d.resolve(s"._latest_${nonce()}")
        Files.write(tmp, v.toString.getBytes("UTF-8"))
        Files.move(tmp, d.resolve("_latest"),
          StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
    } catch { case _: Exception => () } // advisory only

  /** Relative live-file list of a committed version (delta chains
    * resolved).
    */
  def filesFor(root: Path, version: Int): Seq[String] =
    rawLines(root, version).map(_.split('\t').head)

  /** Live files WITH their per-column stats (delta chains resolved).
    * Files committed without stats parse as stats-free entries — the
    * pruning consumers admit those unconditionally ([[FileEntry
    * .mayContain]]), so mixed-coverage logs stay correct, just less
    * prunable.
    */
  def entriesFor(root: Path, version: Int): Seq[FileEntry] =
    rawLines(root, version).map(parseEntry)

  /** Header fields + body lines of ONE manifest file, unresolved. */
  private[operators] def manifestOf(root: Path, version: Int)
      : (Int, Map[String, String], Seq[String]) = {
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(manifestFile(root, version))).asScala
    val kv = parseHeader(root, version, lines.headOption)
    (kv.getOrElse("parent", "0").toInt, kv,
      lines.drop(1).filter(_.nonEmpty).toSeq)
  }

  /** Header fields of ONE manifest file, reading only its first line:
    * the header is O(1) while a text checkpoint's body is O(live files).
    */
  private[operators] def headerOf(root: Path, version: Int)
      : Map[String, String] = {
    val r = Files.newBufferedReader(manifestFile(root, version))
    val head = try Option(r.readLine()) finally r.close()
    parseHeader(root, version, head)
  }

  private def manifestFile(root: Path, version: Int): Path = {
    val f = manifestDir(root).resolve(name(version))
    if (!Files.exists(f))
      throw new IllegalStateException(s"manifest v$version is absent — " +
        "expired by log retention (expireManifests) or never committed")
    f
  }

  private def parseHeader(root: Path, version: Int, head: Option[String])
      : Map[String, String] = {
    require(head.exists(_.startsWith(s"# graft-manifest version=$version ")),
      s"corrupt manifest for v$version")
    val kv = head.get.split(' ').drop(2).flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    // multi-table txn visibility (round 11): a txn= manifest whose
    // committed marker is absent is a crash residue — the reader
    // completes it (roll-forward) before the resolution proceeds
    kv.get("txn").foreach(id => ensureTxnVisible(root, id, kv.get("txnlog")))
    kv
  }

  /** The RESOLVED full entry-line list of a version: a checkpoint
    * manifest's body verbatim, or — for a `kind=delta` manifest — the
    * parent's resolution with this commit's `-path` removals and
    * `+line` additions applied. The recursion is bounded by
    * [[CheckpointEvery]]: every chain reaches a full checkpoint within
    * that many hops, so a reader stats O(CheckpointEvery) manifest
    * files regardless of table age — the property that makes commit
    * cost O(delta) sustainable ([[commitOpsF]]).
    */
  private[operators] def rawLines(root: Path, version: Int): Seq[String] = {
    val (parent, kv, body) = manifestOf(root, version)
    if (kv.get("body").contains("seg"))
      // parquet checkpoint: the body is a manifest LIST — resolve each
      // segment file to its entries, in list order
      body.flatMap { l =>
        val (seg, n, _) = parseDesc(l)
        val es = SegIO.read(manifestDir(root).resolve(seg))
        require(es.size == n,
          s"segment $seg holds ${es.size} entries, list says $n")
        es.map(_.line)
      }
    else if (!kv.contains("kind")) body
    else {
      require(kv("kind") == "delta", s"unknown manifest kind ${kv("kind")}")
      val base = rawLines(root, parent)
      val removes = body.filter(_.startsWith("-")).map(_.drop(1)).toSet
      // a LARGE delta's adds live in parquet segments listed as
      // @descriptors (round 10 — the same columnar encoding wave 133
      // gave checkpoints); small deltas inline them as +lines
      val segAdds = body.filter(_.startsWith("@")).flatMap { l =>
        val (seg, n, _) = parseDesc(l)
        val es = SegIO.read(manifestDir(root).resolve(seg))
        require(es.size == n,
          s"delta segment $seg holds ${es.size} entries, list says $n")
        es.map(_.line)
      }
      val adds = body.filter(_.startsWith("+")).map(_.drop(1)) ++ segAdds
      require(body.forall(l => l.startsWith("-") || l.startsWith("+") ||
          l.startsWith("@")),
        s"corrupt delta manifest v$version: unprefixed line")
      val basePaths = base.map(_.split('\t').head).toSet
      require(removes.subsetOf(basePaths),
        s"delta v$version removes files absent from v$parent")
      require(adds.forall(a => !basePaths(a.split('\t').head)),
        s"delta v$version re-adds files already live in v$parent")
      base.filterNot(l => removes(l.split('\t').head)) ++ adds
    }
  }

  /** Commit `files` as the next snapshot's COMPLETE live set — always
    * a FULL (checkpoint) manifest, the caller's intent being "this
    * exact file list is the new snapshot" regardless of what the
    * parent held. Returns the version won. Retries on a lost publish
    * race (create-exclusive hard link); append callers use
    * [[appendCommit]] instead, which folds the parent in inside the
    * retry loop.
    */
  def commit(root: Path, files: Seq[String], meta: String = ""): Int =
    commitOpsF(root, _ => meta, checkpoint = true)(parent =>
      Some((files, if (parent == 0) Nil else filesFor(root, parent)))).get

  /** Append-style commit: the new snapshot = (winner parent's live
    * set) ++ `added`, recomputed inside the retry loop so a lost race
    * never drops the racer's files. Writes an O(|added|) DELTA
    * manifest (`+` lines only) — the parent's live set rides the log
    * chain verbatim, stats included, never re-serialized.
    */
  def appendCommit(root: Path, added: Seq[String], meta: String = ""): Int =
    commitOpsF(root, _ => meta)(_ => Some((added, Nil))).get

  /** [[appendCommit]] whose meta is recomputed PER PUBLISH ATTEMPT
    * against the winning parent (round 12 — r11-ADVICE fix): header
    * state derived from a pre-read snapshot (a mergeSchema widening)
    * would otherwise last-writer-win over a concurrent commit's
    * widening, silently projecting that column away; metaOf(parent)
    * folds against what is actually there when the link lands.
    */
  def appendCommitF(root: Path, added: Seq[String],
      metaOf: Int => String): Int =
    commitOpsF(root, metaOf)(_ => Some((added, Nil))).get

  /** Compact `name:type,...` encoding of a snapshot's logical schema
    * for the manifest header (`schema=` meta) — the minimal schema
    * log behind ADD COLUMN evolution. Any type whose simpleString is
    * space-free (all the scalar/array/map/struct forms; the interval
    * family is the exception) — header tokens are space-split.
    */
  def schemaMeta(schema: StructType): String = {
    val s = schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    require(!s.contains(' '), s"schema meta must be space-free: $s")
    s
  }

  def parseSchemaMeta(s: String): StructType = {
    // split fields on top-level commas only: decimal(12,2) and
    // map<string,bigint> carry commas inside their own brackets
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    s.zipWithIndex.foreach {
      case (c, _) if c == '<' || c == '(' => depth += 1
      case (c, _) if c == '>' || c == ')' => depth -= 1
      case (',', i) if depth == 0 =>
        fields += s.substring(start, i); start = i + 1
      case _ => ()
    }
    fields += s.substring(start)
    StructType(fields.toSeq.map { fld =>
      val Array(n, t) = fld.split(":", 2)
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DataType.fromDDL(t))
    })
  }

  /** Read a snapshot under ITS OWN recorded schema (the `schema=`
    * header meta): files committed before an ADD COLUMN null-fill the
    * added columns — parquet's missing-column semantics under an
    * explicit read schema, which is exactly how the real formats
    * implement metadata-only column addition (zero data rewritten).
    *
    * COLUMN MAPPING (wave 136): when the header carries `colmap=`
    * (written by [[renameColumn]]), each logical column reads from its
    * recorded PHYSICAL name — so a rename is one zero-body commit and
    * zero rewritten bytes, Delta's column-mapping idea stated
    * minimally. A column dropped by [[dropColumn]] simply leaves the
    * logical schema; its bytes stay in the files, projected away.
    * Note: per-file stats keys are PHYSICAL names (they were the
    * logical names at stage time) — pruned reads on a renamed column
    * must pass the physical name ([[physicalName]]).
    */
  def readEvolved(spark: SparkSession, root: Path, version: Int): DataFrame = {
    val m = headerMeta(root, version)
    require(m.contains("schema"),
      s"v$version carries no schema meta — use read() with an explicit schema")
    val logical = parseSchemaMeta(m("schema"))
    val cmap = colMap(m)
    val physical = StructType(logical.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    read(spark, root, version, physical)
      .select(logical.fields.toSeq.map(f =>
        col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
  }

  /** logical→physical map of a version's header (`colmap=` meta). */
  private def colMap(m: Map[String, String]): Map[String, String] =
    m.get("colmap").map(_.split(',').toSeq.filter(_.nonEmpty).map { t =>
      val Array(l, p) = t.split(':')
      l -> p
    }.toMap).getOrElse(Map.empty)

  /** Physical (in-file) name of a logical column at `version` — what
    * stats-pruned reads and new writers must address.
    */
  def physicalName(root: Path, version: Int, logical: String): String =
    colMap(headerMeta(root, version)).getOrElse(logical, logical)

  /** The whole logical→physical map of a version (empty when the
    * table has never been renamed) — one header read.
    */
  def columnMap(root: Path, version: Int): Map[String, String] =
    colMap(headerMeta(root, version))

  private def tokenSafe(n: String): Unit =
    require(!n.exists(c => c == ':' || c == ',' || c == ' ' || c == '\t'),
      s"column name not header-token-safe: '$n'")

  /** Metadata-only RENAME COLUMN: one ZERO-body commit whose header
    * carries the renamed logical schema plus the logical→physical
    * mapping; no data file is touched — files keep the physical name,
    * [[readEvolved]] aliases it back. The schema state is recomputed
    * against the WINNING parent inside the OCC retry, so a racing
    * append simply composes. Returns the new version.
    */
  def renameColumn(root: Path, oldName: String, newName: String): Int = {
    tokenSafe(newName)
    commitOpsF(root, { parent =>
      require(parent > 0, "renameColumn on an empty table")
      // a hidden-partitioning transform records its source column by
      // name at CREATE; renaming it would silently detach the
      // plan-time derivation and the write-path layout (wave 151)
      require(!partTransforms(root, parent).exists(_.srcCol == oldName),
        s"cannot rename '$oldName': it is a partition-transform source " +
        "column (ptrans=) — the derivation and write layout key on it")
      val m = headerMeta(root, parent)
      require(m.contains("schema"),
        s"v$parent carries no schema meta — the table is not evolvable")
      val logical = parseSchemaMeta(m("schema"))
      require(logical.fieldNames.contains(oldName),
        s"renameColumn: no column '$oldName' in ${logical.fieldNames.toSeq}")
      require(!logical.fieldNames.contains(newName),
        s"renameColumn: '$newName' already exists")
      val cmap0 = colMap(m)
      val phys = cmap0.getOrElse(oldName, oldName)
      val cmap = (cmap0 - oldName) ++ (
        if (phys == newName) Nil else Seq(newName -> phys))
      val renamed = StructType(logical.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      // colmap= is ALWAYS written (empty clears an inherited mapping)
      s"schema=${schemaMeta(renamed)} colmap=" +
        cmap.toSeq.sorted.map { case (l, p) => s"$l:$p" }.mkString(",")
    })(_ => Some((Nil, Nil))).get
  }

  /** Metadata-only DROP COLUMN: the column leaves the logical schema
    * (and the mapping) in one zero-body commit; its bytes stay in the
    * immutable files, projected away by every evolved read — exactly
    * how real formats make DROP instant at any table size. At least
    * one column must remain.
    */
  def dropColumn(root: Path, name: String): Int =
    commitOpsF(root, { parent =>
      require(parent > 0, "dropColumn on an empty table")
      val m = headerMeta(root, parent)
      require(m.contains("schema"),
        s"v$parent carries no schema meta — the table is not evolvable")
      val logical = parseSchemaMeta(m("schema"))
      require(logical.fieldNames.contains(name),
        s"dropColumn: no column '$name' in ${logical.fieldNames.toSeq}")
      require(logical.fields.length > 1,
        "dropColumn would leave an empty schema")
      val cmap = colMap(m) - name
      val dropped = StructType(logical.fields.filterNot(_.name == name))
      s"schema=${schemaMeta(dropped)} colmap=" +
        cmap.toSeq.sorted.map { case (l, p) => s"$l:$p" }.mkString(",")
    })(_ => Some((Nil, Nil))).get

  /** Metadata-only ADD COLUMN: one zero-body commit whose header
    * carries the widened logical schema; existing files null-fill the
    * new column under [[readEvolved]]'s explicit-schema read — zero
    * bytes rewritten at any table size (the evolution primitive the
    * evo lifecycle built inline; public for the SQL catalog's
    * `ALTER TABLE … ADD COLUMN`, round 10).
    */
  def addColumn(root: Path, name: String,
      dt: org.apache.spark.sql.types.DataType): Int = {
    tokenSafe(name)
    commitOpsF(root, { parent =>
      require(parent > 0, "addColumn on an empty table")
      val m = headerMeta(root, parent)
      require(m.contains("schema"),
        s"v$parent carries no schema meta — the table is not evolvable")
      val logical = parseSchemaMeta(m("schema"))
      require(!logical.fieldNames.contains(name),
        s"addColumn: '$name' already exists")
      s"schema=${schemaMeta(logical.add(
        org.apache.spark.sql.types.StructField(name, dt)))}"
    })(_ => Some((Nil, Nil))).get
  }

  /** Is `from` → `to` a SAFE type promotion — every value representable
    * in `from` is exactly representable in `to`, and Spark's parquet
    * readers (vectorized included, Spark 4's widening support) read a
    * `from`-encoded file under a `to` read schema losslessly. The
    * lattice is Delta type-widening / Iceberg primitive promotion:
    * integral up-chain, integral/float → double, decimal growth that
    * shrinks neither the scale nor the integer digits.
    */
  def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
        true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale
      case _ => false
    }
  }

  /** Metadata-only ALTER COLUMN TYPE widening (round 13 — r12-VERDICT
    * task 4): one zero-body commit whose header carries the widened
    * logical schema; existing files keep their narrow encoding and
    * every evolved read upcasts them losslessly (parquet's widening
    * read under an explicit schema — probed on this Spark: int32
    * files read as BIGINT/DOUBLE, float as DOUBLE, decimals regrow).
    * Zero bytes rewritten at any table size. Unsafe changes (any
    * narrowing, any cross-family cast) fail loudly with the allowed
    * lattice named. Per-file stats are unaffected: narrow types were
    * never stats-eligible (bands are BIGINT/DOUBLE/DECIMAL-typed), and
    * decimal bands compare numerically, scale-independent.
    */
  def widenColumnType(root: Path, name: String,
      to: org.apache.spark.sql.types.DataType): Int =
    commitOpsF(root, { parent =>
      require(parent > 0, "widenColumnType on an empty table")
      val m = headerMeta(root, parent)
      require(m.contains("schema"),
        s"v$parent carries no schema meta — the table is not evolvable")
      val logical = parseSchemaMeta(m("schema"))
      val f = logical.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumnType: no column '$name' in " +
          logical.fieldNames.toSeq.toString))
      require(widensTo(f.dataType, to),
        s"ALTER COLUMN $name TYPE ${to.simpleString}: not a safe " +
        s"widening of ${f.dataType.simpleString} — supported: " +
        "byte/short/int -> long, byte/short/int/float -> double, " +
        "decimal(p,s) -> decimal(p',s') with s' >= s and " +
        "p'-s' >= p-s")
      // a partition-transform source stays BIGINT by the create-time
      // contract, so it can never be a widening source; guard anyway
      // so a future transform type never silently detaches the layout
      require(!partTransforms(root, parent).exists(_.srcCol == name),
        s"cannot widen '$name': it is a partition-transform source " +
        "column (ptrans=)")
      s"schema=${schemaMeta(StructType(logical.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x)))}"
    })(_ => Some((Nil, Nil))).get

  /** The `schema=`/`colmap=` meta tokens of a committed version — what
    * an appending writer passes so its commit PRESERVES the evolution
    * state (commit meta is per-commit, not inherited; a schema-less
    * append on an evolved table would strand readEvolved).
    */
  def evolutionMeta(root: Path, version: Int): String = {
    val m = headerMeta(root, version)
    require(m.contains("schema"),
      s"v$version carries no schema meta — the table is not evolvable")
    s"schema=${m("schema")}" +
      m.get("colmap").map(c => s" colmap=$c").getOrElse("")
  }

  /** Stage under the PHYSICAL names of `version`'s mapping: a writer
    * appending after a rename holds logical column names; files must
    * carry physical ones or the mapped read would miss them. A no-op
    * select when the table has no mapping.
    */
  def stageEvolved(df: DataFrame, root: Path, batch: String,
      version: Int): Seq[String] = {
    val cmap = colMap(headerMeta(root, version))
    stage(df.select(df.columns.toSeq.map(c =>
      col(c).as(cmap.getOrElse(c, c))): _*), root, batch)
  }

  /** Header key=value metadata of one committed version (empty for
    * plain commits). The header line is
    * `# graft-manifest version=K parent=P [k=v ...]`.
    */
  def headerMeta(root: Path, version: Int): Map[String, String] =
    (headerOf(root, version) -- Seq("version", "parent"))
      // an explicit EMPTY colmap= token means "mapping cleared" (it
      // blocks inheritance at commit time, round 10) — API consumers
      // see it as no mapping at all
      .filterNot { case (k, v) => k == "colmap" && v.isEmpty }

  /** Streaming-sink batch ids already committed — the ledger that makes
    * [[commitBatch]] idempotent under foreachBatch's at-least-once
    * replay contract.
    */
  def committedBatches(root: Path): Set[Long] =
    (math.max(1, firstVersion(root)) to latestVersion(root))
      .flatMap(v => headerMeta(root, v).get("batch").map(_.toLong)).toSet

  /** Incremental ledger (wave 137): manifest headers are immutable, so
    * a JVM-wide cache of (versions scanned so far, batch ids seen)
    * turns the per-micro-batch ledger check from O(versions) header
    * reads into O(new commits since the last check) — without it a
    * long-lived sink pays O(n²) cumulative header IO over its
    * lifetime. Correct under races and other writers by construction:
    * the cache is only ever a (bound, subset) pair of immutable
    * history; a stale bound just re-reads the missed suffix on the
    * next call, and a concurrent put that regresses the bound leaves a
    * valid (smaller) snapshot. Delta carries the same state in its
    * checkpoints (per-appId txn versions); an in-JVM suffix cache is
    * the minimal form that keeps this format's no-extra-state shape.
    */
  private val batchLedger = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Set[Long])]()

  private[graft] def committedBatchesCached(root: Path): Set[Long] = {
    val latest = latestVersion(root)
    // cache key carries TABLE IDENTITY, not just the path: the first
    // live manifest's ts= header (unique per creation, and per expiry
    // horizon). A table deleted and recreated at the same path that
    // reaches a version >= the cached bound would otherwise reuse
    // stale batch ids and silently skip the new table's replayed
    // batches (round-10 ADVICE fix). Legacy pre-ts roots key on "0" —
    // same behavior as before for them.
    val ident =
      if (latest == 0) "0"
      else headerMeta(root, math.max(1, firstVersion(root)))
        .getOrElse("ts", "0")
    val key = root.toAbsolutePath.toString + "#" + ident
    val (seen0, known0) = Option(batchLedger.get(key))
      .getOrElse((0, Set.empty[Long]))
    // history SHRANK → the table at this path was deleted and
    // recreated (a reset test harness, a rebuilt staging table):
    // trusting the old ids would silently DROP the new table's
    // replayed batches — discard and rescan (wave-139 review fix)
    val (seen, known) =
      if (latest < seen0) { batchLedger.remove(key); (0, Set.empty[Long]) }
      else (seen0, known0)
    if (latest <= seen) known
    else {
      // start past BOTH the cache bound and the retention horizon —
      // batches recorded only in expired manifests are forgotten, the
      // same window semantics as Delta's txn retention (don't expire
      // below a live sink's replay horizon)
      val from = math.max(seen, math.max(1, firstVersion(root)) - 1)
      val merged = known ++ (from + 1 to latest)
        .flatMap(v => headerMeta(root, v).get("batch").map(_.toLong))
      // crude bound like SegIO's: a test JVM creating hundreds of
      // temp tables must not accumulate entries forever (a perf
      // cache, never a correctness structure)
      if (batchLedger.size > 512) batchLedger.clear()
      batchLedger.put(key, (latest, merged))
      merged
    }
  }

  /** Exactly-once streaming commit: append `df`'s rows as the next
    * snapshot, recording `batchId` in the manifest header. A replayed
    * batch (same id — Spark's foreachBatch may re-deliver after a
    * failure) finds its id in the ledger and no-ops BEFORE staging, so
    * duplicates neither commit nor leave orphan data files; the ledger
    * re-check runs inside the publish retry loop too, so two racing
    * replays of the same batch cannot both win. Commit = one hard-link
    * create, so a crash mid-batch leaves at most invisible staged files
    * (vacuum fodder), never a torn snapshot — the transactional-sink
    * half of exactly-once (the source side is Spark's checkpointed
    * offset log).
    */
  def commitBatch(df: DataFrame, root: Path, batchId: Long,
      statsKey: Option[String] = None): Int =
    commitBatchTyped(df, root, batchId, statsKey.toSeq, Nil)

  /** [[commitBatch]] with full typed stats coverage (round 11, for the
    * registered streaming sink): the staged files carry exact per-file
    * min/max for every long AND string column named, so a streamed
    * table composes with every stats consumer exactly like a
    * batch-written one.
    */
  def commitBatchTyped(df: DataFrame, root: Path, batchId: Long,
      longCols: Seq[String], strCols: Seq[String],
      dblCols: Seq[String] = Nil, decCols: Seq[String] = Nil): Int = {
    if (committedBatchesCached(root).contains(batchId))
      return latestVersion(root)
    // two RACING replays of the same batch (the top check can't see an
    // in-flight twin) stage under private names ([[stage]]'s per-call
    // nonce): the ledger picks one commit, and the loser's orphans
    // stay invisible (vacuum fodder). Stats columns make the sink
    // write stats-carrying lines, so a streamed table composes with
    // the stats consumers (readPruned / mergeCoW / optimizeSmall).
    val added = stage(df, root, s"b$batchId", longCols, strCols, dblCols,
      decCols)
    commitOpsF(root, batchMeta(batchId, Some(df.schema))) { parent =>
      if (committedBatchesCached(root).contains(batchId)) None
      else Some((added, Nil)) // O(|batch|) delta commit
    }.getOrElse(latestVersion(root))
  }

  /** Ledger-idempotent batch commit over CALLER-STAGED entry lines
    * (round 12 — the transform-laid streaming sink): the outer check
    * skips the staging work on an already-committed id, the binding
    * check re-runs inside the publish retry. `adds` is by-name so a
    * replay stages nothing.
    */
  def commitBatchLines(root: Path, batchId: Long)(
      adds: => Seq[String]): Int = {
    if (committedBatchesCached(root).contains(batchId))
      return latestVersion(root)
    val staged = adds
    commitOpsF(root, _ => s"batch=$batchId") { parent =>
      if (committedBatchesCached(root).contains(batchId)) None
      else Some((staged, Nil))
    }.getOrElse(latestVersion(root))
  }

  /** Complete-mode streaming commit (round 12 — r11-ADVICE fix): a
    * full checkpoint replacing the live set with `files`, under the
    * same replay ledger as [[commitBatchTyped]] — and with the ledger
    * RE-CHECK inside the publish retry, so two racing replays of one
    * batch id cannot both commit (the old sink checked once outside
    * the loop: check-then-act). An already-committed id no-ops and
    * returns the current version; the loser's staged files stay
    * invisible (vacuum fodder).
    */
  def commitCheckpointBatch(root: Path, files: Seq[String],
      batchId: Long): Int =
    commitCheckpointBatch(root, files, batchId, None)

  /** [[commitCheckpointBatch]] that records `schema` on the table's
    * first commit.
    */
  private[graft] def commitCheckpointBatch(root: Path, files: Seq[String],
      batchId: Long, schema: Option[StructType]): Int =
    commitOpsF(root, batchMeta(batchId, schema), checkpoint = true) { parent =>
      if (committedBatchesCached(root).contains(batchId)) None
      else Some((files, if (parent == 0) Nil else filesFor(root, parent)))
    }.getOrElse(latestVersion(root))

  /** Header meta of a streaming batch commit: its batch id, plus the
    * `schema=` of `schema` on the table's first commit, so a table whose
    * first batch held no rows still resolves its schema. A schema the
    * header cannot encode (a space in a name or type) is left to the
    * data files' footers, as before.
    */
  private def batchMeta(batchId: Long, schema: Option[StructType])(
      parent: Int): String =
    (s"batch=$batchId" +: schema.filter(_ => parent == 0).flatMap(s =>
      scala.util.Try(s"schema=${schemaMeta(s)}").toOption).toSeq)
      .mkString(" ")

  /** Columnar (parquet) encoding of checkpoint manifest SEGMENTS —
    * wave 133, closing the "text manifests vs avro/parquet" encoding
    * gap. A full checkpoint no longer inlines its entry lines into the
    * commit file: entries are written as one or more parquet segment
    * files under `_manifests/` (path + typed per-column bounds as
    * proper columns — dictionary/RLE-compressed, splittable), and the
    * commit file's body holds one DESCRIPTOR line per segment carrying
    * the segment's AGGREGATE bounds. That makes the commit file a
    * MANIFEST LIST and the segments manifest files — Iceberg's
    * two-level shape — so pruned planning reads only the segments
    * whose aggregate bounds intersect the predicate
    * ([[prunedEntries]]): planning cost rides the relevant fraction of
    * the file list, not O(files). Driver-side IO uses the parquet
    * example Group API (no SparkSession needed at plan time); segment
    * files are nonce-named and written BEFORE the commit link, so a
    * lost publish race orphans them invisibly (vacuum fodder), never
    * corrupts a winner.
    */
  private[operators] object SegIO {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser

    val schema = MessageTypeParser.parseMessageType(
      """message graft_manifest_entry {
        |  required binary path (UTF8);
        |  repeated group lstats { required binary col (UTF8);
        |    required int64 lmin; required int64 lmax; }
        |  repeated group sstats { required binary col (UTF8);
        |    required binary smin (UTF8); required binary smax (UTF8); }
        |  repeated group dstats { required binary col (UTF8);
        |    required double dmin; required double dmax; }
        |  repeated group decstats { required binary col (UTF8);
        |    required binary cmin (UTF8); required binary cmax (UTF8); }
        |  repeated group bstats { required binary col (UTF8);
        |    required binary bmin; optional binary bmax; }
        |}""".stripMargin)

    def write(file: Path, entries: Seq[FileEntry]): Unit = {
      val conf = new org.apache.hadoop.conf.Configuration()
      LocalCheckpointFiles.useNioPermissions(conf) // no `chmod` process
      @annotation.nowarn("cat=deprecation")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(file.toString))
        .withConf(conf).withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val f = new SimpleGroupFactory(schema)
      try entries.foreach { e =>
        val g = f.newGroup()
        g.append("path", e.path)
        e.stats.foreach { case (c, (mn, mx)) =>
          val sg = g.addGroup("lstats")
          sg.append("col", c); sg.append("lmin", mn)
          sg.append("lmax", mx); ()
        }
        e.strStats.foreach { case (c, (mn, mx)) =>
          val sg = g.addGroup("sstats")
          sg.append("col", c); sg.append("smin", mn)
          sg.append("smax", mx); ()
        }
        e.dblStats.foreach { case (c, (mn, mx)) =>
          val sg = g.addGroup("dstats")
          sg.append("col", c); sg.append("dmin", mn)
          sg.append("dmax", mx); ()
        }
        e.decStats.foreach { case (c, (mn, mx)) =>
          val sg = g.addGroup("decstats")
          sg.append("col", c)
          sg.append("cmin", mn.underlying.toPlainString)
          sg.append("cmax", mx.underlying.toPlainString); ()
        }
        e.binStats.foreach { case (c, (mn, mx)) =>
          val sg = g.addGroup("bstats")
          sg.append("col", c)
          sg.append("bmin", org.apache.parquet.io.api.Binary
            .fromConstantByteArray(mn.toArray))
          // optional bmax: absent = unbounded (all-0xFF truncation)
          mx.foreach(m => sg.append("bmax", org.apache.parquet.io.api
            .Binary.fromConstantByteArray(m.toArray)): Unit)
          ()
        }
        w.write(g)
      } finally w.close()
      // Hadoop's checksummed LocalFileSystem drops a `.<name>.crc`
      // sidecar the NIO-based sweeps would never match (they filter on
      // names starting with "cp") — checksum files would accumulate
      // unboundedly on long-lived tables (round-10 ADVICE fix). The
      // local segment write doesn't need the sidecar; drop it here.
      Files.deleteIfExists(
        file.resolveSibling("." + file.getFileName.toString + ".crc")): Unit
    }

    /** Published segments are immutable (nonce-named, referenced only
      * after their commit wins), so a JVM-wide cache is safe; it turns
      * repeated plan-time resolutions of one snapshot into zero IO.
      * Crude size bound: clear-all past 512 segments (a perf cache,
      * never a correctness structure).
      */
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()

    def read(file: Path): Seq[FileEntry] = {
      val key = file.toAbsolutePath.toString
      val hit = cache.get(key)
      if (hit != null) return hit
      val conf = new org.apache.hadoop.conf.Configuration()
      @annotation.nowarn("cat=deprecation")
      val r = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(key)).withConf(conf).build()
      val out = Seq.newBuilder[FileEntry]
      try {
        var g = r.read()
        while (g != null) {
          val nl = g.getFieldRepetitionCount("lstats")
          val ns = g.getFieldRepetitionCount("sstats")
          // pre-round-11 segment files carry no dstats group at all —
          // the reader materializes groups under the FILE schema, so
          // probe for the field before counting repetitions
          val nd = if (g.getType.containsField("dstats"))
            g.getFieldRepetitionCount("dstats") else 0
          val nc = if (g.getType.containsField("decstats"))
            g.getFieldRepetitionCount("decstats") else 0
          val nb = if (g.getType.containsField("bstats"))
            g.getFieldRepetitionCount("bstats") else 0
          out += FileEntry(g.getString("path", 0),
            (0 until nl).map { i =>
              val sg = g.getGroup("lstats", i)
              sg.getString("col", 0) ->
                (sg.getLong("lmin", 0), sg.getLong("lmax", 0))
            },
            (0 until ns).map { i =>
              val sg = g.getGroup("sstats", i)
              sg.getString("col", 0) ->
                (sg.getString("smin", 0), sg.getString("smax", 0))
            },
            (0 until nd).map { i =>
              val sg = g.getGroup("dstats", i)
              sg.getString("col", 0) ->
                (sg.getDouble("dmin", 0), sg.getDouble("dmax", 0))
            },
            (0 until nc).map { i =>
              val sg = g.getGroup("decstats", i)
              sg.getString("col", 0) ->
                (BigDecimal(sg.getString("cmin", 0)),
                 BigDecimal(sg.getString("cmax", 0)))
            },
            (0 until nb).map { i =>
              val sg = g.getGroup("bstats", i)
              sg.getString("col", 0) ->
                ((sg.getBinary("bmin", 0).getBytes.toSeq,
                  if (sg.getFieldRepetitionCount("bmax") == 0) None
                  else Some(sg.getBinary("bmax", 0).getBytes.toSeq)))
            })
          g = r.read()
        }
      } finally r.close()
      val res = out.result()
      if (cache.size > 512) cache.clear()
      cache.put(key, res)
      res
    }
  }

  /** Segment granularity for parquet checkpoints: entries per manifest
    * segment file. Bounds the two-level trade like real formats do —
    * a 10M-file table checkpoints into ~10k segments, each a few
    * hundred KB, and a pruned plan reads only the segments whose
    * aggregate bounds intersect the predicate.
    */
  private val SegmentEntries = 1024

  /** Columnar-delta threshold: a delta commit with at least this many
    * ADD entries writes them as parquet segments instead of inline
    * `+` lines. private[graft] so specs can reference the boundary.
    */
  private[graft] val DeltaSegEntries = 32

  /** Aggregate (manifest-list-level) bounds of one segment: a column
    * appears only when EVERY entry in the segment records bounds for
    * it — a statless member makes the segment unprovable-disjoint for
    * that column, so the descriptor must admit it unconditionally.
    */
  private[graft] def segmentBounds(entries: Seq[FileEntry]): FileEntry = {
    val lcols = entries.head.stats.map(_._1)
      .filter(c => entries.forall(_.band(c).isDefined))
    val scols = entries.head.strStats.map(_._1)
      .filter(c => entries.forall(_.bandStr(c).isDefined))
    val dcols = entries.head.dblStats.map(_._1)
      .filter(c => entries.forall(_.bandDbl(c).isDefined))
    val ccols = entries.head.decStats.map(_._1)
      .filter(c => entries.forall(_.bandDec(c).isDefined))
    val bcols = entries.head.binStats.map(_._1)
      .filter(c => entries.forall(_.bandBin(c).isDefined))
    FileEntry("",
      lcols.map { c =>
        val bs = entries.map(_.band(c).get)
        c -> (bs.map(_._1).min, bs.map(_._2).max) },
      scols.map { c =>
        val bs = entries.map(_.bandStr(c).get)
        // UTF-8 order, matching the entry-level bounds' collation
        c -> (bs.map(_._1).reduce(u8min), bs.map(_._2).reduce(u8max)) },
      dcols.map { c =>
        val bs = entries.map(_.bandDbl(c).get)
        // Double.compare total order, matching the entry-level bounds
        c -> (bs.map(_._1).reduce((a, b) =>
                if (java.lang.Double.compare(a, b) <= 0) a else b),
              bs.map(_._2).reduce((a, b) =>
                if (java.lang.Double.compare(a, b) >= 0) a else b)) },
      ccols.map { c =>
        val bs = entries.map(_.bandDec(c).get)
        c -> (bs.map(_._1).min, bs.map(_._2).max) },
      bcols.map { c =>
        val bs = entries.map(_.bandBin(c).get)
        // lower = bytewise min of lowers; upper = bytewise max of
        // uppers, or None when ANY member is unbounded
        val lo = bs.map(_._1).reduce((a, b) =>
          if (FileEntry.binCmp(a, b) <= 0) a else b)
        val hi = if (bs.exists(_._2.isEmpty)) None
          else Some(bs.map(_._2.get).reduce((a, b) =>
            if (FileEntry.binCmp(a, b) >= 0) a else b))
        c -> ((lo, hi)) })
  }

  /** Manifest-LIST descriptor line for one checkpoint segment:
    * `@<segfile>\t<count>[\t<aggregate-bounds tokens>]` — the same
    * comma token syntax entry lines use, so the list level reuses the
    * entry level's typed-bounds encoding verbatim.
    */
  private[graft] def descLine(seg: String, n: Int, b: FileEntry): String = {
    val toks = FileEntry("x", b.stats, b.strStats, b.dblStats,
      b.decStats, b.binStats).line.split('\t')
    if (toks.length == 1) s"@$seg\t$n" else s"@$seg\t$n\t${toks(1)}"
  }

  /** (segment file, entry count, aggregate bounds). */
  private[graft] def parseDesc(l: String): (String, Int, FileEntry) = {
    require(l.startsWith("@"), s"corrupt manifest-list line: $l")
    l.drop(1).split('\t') match {
      case Array(seg, n) => (seg, n.toInt, FileEntry(seg, Nil))
      case Array(seg, n, toks) => (seg, n.toInt, parseEntry(s"$seg\t$toks"))
      case _ => throw new IllegalArgumentException(
        s"corrupt manifest-list line: $l")
    }
  }

  /** Checkpoint cadence for the delta log: a commit whose delta chain
    * since the last full manifest would reach this length writes a
    * full (checkpoint) manifest instead. 8 bounds BOTH sides of the
    * trade: commit bytes stay O(delta) for 7 of every 8 commits
    * (amortized log growth O(files·Δ/8 + total delta), not the
    * O(files²) the complete-list-per-commit r8 format paid — its one
    * genuine 100 TB limit, r8 VERDICT item 1), and a reader resolves
    * any version by statting at most 8 manifest files. Real formats
    * make the same choice with the same shape (Delta's JSON deltas +
    * periodic parquet checkpoint; Iceberg's manifest lists).
    */
  private val CheckpointEvery = 8

  /** The shared OCC commit core. `ops(parent)` recomputes the commit's
    * intent against whatever parent currently holds the log head:
    * (added entry lines, removed paths); returning None aborts (the
    * [[commitBatch]] ledger re-check). Per attempt the core decides
    * delta vs checkpoint — `checkpoint` forces a full manifest (used
    * by [[commit]]'s replace-everything semantics); otherwise a delta
    * (`-path` / `+line` body, `kind=delta depth=N` header) is written
    * unless the parent's chain depth exhausted [[CheckpointEvery]], in
    * which case the resolved parent set + this delta folds into a full
    * manifest. Publication is one create-exclusive hard link — atomic,
    * and the loser of a race retries with a fresh `ops(parent)`.
    *
    * EVERY commit path propagates the parent's outstanding deletion
    * vectors unless its meta says otherwise (r8 ADVICE: appendCommit /
    * commitBatch / mergeCoW / optimizeSmall / compact used to commit
    * DV-free meta, silently resurrecting deleted rows on the next
    * readMOR). A caller that really means "no DVs" — [[compactMOR]],
    * which just materialized them — passes an explicit empty `dv=`
    * token. Key-based DVs survive any key-preserving rewrite by
    * construction; the one documented semantic edge is an APPEND that
    * re-inserts a previously deleted key: the key-predicate still
    * subtracts it until a compactMOR (positional deletes, which real
    * formats use to scope a DV to one file, are out of this format's
    * minimal scope — the caveat mirrors a DELETE-WHERE predicate).
    */
  /** Delta commit of (added entry lines, removed paths) against the
    * live head — the raw rewrite primitive the CoW ops compose
    * (package-visible for specs that need a remove-bearing delta
    * without a full lifecycle op).
    */
  private[graft] def commitOps(root: Path, adds: Seq[String],
      removes: Seq[String], meta: String = ""): Int =
    commitOpsF(root, _ => meta)(_ => Some((adds, removes))).get

  private[operators] def commitOpsF(root: Path, metaOf: Int => String,
      checkpoint: Boolean = false)(
      ops: Int => Option[(Seq[String], Seq[String])]): Option[Int] = {
    val d = manifestDir(root)
    Files.createDirectories(d)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 100, "manifest commit: livelock guard tripped")
      val parent = latestVersion(root)
      val v = parent + 1
      val (adds, removes) = ops(parent) match {
        case Some(x) => x
        case None => return None
      }
      val meta0 = metaOf(parent)
      // both vector kinds inherit unless the caller's meta names them
      val inheritedDvs = Seq(
        "dv" -> ((v: Int) => dvsFor(root, v)),
        "dvp" -> ((v: Int) => scopedDvsFor(root, v)),
        "dvr" -> ((v: Int) => rowDvsFor(root, v))).flatMap {
        case (k, f) =>
          if (parent == 0 || meta0.split(' ').exists(_.startsWith(k + "=")))
            None // caller manages (or clears) this list itself
          else f(parent) match {
            case Nil => None
            case vs => Some(s"$k=${vs.mkString(",")}")
          }
      }
      // evolution state (schema=/colmap=) rides the log like the DV
      // lists: a commit whose caller doesn't name them inherits the
      // parent's, so a MERGE/UPDATE/DELETE/optimize on an evolved
      // table never strands readEvolved or the catalog's schema
      // resolution (round-10: the V2 catalog resolves schema from the
      // LATEST header). renameColumn/dropColumn write colmap=
      // explicitly — even when empty — to CLEAR an inherited mapping.
      val inheritedEvo = {
        lazy val pm = headerOf(root, parent)
        Seq("schema", "colmap", "ptrans", "ptransprev", "bloom").flatMap { k =>
          if (parent == 0 || meta0.split(' ').exists(_.startsWith(k + "=")))
            None
          else pm.get(k).filter(_.nonEmpty).map(v => s"$k=$v")
        }
      }
      val meta = (meta0 +: (inheritedDvs ++ inheritedEvo))
        .filter(_.nonEmpty).mkString(" ")
      val parentDepth =
        if (parent == 0) -1
        else headerOf(root, parent).get("depth").map(_.toInt).getOrElse(0)
      val full = checkpoint || parent == 0 ||
        parentDepth + 1 >= CheckpointEvery
      val (kindMeta, bodyLines) =
        if (full) {
          val base = if (parent == 0) Nil else rawLines(root, parent)
          val rm = removes.toSet
          val entryLines =
            base.filterNot(l => rm(l.split('\t').head)) ++ adds
          if (entryLines.isEmpty) ("", Nil)
          else {
            // parquet-encoded checkpoint (wave 133): entries land in
            // nonce-named segment files, the commit file's body is the
            // manifest LIST (one descriptor + aggregate bounds per
            // segment). Segments are written before the publish link —
            // a lost race orphans them (vacuum fodder), never corrupts
            // the winner.
            val segNonce = nonce()
            val descs = entryLines.map(parseEntry)
              .grouped(SegmentEntries).zipWithIndex.map { case (es, i) =>
                val segName = s"cp$segNonce-s$i.parquet"
                SegIO.write(d.resolve(segName), es)
                descLine(segName, es.size, segmentBounds(es))
              }.toSeq
            ("body=seg", descs)
          }
        } else {
          // columnar delta (round 10): a delta whose ADD set is large
          // writes its adds as parquet segments (the wave-133 SegIO
          // encoding checkpoints use) listed as @descriptors beside
          // the -path lines — a 10k-file rewrite commits ~100 KB of
          // dictionary-compressed segment instead of ~1 MB of text,
          // and the descriptor's aggregate bounds let pruned plans
          // skip the whole segment. Small deltas stay inline text:
          // a parquet file has a ~KB fixed cost a 2-line delta never
          // amortizes (the same trade behind Delta Lake's JSON deltas)
          val addBody =
            if (adds.size >= DeltaSegEntries) {
              val segNonce = nonce()
              adds.map(parseEntry).grouped(SegmentEntries).zipWithIndex
                .map { case (es, i) =>
                  val segName = s"cp$segNonce-s$i.parquet"
                  SegIO.write(d.resolve(segName), es)
                  descLine(segName, es.size, segmentBounds(es))
                }.toSeq
            } else adds.map("+" + _)
          (s"kind=delta depth=${parentDepth + 1}",
            removes.map("-" + _) ++ addBody)
        }
      // every commit records its wall-clock time — the index TIMESTAMP
      // AS OF resolution ([[versionAt]]) scans; ties (same-ms commits)
      // resolve to the latest version, the Delta rule
      val extras = Seq(meta, s"ts=${System.currentTimeMillis()}", kindMeta)
        .filter(_.nonEmpty)
      val head = s"# graft-manifest version=$v parent=$parent" +
        (if (extras.isEmpty) "" else extras.mkString(" ", " ", ""))
      val body = (head +: bodyLines).mkString("", "\n", "\n")
      val tmp = d.resolve(s".tmp_${name(v)}_p${ProcessHandle.current().pid()}" +
        s"_t${Thread.currentThread().getId}")
      Files.write(tmp, body.getBytes("UTF-8"))
      val won =
        try { Files.createLink(d.resolve(name(v)), tmp); true } // atomic, fails if exists
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      // once linked, v is public: nothing after the link may throw, or a
      // caller's abort (ManifestBatchWrite.abort) would delete files v
      // names. A leftover .tmp_ file is harmless.
      try Files.deleteIfExists(tmp): Unit catch { case _: Exception => () }
      if (won) {
        writeHint(root, v)
        return Some(v)
      } // else lost the race — retry on the new latest
    }
    None // unreachable
  }

  /** Recorded commit wall-time of a version (the `ts=` header field
    * every commit writes), in epoch millis.
    */
  def commitTime(root: Path, version: Int): Long =
    headerMeta(root, version).get("ts").map(_.toLong).getOrElse(
      throw new IllegalStateException(
        s"v$version predates timestamp recording — resolve it by version"))

  /** TIMESTAMP AS OF: the largest committed version whose recorded
    * commit time is <= `tMillis` — time-travel by wall clock, the
    * Delta/Iceberg query surface for "the table as of last midnight".
    * Same-millisecond commits tie-break to the LATEST version (later
    * versions strictly supersede within one timestamp). O(versions)
    * header reads; real formats pay the same log scan (or index it in
    * a checkpoint). Throws when `tMillis` predates the first commit —
    * there is no table to read there.
    */
  def versionAt(root: Path, tMillis: Long): Int = {
    val latest = latestVersion(root)
    require(latest > 0, "versionAt on an empty table")
    val eligible = (math.max(1, firstVersion(root)) to latest).filter { v =>
      headerMeta(root, v).get("ts").exists(_.toLong <= tMillis)
    }
    require(eligible.nonEmpty,
      s"no committed version at or before t=$tMillis — the table " +
      "did not exist yet")
    eligible.max
  }

  /** [[read]] pinned by wall clock instead of version number. */
  def readAsOf(spark: SparkSession, root: Path, tMillis: Long,
      schema: StructType): DataFrame =
    read(spark, root, versionAt(root, tMillis), schema)

  /** DESCRIBE HISTORY: one row per committed version — (version,
    * ts_millis, kind, operation) — from the manifest headers alone.
    * `operation` is the committing path's own meta token (merge=vK /
    * optimize=vK / zorder=vK / upsert=vK / batch=N / dv= / …), "" for
    * plain appends; `kind` is checkpoint or delta. The audit surface
    * every real format exposes, derived rather than stored: the log IS
    * the history.
    */
  def history(spark: SparkSession, root: Path): DataFrame = {
    // colmap is evolution plumbing like schema — without it rename/
    // drop commits surface the raw logical:physical blob as their
    // "operation" (round-10 ADVICE fix)
    val infra = Set("ts", "depth", "schema", "body", "colmap", "bloom")
    val rows = (math.max(1, firstVersion(root)) to latestVersion(root))
      .map { v =>
      val m = headerMeta(root, v)
      org.apache.spark.sql.Row(
        v.toLong,
        m.get("ts").map(_.toLong).getOrElse(-1L),
        if (m.contains("kind")) m("kind") else "checkpoint",
        m.view.filterKeys(k => !infra(k) && k != "kind")
          .map { case (k, x) => s"$k=$x" }.toSeq.sorted.mkString(" "))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_millis",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType))))
  }

}
