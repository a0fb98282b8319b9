package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ManifestTable

/** One fresh `graft-manifest` table of `orders` rows under the run's own
  * scratch directory, driven by a seeded sequence of commits (DSv2
  * appends with statsColumns, copy-on-write deletes and merges, periodic
  * compaction) and reads (full, `o_orderkey` range, pinned version).
  * A plain-DataFrame model replays the same commits; the latest and one
  * pinned earlier version must equal it row for row.
  */
class Lakehouse(r: Run) {
  private val spark = r.spark
  private val rng = new Random(r.o.seed)
  private val root: Path = Paths.get(r.o.work, "lake", "orders")
  private val orders = graft.Tables.table(spark, r.dir, "orders")
  private val schema = orders.schema
  private val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
  /** Keys below `next` have been appended; appends take the next band. */
  private var next = 0L
  private var commits = 0
  private var model: DataFrame = orders.limit(0)
  /** Model of every committed version (version -> rows it must hold). */
  private val models = mutable.LinkedHashMap.empty[Int, DataFrame]
  private val CompactEvery = 8
  private val SmallBytes = 256L * 1024

  private def latest: Int = ManifestTable.latestVersion(root)

  private def bytesUnderRoot: Long = if (!Files.exists(root)) 0L else {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def liveBytes(v: Int): Long = ManifestTable.entriesFor(root, v)
    .map(e => Files.size(root.resolve("data").resolve(e.path))).sum

  private def band(width: Int): (Long, Long) = {
    val lo = (rng.nextDouble() * math.max(1L, next - width)).toLong
    (lo, lo + width - 1)
  }

  private def inBand(lo: Long, hi: Long) = col("o_orderkey").between(lo, hi)

  // ---- commits: each returns the model transformation it applied ----

  private def append(width: Int): (String, DataFrame => DataFrame) = {
    val (lo, hi) = (next, math.min(maxKey, next + width - 1))
    next = hi + 1
    val rows = orders.filter(inBand(lo, hi))
    rows.write.format("graft-manifest").option("path", root.toString)
      .option("statsColumns", "o_orderkey").mode("append").save()
    (s"$lo-$hi", _.union(rows))
  }

  private def delete(): (String, DataFrame => DataFrame) = {
    val (lo, hi) = band(200 + rng.nextInt(800))
    val cond = inBand(lo, hi) && col("o_orderstatus") === "F"
    ManifestTable.deleteWhereCoW(spark, root, schema, cond,
      longBands = Seq(("o_orderkey", lo, hi)))
    (s"$lo-$hi", _.filter(!coalesce(cond, lit(false))))
  }

  private def merge(): (String, DataFrame => DataFrame) = {
    val (lo, hi) = band(500 + rng.nextInt(1500))
    val bump: DataFrame => DataFrame = _.withColumn("o_totalprice",
      when(inBand(lo, hi), col("o_totalprice") + lit(1.0d))
        .otherwise(col("o_totalprice")))
    ManifestTable.mergeCoW(spark, root, latest, schema, "o_orderkey", lo, hi)(bump)
    (s"$lo-$hi", bump)
  }

  private def compact(): (String, DataFrame => DataFrame) = {
    ManifestTable.optimizeSmall(spark, root, latest, schema, "o_orderkey", SmallBytes)
    ("small", identity)
  }

  /** One commit op; the model follows only when the commit succeeded. */
  private def commit(kind: String)(body: => (String, DataFrame => DataFrame)): Unit = {
    val before = if (r.o.trace) bytesUnderRoot else 0L
    var applied: DataFrame => DataFrame = identity
    var name = ""
    val op = r.op(kind, "", root = s"manifest.$kind") { (_, _) =>
      val (n, f) = body
      name = n; applied = f
    }
    if (op.ok) {
      model = applied(model)
      models(latest) = model
      commits += 1
    }
    if (r.o.trace) r.opExtra(op.id, Map(
      "bytes_written" -> (bytesUnderRoot - before).toDouble))
    r.rename(op.id, name)
  }

  // ---- reads: log resolution, DataFrame planning, noop sink ----

  private def read(kind: String): Unit = {
    val versions = models.keys.toIndexedSeq
    val pinned = versions(rng.nextInt(math.max(1, versions.size - 1)))
    val (lo, hi) = band(1000 + rng.nextInt(4000))
    var live = 0
    var admitted = 0
    val op = r.op(kind, "", root = "op") { (id, m) =>
      val v = m.span("manifest.log_resolve") {
        val v = if (kind == "read_pinned") pinned else latest
        live = ManifestTable.entriesFor(root, v).size
        v
      }
      val df = m.span("manifest.read_plan") {
        kind match {
          case "read_range" =>
            ManifestTable.readPruned(spark, root, v, schema, "o_orderkey", lo, hi)
              .filter(inBand(lo, hi))
          case _ =>
            spark.read.format("graft-manifest").option("path", root.toString)
              .option("version", v.toString).load()
        }
      }
      m.span("sink")(r.noop(df, id))
      if (kind == "read_range" && r.o.trace) admitted = df.inputFiles.length
    }
    r.rename(op.id, kind match {
      case "read_range" => s"$lo-$hi"
      case "read_pinned" => s"v$pinned"
      case _ => "latest"
    })
    if (r.o.trace) r.opExtra(op.id, Map("live_files" -> live.toDouble) ++
      (if (kind == "read_range") Map("files_admitted" -> admitted.toDouble) else Map()))
    r.resolveProbe(op.id, "orders")
  }

  /** One cycle of five ops, in a seeded order: an append, a delete or a
    * merge (in turn), a full, a key-range and a pinned read. Every eighth
    * commit is a compaction instead.
    */
  private val Cycle = Seq("append", "mutate", "read_full", "read_range", "read_pinned")
  private var mutations = 0

  private def step(kind: String): Unit =
    if (kind.startsWith("read")) read(kind)
    else if ((commits + 1) % CompactEvery == 0) commit("compact")(compact())
    else if (kind == "append") commit("append")(append(1000 + rng.nextInt(2000)))
    else {
      mutations += 1
      if (mutations % 2 == 1) commit("delete")(delete()) else commit("merge")(merge())
    }

  def cycle(): Seq[() => Unit] = rng.shuffle(Cycle).map(k => () => step(k))

  /** Set-up: create the table from three appends; the warm-up round that
    * follows runs every commit and read path once.
    */
  def prepare(): Unit = {
    val s = r.now()
    Files.createDirectories(root.getParent)
    (1 to 3).foreach(_ => commit("append")(append(5000)))
    r.setupParts("lake_prepare_s") = (r.now() - s) / 1000
  }

  /** Order-independent fingerprint of a row multiset: row count and the
    * sum of per-row 64-bit hashes (as a decimal, so it cannot overflow).
    */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(schema.fieldNames.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(schema.fieldNames.map(col): _*)
        .cast("decimal(38,0)"))).head()
    (row.getLong(0), Option(row.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Latest and a pinned earlier version against the model. */
  def check(): Unit = {
    val v = latest
    val earlier = models.keys.filter(_ < v).toIndexedSeq
    val pinned = if (earlier.isEmpty) v else earlier(rng.nextInt(earlier.size))
    Seq("latest" -> v, "pinned" -> pinned).foreach { case (label, ver) =>
      val name = s"lakehouse/$label-v$ver"
      try {
        val got = fingerprint(spark.read.format("graft-manifest")
          .option("path", root.toString).option("version", ver.toString).load())
        val want = fingerprint(models(ver))
        r.checks += ((name, got == want,
          if (got == want) "" else s"table (rows, hash) $got, model $want"))
      } catch { case t: Throwable => r.checks += ((name, false, r.msg(t))) }
    }
  }

  def info: Seq[(String, String)] = {
    val v = latest
    val live = ManifestTable.entriesFor(root, v).size
    Seq("version" -> v.toString, "live_files" -> live.toString,
      "space_amp" -> (bytesUnderRoot.toDouble / math.max(1L, liveBytes(v))).toString)
  }
}
