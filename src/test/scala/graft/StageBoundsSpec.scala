package graft

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}

import graft.operators.{FileEntry, ManifestTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file stats written by [[ManifestTable.stage]] against a test-side
  * oracle: every staged file of an adversarial frame is re-read with a
  * plain parquet scan, its min/max computed by Spark, and the entry
  * line's bounds must equal them — for all five stats kinds, across
  * NaN and ±0.0 doubles, null-only columns, empty partitions,
  * timestamps at µs edges and before 1970, decimals of one value at
  * two spellings, and binaries longer than the 16-byte prefix. A
  * pruned read at each edge value must return exactly the rows a full
  * scan does.
  */
class StageBoundsSpec extends SparkSpec {
  import StageBoundsSpec._

  private lazy val staged: (Path, DataFrame, Seq[FileEntry]) = {
    val root = Files.createTempDirectory("graft_bounds")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until Parts, Parts)
        .flatMap(p => rowsOf(p)), schema)
    val lines = ManifestTable.stage(src, root, "b",
      Seq("l", "ts", "tsn", "ln"), Seq("s", "sn"), Seq("d", "dn"),
      Seq("dec", "decn"), Seq("b", "bn"))
    val v = ManifestTable.commit(root, lines,
      s"schema=${ManifestTable.schemaMeta(schema)}")
    (root, src, ManifestTable.entriesFor(root, v))
  }

  test("every staged file's bounds equal a plain parquet min/max") {
    val (root, src, entries) = staged
    assert(entries.size == Parts - EmptyParts.size,
      s"${Parts - EmptyParts.size} non-empty partitions, got ${entries.size} files")
    assert(entries.map(e => spark.read.parquet(
      root.resolve("data").resolve(e.path).toString).count()).sum ==
      src.count())
    def n(d: Double) = if (d == 0.0d) 0.0d else d
    entries.foreach { e =>
      val f = spark.read.parquet(root.resolve("data").resolve(e.path).toString)
      val cols = Seq("l", "ln", "s", "sn", "d", "dn", "dec", "decn", "b", "bn")
      val aggs = Seq(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        min(unix_micros(col("tsn").cast("timestamp"))),
        max(unix_micros(col("tsn").cast("timestamp")))) ++
        cols.flatMap(c => Seq(min(c), max(c)))
      val mm = f.agg(aggs.head, aggs.tail: _*).head()
      def at(c: String, hi: Boolean): Any = {
        val i = cols.indexOf(c)
        mm.get(4 + 2 * i + (if (hi) 1 else 0))
      }
      def longs(c: String, lo: Any, hi: Any) =
        if (lo == null) assert(e.band(c).isEmpty, s"${e.path} $c")
        else assert(e.band(c).contains((lo, hi)), s"${e.path} $c: ${e.band(c)} vs ($lo, $hi)")
      longs("ts", mm.get(0), mm.get(1))
      longs("tsn", mm.get(2), mm.get(3))
      Seq("l", "ln").foreach(c => longs(c, at(c, false), at(c, true)))
      Seq("s", "sn").foreach { c =>
        if (at(c, false) == null) assert(e.bandStr(c).isEmpty)
        else assert(e.bandStr(c).contains((at(c, false), at(c, true))),
          s"${e.path} $c: ${e.bandStr(c)}")
      }
      Seq("d", "dn").foreach { c =>
        if (at(c, false) == null) assert(e.bandDbl(c).isEmpty)
        else {
          val (lo, hi) = e.bandDbl(c).get
          assert(java.lang.Double.compare(n(lo), n(at(c, false).asInstanceOf[Double])) == 0 &&
            java.lang.Double.compare(n(hi), n(at(c, true).asInstanceOf[Double])) == 0,
            s"${e.path} $c: ($lo, $hi) vs (${at(c, false)}, ${at(c, true)})")
        }
      }
      Seq("dec", "decn").foreach { c =>
        if (at(c, false) == null) assert(e.bandDec(c).isEmpty)
        else {
          val (lo, hi) = e.bandDec(c).get
          def plain(v: Any) = v.asInstanceOf[java.math.BigDecimal].toPlainString
          assert(lo.underlying.toPlainString == plain(at(c, false)) &&
            hi.underlying.toPlainString == plain(at(c, true)),
            s"${e.path} $c: ($lo, $hi)")
        }
      }
      Seq("b", "bn").foreach { c =>
        if (at(c, false) == null) assert(e.bandBin(c).isEmpty)
        else assert(e.bandBin(c).contains((
          FileEntry.binLower(at(c, false).asInstanceOf[Array[Byte]]),
          FileEntry.binUpper(at(c, true).asInstanceOf[Array[Byte]]))),
          s"${e.path} $c: ${e.bandBin(c)}")
      }
    }
  }

  test("a pruned read at every edge value is row-exact") {
    val (root, src, _) = staged
    val table = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    val edges = Seq("l", "ts", "tsn", "s", "d", "dec", "b").flatMap { c =>
      src.select(c).where(col(c).isNotNull).distinct().collect()
        .map(r => (c, r.get(0)))
    }
    assert(edges.size > 40, s"too few edge values: ${edges.size}")
    edges.foreach { case (c, v) =>
      val want = ids(src.filter(col(c) === lit(v)))
      assert(want.nonEmpty)
      assert(ids(table.filter(col(c) === lit(v))) == want, s"$c = $v")
    }
    // the bounds do prune: l = 42 admits its one file plus partition
    // 6's all-null file, which records no bounds to skip it by
    val one = ManifestTable.readPruned(spark, root, 1, schema,
      Seq(org.apache.spark.sql.sources.EqualTo("l", 42L)))
    assert(one.inputFiles.length == 2 && ids(one) == Set(40L))
  }
}

object StageBoundsSpec {
  val Parts = 8
  /** Partition 0 (the one Spark's own writer never skips) and 5 hold no rows. */
  val EmptyParts = Set(0, 5)

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("l", LongType),
    StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
    StructField("s", StringType), StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("b", BinaryType),
    StructField("ln", LongType), StructField("sn", StringType),
    StructField("dn", DoubleType), StructField("decn", DecimalType(10, 2)),
    StructField("bn", BinaryType)))

  private val Day = 86400000000L
  private def inst(us: Long) = Instant.ofEpochSecond(
    Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
  private def ntz(us: Long) = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
    ZoneOffset.UTC)
  private def dec(s: String) = new java.math.BigDecimal(s)
  private def bytes(n: Int, b: Int) = Array.fill[Byte](n)(b.toByte)

  /** (l, ts micros, s, d, dec, b) per row; nulls where the value is null. */
  private val byPart: Map[Int, Seq[(Any, Any, Any, Any, Any, Any)]] = Map(
    1 -> Seq(
      (Long.MinValue, -1L, "", -0.0d, dec("1.10"), bytes(20, 0xff)),
      (-1L, 0L, "a", 0.0d, dec("-0.00"), Array.emptyByteArray)),
    2 -> Seq(
      (0L, 1L, "😀", Double.NaN, dec("1.1"), bytes(17, 0x01)),
      (1L, -Day, "", 1.0d, dec("0.01"), bytes(16, 0xff) :+ 0.toByte)),
    3 -> Seq(
      (Long.MaxValue, -2208988799999999L, "zz", -0.0d, dec("-99999999.99"),
        Array[Byte](0)),
      (null, null, null, null, null, null)),
    4 -> Seq(
      (42L, Day - 1L, "m", Double.NaN, dec("99999999.99"),
        bytes(16, 0x7f) ++ bytes(4, 0x80))),
    6 -> Seq((null, null, null, null, null, null)),
    7 -> Seq(
      (7L, -Day - 1L, "é", Double.NegativeInfinity, dec("0.00"),
        bytes(32, 0x00)),
      (8L, 253402300799999999L, "éé", Double.PositiveInfinity,
        dec("-0.01"), bytes(18, 0xfe))))

  def rowsOf(p: Int): Seq[Row] =
    byPart.getOrElse(p, Nil).zipWithIndex.map {
      case ((l, ts, s, d, dc, b), i) =>
        val t = Option(ts).map(_.asInstanceOf[Long])
        Row(p * 10L + i, l, t.map(inst).orNull, t.map(ntz).orNull, s, d,
          dc, b, null, null, null, null, null)
    }
}
