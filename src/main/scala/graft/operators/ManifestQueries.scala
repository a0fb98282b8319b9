package graft.operators

import java.nio.file.{Files, Path, Paths}
import graft.{QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.StructType


/** The declared-query face of [[ManifestTable]]: the orders table
  * rebuilt as a manifest table (built ONCE per fixture snapshot in the
  * fingerprint-keyed [[ArtifactCache]]) through the full lifecycle —
  * initial snapshot (even order keys, 4 files), append (odd keys,
  * 2 files), compaction (1 file) — then read back through the
  * protocol. The oracles read the ORIGINAL parquet: value equality
  * through the manifest lifecycle IS the assertion.
  */
object ManifestOps extends QueryGroup {

  /** Build the lifecycle table, return its root. v1 = even keys,
    * v2 = +odd keys, v3 = compaction of v2.
    */
  private[graft] def lifecycleRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.appendCommit(root, ManifestTable.stage(
        orders.filter(col("o_orderkey") % 2 === 0).repartition(4),
        root, "base"))
      val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
        orders.filter(col("o_orderkey") % 2 === 1).repartition(2),
        root, "delta"))
      val v3 = ManifestTable.compact(spark, root, v2, orders.schema, 1)
      require(v1 == 1 && v2 == 2 && v3 == 3,
        s"manifest lifecycle built versions ($v1,$v2,$v3), expected (1,2,3)")
      Files.createFile(root.resolve("_SUCCESS")) // ArtifactCache marker
    }
    Paths.get(out)
  }

  /** The copy-on-write lifecycle: v1 = orders range-laid into 8
    * stats-carrying files; v2 = a band-scoped MERGE (update prices in
    * [max/4, max/2), delete that band's %19 keys) that rewrites ONLY
    * the stats-admitted files. The band covers ~a quarter of the
    * keyspace, so most of v1's files survive into v2 verbatim —
    * Wave87Spec asserts that file-identity, the actual copy-on-write
    * claim.
    */
  private[graft] def cowRoot(spark: SparkSession, dir: String): Path = {
    // cache name carries a format generation: the r9 per-column stats
    // encoding (path\tcol:min:max,…) is not parseable by — or from —
    // the r8 single-key 3-field lines, so a new name forces a rebuild
    // instead of reading a stale-format cached root
    val out = ArtifactCache.path("manifest_orders_cow2",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      // two stat columns: o_orderkey is the range-layout key (tight
      // per-file bands), o_custkey rides along so multi-predicate
      // prunes have a second recorded column to consult
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey", "o_custkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val (lo, hi) = (mx / 4, mx / 2) // in-band: lo <= k < hi
      val v2 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
        "o_orderkey", lo, hi - 1) { df =>
        val inBand = col("o_orderkey") >= lo && col("o_orderkey") < hi
        df.filter(!(inBand && col("o_orderkey") % 19 === 0))
          .withColumn("o_totalprice",
            when(inBand, col("o_totalprice") + lit(1.0d))
              .otherwise(col("o_totalprice")))
      }
      require(v1 == 1 && v2 == 2,
        s"cow lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** MERGE INTO lifecycle: v1 = orders range-laid into 8
    * stats-carrying files; v2 = one [[ManifestTable.upsert]] whose
    * update set carries BOTH matched keys (%17 keys in the bottom
    * quarter of the keyspace → full-row replace: status 'U', price
    * +5.0) and never-seen keys (%23 keys shifted above max →
    * inserts). The matched half sits in the bottom-quarter band, so
    * only ~2 of the 8 base files are touched — Wave120Spec asserts
    * the untouched files survive v2 by path identity, the
    * copy-on-write claim.
    */
  private[graft] def upsertRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_upsert",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val upd = orders
        .filter(col("o_orderkey") % 17 === 0 && col("o_orderkey") < mx / 4)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0d))
      // o_orderkey starts at 0 in the fixture: key 0's shifted image
      // would be 0+max = max, an EXISTING key (an update, not an
      // insert) — exclude it so the insert set is provably disjoint
      val ins = orders
        .filter(col("o_orderkey") % 23 === 0 && col("o_orderkey") > 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mx))
        .withColumn("o_orderstatus", lit("N"))
      val v2 = ManifestTable.upsert(spark, root, v1, orders.schema,
        "o_orderkey", upd.unionByName(ins))
      require(v1 == 1 && v2 == 2,
        s"upsert lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }


  /** DOUBLE-stats lifecycle (round 11 — r10-VERDICT task 4): orders
    * range-laid BY PRICE into 8 files whose per-file o_totalprice
    * bounds ride the manifest as double stats (plus o_orderkey long
    * stats). A price-band predicate then admits ~1/8 of the files —
    * the prune real formats get from their typed per-column min/max,
    * closing the "predicates on o_totalprice admit every file" gap
    * (Wave155Spec asserts the admitted-file count; the declared query
    * asserts exactness through the registered source).
    */
  private[graft] def dblStatsRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_dblstats",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_totalprice")),
        root, "base", Seq("o_orderkey"), Nil, Seq("o_totalprice")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      require(v1 == 1, s"double-stats lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** DECIMAL-stats lifecycle (round 11, wave 161): orders carried
    * under a DECIMAL(12,2) price column (the type real money schemas
    * use), range-laid by price into 8 files whose per-file decimal
    * bounds ride the manifest scale-exact. A decimal-literal band
    * then admits ~1/8 of the files (Wave161Spec asserts the physical
    * skip; the declared query asserts exactness through the
    * registered source).
    */
  private[graft] def decStatsRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_decstats",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val df = orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price_dec"))
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        df.repartitionByRange(8, col("o_price_dec")),
        root, "base", Seq("o_orderkey"), Nil, Nil, Seq("o_price_dec")),
        s"schema=${ManifestTable.schemaMeta(df.schema)}")
      require(v1 == 1, s"decimal-stats lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** BINARY-stats lifecycle (round 12 — r11-VERDICT task 8, the last
    * boundless leaf type): documents carried with a 16-byte digest
    * column (unhex(md5(text)) — a deterministic stand-in for a
    * media-blob content-hash column), range-laid by digest into 8
    * files whose per-file truncated-prefix bounds ride the manifest
    * in the Iceberg truncate(16) shape. A digest-range predicate then
    * admits ~1/8 of the files, and the exact predicate re-applies
    * row-exactly (Wave171Spec asserts the physical skip AND the
    * truncation's no-false-prune contract on >16-byte values).
    */
  private[graft] def binStatsRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_docs_binstats",
      Seq(s"$dir/documents.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val docs = Tables.table(spark, dir, "documents")
      val df = docs.select(col("doc_id"), col("n_chars"),
        unhex(md5(col("text"))).as("blob"))
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        df.repartitionByRange(8, col("blob")),
        root, "base", Seq("doc_id"), Nil, Nil, Nil, Seq("blob")),
        s"schema=${ManifestTable.schemaMeta(df.schema)}")
      require(v1 == 1, s"binary-stats lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** µs-TIMESTAMP stats lifecycle (round 11): events carried under a
    * REAL timestamp column (timestamp_micros of the fixture's micros),
    * range-laid by time into 8 files whose per-file `ts` bounds record
    * as epoch-micros LONG stats ([[FileEntry.microsOf]] — the same
    * function the plan-time literal translation uses, so the prune is
    * bit-consistent). A pushed timestamp-literal band then admits the
    * intersecting files only — the canonical time-series layout.
    */
  private[graft] def tsStatsRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_events_tsstats",
      Seq(s"$dir/events.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val events = Tables.table(spark, dir, "events")
      val df = events.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"),
        timestamp_micros(Tables.tsUsCol(events)).as("ts"))
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        df.repartitionByRange(8, col("ts")),
        root, "base", Seq("event_id", "ts"), Nil, Nil),
        s"schema=${ManifestTable.schemaMeta(df.schema)}")
      require(v1 == 1, s"ts-stats lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** BLOOM-index lifecycle (round 11, wave 160): orders laid by
    * ORDER KEY into 8 files — so every file's o_custkey band spans
    * ~the whole customer domain and a custkey point predicate admits
    * ALL files through min/max stats — then a bloom index built on
    * o_custkey. The index is what makes the point read prunable at
    * all on this layout (the high-cardinality scattered-column case
    * min/max cannot serve; Wave160Spec asserts the physical skip and
    * zero false negatives over sampled keys).
    */
  private[graft] def bloomRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_bloom",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey", "o_custkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val v2 = ManifestTable.buildBloomIndex(spark, root, orders.schema,
        "o_custkey")
      require(v1 == 1 && v2 == 2,
        s"bloom lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** MULTI-TABLE transaction lifecycle (round 11 — r10-VERDICT task
    * 6): two tables — "orders" (even keys at v1) and an initially
    * empty "audit" — receive ONE atomic [[ManifestTable.commitTxn]]:
    * the odd keys append to the first, the top-half rows to the
    * second. The intent-log + roll-forward protocol guarantees both
    * or neither are ever visible (Wave158Spec crashes between the two
    * publishes and proves it); the declared result composes the two
    * post-txn tables, so oracle equality proves the transaction
    * landed whole.
    */
  private[graft] def multiTxnRoot(spark: SparkSession, dir: String)
      : (Path, Path) = {
    // "mtxn2": the first build recorded ABSOLUTE txnlog= paths,
    // which went stale when the cache moved staging → final (the
    // round-11 relocation lesson; paths are root-relative now)
    val out = ArtifactCache.path("manifest_orders_mtxn2",
      Seq(s"$dir/orders.parquet")) { staging =>
      val base = Paths.get(staging)
      val (a, b) = (base.resolve("a"), base.resolve("b"))
      Files.createDirectories(a); Files.createDirectories(b)
      val orders = Tables.table(spark, dir, "orders")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      ManifestTable.commit(a, ManifestTable.stage(
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")),
        a, "base", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      ManifestTable.commit(b, Nil,
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val addsA = ManifestTable.stage(
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(2, col("o_orderkey")),
        a, "odd", Seq("o_orderkey"))
      val addsB = ManifestTable.stage(
        orders.filter(col("o_orderkey") > mx / 2)
          .repartitionByRange(2, col("o_orderkey")),
        b, "audit", Seq("o_orderkey"))
      val vs = ManifestTable.commitTxn(Seq(
        (a, addsA, ""), (b, addsB, "")))
      require(vs == Seq(2, 2), s"txn landed at $vs, expected (2,2)")
      Files.createFile(base.resolve("_SUCCESS")): Unit
    }
    (Paths.get(out).resolve("a"), Paths.get(out).resolve("b"))
  }

  /** COPY-ON-WRITE transaction lifecycle (round 12 — r11-VERDICT task
    * 4; round 11's txns were append-only): table A = orders range-laid
    * into 8 stats-carrying files; table B = an empty audit table. ONE
    * [[ManifestTable.commitTxnCow]] then (a) rewrites A's
    * bottom-quarter band files with a +2.0 re-price — replacement
    * files as adds, the touched files as REMOVES — and (b) appends
    * the band's pre-image rows to B. Both land in one intent, so a
    * crash shows either the old world or both changes (Wave167Spec
    * crashes between the publishes and proves it, plus the loud
    * conflict when a concurrent commit rewrites a removed file).
    */
  private[graft] def cowTxnRoot(spark: SparkSession, dir: String)
      : (Path, Path) = {
    val out = ArtifactCache.path("manifest_orders_cowtxn",
      Seq(s"$dir/orders.parquet")) { staging =>
      val base = Paths.get(staging)
      val (a, b) = (base.resolve("a"), base.resolve("b"))
      Files.createDirectories(a); Files.createDirectories(b)
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.commit(a, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        a, "base", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      ManifestTable.commit(b, Nil,
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val q = orders.agg(max("o_orderkey")).head().getLong(0) / 4
      // the CoW half: stats-admitted touched set, re-priced in band
      val (hit, _, _) = ManifestTable.prunedEntries(a, 1,
        Seq(("o_orderkey", 0L, q - 1)), Nil)
      require(hit.nonEmpty && hit.size < 8,
        s"band must touch a strict subset: ${hit.size}")
      val touched = spark.read.schema(orders.schema).parquet(
        hit.map(e => a.resolve("data").resolve(e.path).toString): _*)
      val replacement = touched.withColumn("o_totalprice",
        when(col("o_orderkey") < q, col("o_totalprice") + lit(2.0d))
          .otherwise(col("o_totalprice")))
      val addsA = ManifestTable.stage(
        replacement.repartitionByRange(math.max(1, hit.size),
          col("o_orderkey")), a, "cow", Seq("o_orderkey"))
      // the append half: the band's PRE-image as the audit trail
      val addsB = ManifestTable.stage(
        orders.filter(col("o_orderkey") < q)
          .repartitionByRange(2, col("o_orderkey")),
        b, "audit", Seq("o_orderkey"))
      val vs = ManifestTable.commitTxnCow(Seq(
        (a, addsA, hit.map(_.path), ""), (b, addsB, Nil, "")))
      require(vs == Seq(2, 2), s"cow txn landed at $vs, expected (2,2)")
      Files.createFile(base.resolve("_SUCCESS")): Unit
    }
    (Paths.get(out).resolve("a"), Paths.get(out).resolve("b"))
  }


  /** ROW-POSITION DV lifecycle (round 10 — r9-VERDICT task 5): v1 =
    * orders in 8 stats-carrying range files; v2 = a DUPLICATE file
    * appended (every %7 key's full row again — same keys, same
    * values); v3 = a positional delete of the duplicate file's %3
    * rows by (file, row_index). The final table holds every original
    * row PLUS the surviving duplicates — a state no key-based or
    * key-scoped vector can express (deleting some copies of a key
    * while keeping others in the SAME table), which is exactly the
    * granularity gap the row-position form closes.
    */
  private[graft] def morPositionalRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_morr",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val dupRel = ManifestTable.stage(
        orders.filter(col("o_orderkey") % 7 === 0).coalesce(1),
        root, "dup")
      require(dupRel.size == 1, s"dup stage produced $dupRel")
      val v2 = ManifestTable.appendCommit(root, dupRel)
      val positions = spark.read.schema(orders.schema)
        .parquet(root.resolve("data").resolve(dupRel.head).toString)
        .withColumn("pos", col("_metadata.row_index"))
        .filter(col("o_orderkey") % 3 === 0)
        .select(lit(dupRel.head).as("src"), col("pos"))
      val v3 = ManifestTable.deleteMORPositional(spark, root, positions)
      require(v1 == 1 && v2 == 2 && v3 == 3,
        s"positional-DV lifecycle built ($v1,$v2,$v3), expected (1,2,3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** HIDDEN-PARTITIONING lifecycle (round 10 — r9-VERDICT task 6):
    * orders laid out by `bucket(16, o_custkey)` into 16 files whose
    * transform bounds ride the manifest as virtual per-file stats.
    * Deliberately NO plain stats on o_custkey — every custkey file
    * skip the queries achieve comes from the transform derivation
    * alone (a raw min/max on a high-cardinality scattered key would
    * admit everything; the bucket layout is what makes the key
    * prunable, which is the whole point of hidden partitioning).
    */
  private[graft] def hiddenRoot(spark: SparkSession, dir: String): Path = {
    // "hidden2": the first build committed no schema= meta and its
    // cached root would leak the layout column through the footer
    // fallback — name bumped to invalidate it
    val out = ArtifactCache.path("manifest_orders_hidden2",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val ts = Seq(ManifestTable.BucketTransform(16, "o_custkey"))
      // schema= meta pins the LOGICAL schema: the data files carry the
      // materialized __ptb16_o_custkey layout column, which must stay
      // hidden from every reader
      val v1 = ManifestTable.commit(root,
        ManifestTable.stageHidden(orders, root, "base", ts, files = 16),
        ManifestTable.transformsMeta(ts) +
          s" schema=${ManifestTable.schemaMeta(orders.schema)}")
      require(v1 == 1, s"hidden lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** days()-transform lifecycle: events (ts canonicalized to epoch
    * micros) laid out by `days(ts_us)` into 16 files — the time-based
    * hidden partitioning every real lakehouse runs on. ~30 days of
    * fixture data → ~2 days per file, so a one-day predicate admits
    * 1-2 of 16 files through the derived `__ptd_ts_us` band.
    */
  private[graft] def hiddenDaysRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_events_hiddendays",
      Seq(s"$dir/events.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val events = Tables.table(spark, dir, "events")
      val df = events.select(col("event_id"),
        Tables.tsUsCol(events).as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      val ts = Seq(ManifestTable.DaysTransform("ts_us"))
      val v1 = ManifestTable.commit(root,
        ManifestTable.stageHidden(df, root, "base", ts, files = 16),
        ManifestTable.transformsMeta(ts) +
          s" schema=${ManifestTable.schemaMeta(df.schema)}")
      require(v1 == 1, s"hidden-days lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** OPTIMIZE ZORDER lifecycle: v1 = orders range-laid by o_orderkey
    * only (8 files — each spans o_custkey's FULL range, the layout
    * under which any custkey predicate must scan everything); v2 = the
    * z-order rewrite interleaving (o_orderkey, o_custkey) into 8
    * hyper-rectangle files. Wave121Spec asserts the admitted-file
    * counts that make the layout worth paying for; the declared query
    * asserts the data survived the rewrite bit-for-bit.
    */
  private[graft] def zorderRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_zorder",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey", "o_custkey")))
      val v2 = ManifestTable.optimizeZorder(spark, root, v1, orders.schema,
        Seq("o_orderkey", "o_custkey"), 8)
      require(v1 == 1 && v2 == 2,
        s"zorder lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** STRING-stats lifecycle (wave 132): the part table as a manifest
    * table whose files are range-laid by p_brand and carry TYPED
    * per-file bounds — string (p_brand) plus long (p_partkey) — in two
    * append batches (even/odd part keys, both brand-range-laid, so
    * every file's brand band is narrow). The declared query prunes on
    * a lexicographic brand band; Wave132Spec asserts the physical
    * file skips.
    */
  private[graft] def strRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_part_str",
      Seq(s"$dir/part.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val part = Tables.table(spark, dir, "part")
      val v1 = ManifestTable.appendCommit(root,
        ManifestTable.stage(
          part.filter(col("p_partkey") % 2 === 0)
            .repartitionByRange(6, col("p_brand")),
          root, "base", Seq("p_partkey"), Seq("p_brand")))
      val v2 = ManifestTable.appendCommit(root,
        ManifestTable.stage(
          part.filter(col("p_partkey") % 2 === 1)
            .repartitionByRange(3, col("p_brand")),
          root, "odd", Seq("p_partkey"), Seq("p_brand")))
      require(v1 == 1 && v2 == 2,
        s"string-stats lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** Streaming-SOURCE lifecycle: an append-only commit chain (v1..v4 =
    * orders quartered by o_orderkey % 4) plus a replay directory
    * holding each version's [[ManifestTable.readIncremental]] file
    * delta as ONE parquet file with (mtime, path) pinned to commit
    * order — Spark's file source processes files in that order, so
    * `maxFilesPerTrigger=1` turns each COMMIT into one deterministic
    * micro-batch. This is "stream a lakehouse table from version K"
    * driven through actual Structured Streaming, the source half
    * complementing stream_manifest_sink.
    */
  private[graft] def streamSrcRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_stream",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val vs = (0 to 3).map { r =>
        ManifestTable.appendCommit(root, ManifestTable.stage(
          orders.filter(col("o_orderkey") % 4 === r).repartition(2),
          root, s"q$r"))
      }
      require(vs == Seq(1, 2, 3, 4), s"stream-source chain built $vs")
      val replay = root.resolve("replay")
      Files.createDirectories(replay)
      (1 to 4).foreach { v =>
        val tmp = root.resolve(s".rtmp$v")
        ManifestTable.readIncremental(spark, root, v - 1, v, orders.schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val s = Files.list(tmp)
        val part =
          try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          finally s.close()
        val dst = replay.resolve(f"d$v%02d.parquet")
        Files.move(part, dst)
        // fixed, strictly increasing mtimes (any constant base works —
        // only the ORDER matters to the file source)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1000000000000L + v * 1000L))
        val rest = Files.list(tmp)
        try rest.forEach(p => Files.delete(p)) finally rest.close()
        Files.delete(tmp)
      }
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** ADD COLUMN lifecycle: v1 = even-key orders under a 3-column
    * schema; v2 = odd-key append under the WIDENED 4-column schema
    * (o_orderpriority added). No v1 data file is rewritten — the
    * column addition is metadata-only (the `schema=` header meta is
    * the schema log), and readers of v2 null-fill the new column for
    * v1's files via parquet's explicit-schema missing-column
    * semantics.
    */
  private[graft] def evoRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_evo",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val s1 = orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v1 = ManifestTable.appendCommit(root,
        ManifestTable.stage(s1.repartition(2), root, "base"),
        s"schema=${ManifestTable.schemaMeta(s1.schema)}")
      val s2 = orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val v2 = ManifestTable.appendCommit(root,
        ManifestTable.stage(s2.repartition(2), root, "widen"),
        s"schema=${ManifestTable.schemaMeta(s2.schema)}")
      require(v1 == 1 && v2 == 2,
        s"evolution lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** COLUMN-MAPPING lifecycle (wave 136): v1 = even-key orders under a
    * 3-column schema; v2 = odd-key append under the widened 4-column
    * schema (the evo lifecycle's ADD COLUMN); v3 = metadata-only
    * RENAME o_totalprice→o_price (zero body, zero rewritten bytes —
    * files keep the physical name); v4 = an append AFTER the rename
    * (%5 keys shifted above max, price +1000) staged through
    * [[ManifestTable.stageEvolved]] so its files carry the physical
    * name; v5 = metadata-only DROP o_custkey. The declared query reads
    * the result under the final logical schema; Wave136Spec asserts
    * the zero-rewrite claims file-by-file.
    */
  private[graft] def evo2Root(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_evo2",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val s1 = orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v1 = ManifestTable.appendCommit(root,
        ManifestTable.stage(s1.repartition(2), root, "base"),
        s"schema=${ManifestTable.schemaMeta(s1.schema)}")
      val s2 = orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
      val v2 = ManifestTable.appendCommit(root,
        ManifestTable.stage(s2.repartition(2), root, "widen"),
        s"schema=${ManifestTable.schemaMeta(s2.schema)}")
      val v3 = ManifestTable.renameColumn(root, "o_totalprice", "o_price")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val s4 = orders
        .filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") > 0)
        .select((col("o_orderkey") + mx).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + lit(1000.0d)).as("o_price"),
          col("o_orderpriority"))
      val v4 = ManifestTable.appendCommit(root,
        ManifestTable.stageEvolved(s4.repartition(1), root, "late", v3),
        ManifestTable.evolutionMeta(root, v3))
      val v5 = ManifestTable.dropColumn(root, "o_custkey")
      require(Seq(v1, v2, v3, v4, v5) == Seq(1, 2, 3, 4, 5),
        s"colmap lifecycle built ($v1,$v2,$v3,$v4,$v5), expected 1..5")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** Merge-on-read lifecycle: v1 = orders range-laid with stats; v2 =
    * a DELETION-VECTOR commit (keys %13 — writes only the sidecar,
    * zero data files rewritten); v3 = compactMOR materializing the
    * view. Wave103Spec asserts the zero-rewrite and read-equivalence
    * claims the oracle can't see.
    */
  private[graft] def morRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_mor2",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(4, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val v2 = ManifestTable.deleteMOR(root,
        orders.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"))
      val v3 = ManifestTable.compactMOR(spark, root, v2, orders.schema,
        "o_orderkey", 4)
      require(v1 == 1 && v2 == 2 && v3 == 3,
        s"mor lifecycle built versions ($v1,$v2,$v3), expected (1,2,3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** Positional (file-scoped) MOR lifecycle: v1 = orders range-laid
    * with stats; v2 = a SCOPED deletion-vector commit (%13 keys,
    * provenance-resolved to their files, zero rewrites); v3 = an
    * append that RE-INSERTS a subset of the deleted keys (%13 ∧ %3) —
    * the case that distinguishes positional from key-predicate
    * deletes: the re-inserted rows live in a new file no vector
    * scopes, so they survive the read while the originals stay dead.
    */
  private[graft] def morScopedRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_morp",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(4, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val v2 = ManifestTable.deleteMORScoped(spark, root,
        orders.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey", orders.schema)
      val v3 = ManifestTable.appendCommit(root, ManifestTable.stage(
        orders.filter(col("o_orderkey") % 13 === 0
          && col("o_orderkey") % 3 === 0).coalesce(1), root, "reinsert"))
      require(v1 == 1 && v2 == 2 && v3 == 3,
        s"scoped-mor lifecycle built versions ($v1,$v2,$v3), expected (1,2,3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** Per-invocation scratch root for the streaming-sink table: the
    * WRITE is the operation under test, so it cannot be cached — but
    * pid-keyed scratch must not accumulate across JVM runs (the r6/r8
    * ADVICE pattern), so the whole pid dir is removed on JVM exit and
    * the previous invocation's run dir is removed as each new one
    * starts.
    */
  private val sinkRuns = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]
  private lazy val sinkBase: Path = {
    val p = Paths.get("/tmp/graft_mfsink", s"p${ProcessHandle.current().pid()}")
    sys.addShutdownHook(deleteTree(p))
    p
  }
  private[operators] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(deleteTree(_)) finally s.close()
      }
      Files.delete(p)
    }
  private[operators] def freshSinkRoot(dir: String, tag: String = ""): Path = {
    val key = tag + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val n = sinkRuns.getOrElseUpdate(key,
      new java.util.concurrent.atomic.AtomicLong(0)).incrementAndGet()
    deleteTree(sinkBase.resolve(s"${key}_r${n - 1}"))
    val p = sinkBase.resolve(s"${key}_r$n")
    Files.createDirectories(p)
    p
  }

  def queries: Map[String, Q] = Map[String, Q](
    "source_manifest" -> { (spark, dir) =>
      // LATEST snapshot (post-append, post-compaction) must equal the
      // source table row-for-row: the append added the complement and
      // the compaction rewrote without loss.
      val orders = Tables.table(spark, dir, "orders")
      val root = lifecycleRoot(spark, dir)
      ManifestTable.read(spark, root,
          ManifestTable.latestVersion(root), orders.schema)
        .orderBy("o_orderkey")
    },

    "source_manifest_timetravel" -> { (spark, dir) =>
      // PINNED read of snapshot v1 AFTER two later commits rewrote the
      // table around it: time travel must surface exactly the initial
      // even-key batch — proof that later snapshots never leak into a
      // pinned version.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.read(spark, lifecycleRoot(spark, dir), 1, orders.schema)
        .orderBy("o_orderkey")
    },

    "source_manifest_merge" -> { (spark, dir) =>
      // latest snapshot of the COPY-ON-WRITE lifecycle: a band-scoped
      // keyed merge (price bump + partial delete over [max/4, max/2))
      // applied by rewriting only the files whose key stats intersect
      // the band. The oracle restates the merged table from the
      // ORIGINAL parquet — equality proves both the merge semantics
      // and that skipping stats-disjoint files lost nothing.
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      ManifestTable.read(spark, root,
          ManifestTable.latestVersion(root), orders.schema)
        .orderBy("o_orderkey")
    },

    "source_manifest_incremental" -> { (spark, dir) =>
      // incremental consumption of the append v1→v2: exactly the files
      // the append commit added (the odd-key delta batch), never the
      // base — the "stream a lakehouse table from version K" primitive.
      // Wave88Spec additionally proves the guard refuses the range
      // across v3's compaction, where file-level deltas are undefined.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readIncremental(spark, lifecycleRoot(spark, dir),
          1, 2, orders.schema)
        .orderBy("o_orderkey")
    },

    "source_manifest_pruned" -> { (spark, dir) =>
      // stats-pruned point-range read over the CoW table's latest
      // snapshot: the key band [max/10, max/5] admits only the files
      // whose recorded bounds intersect it — Wave91Spec asserts the
      // scan's inputFiles are a strict subset. The band sits outside
      // the merge band, so the oracle is the plain source filter.
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      ManifestTable.readPruned(spark, root,
          ManifestTable.latestVersion(root), orders.schema,
          "o_orderkey", mx / 10, mx / 5)
        .orderBy("o_orderkey")
    },

    "source_manifest_pruned2" -> { (spark, dir) =>
      // TWO-predicate stats prune over the cow table's per-column
      // bounds (the r9 FileEntry generalization): files are admitted
      // only when BOTH the o_orderkey band and the o_custkey band
      // intersect their recorded stats — Wave108Spec asserts the
      // physical inputFiles are a strict subset. Rows re-filter
      // exactly, so the oracle is the plain two-predicate source
      // filter (orderkey band below the merge band).
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val mxC = orders.agg(max("o_custkey")).head().getLong(0)
      ManifestTable.readPruned(spark, root,
          ManifestTable.latestVersion(root), orders.schema, Seq(
            GreaterThanOrEqual("o_orderkey", mx / 10),
            LessThanOrEqual("o_orderkey", mx / 5),
            GreaterThanOrEqual("o_custkey", 0L),
            LessThanOrEqual("o_custkey", mxC / 2)))
        .orderBy("o_orderkey")
    },

    "manifest_upsert" -> { (spark, dir) =>
      // latest snapshot of the MERGE INTO lifecycle: one keyed upsert
      // whose update frame carried full-row replacements (bottom-
      // quarter %17 keys: status 'U', price +5.0) AND inserts (%23
      // keys shifted above max, status 'N'). The oracle restates the
      // merged state from the original parquet — equality proves the
      // matched/not-matched split, the full-row replace, and that
      // skipping stats-disjoint files lost nothing (the file-identity
      // half is Wave120Spec's plan-level assertion).
      val orders = Tables.table(spark, dir, "orders")
      val root = upsertRoot(spark, dir)
      ManifestTable.read(spark, root,
          ManifestTable.latestVersion(root), orders.schema)
        .orderBy("o_orderkey")
    },

    "source_manifest_v1api" -> { (spark, dir) =>
      // the manifest table read through Spark's STANDARD source API
      // (spark.read.format("graft-manifest"), registered by short name
      // via META-INF/services) — version-pinned to the pre-merge
      // snapshot, with a key-band filter that reaches the per-file
      // stats as file skipping (Wave126Spec asserts the admitted-file
      // counts). Pinned v1 = the source table verbatim, so the oracle
      // is the plain band filter.
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      spark.read.format("graft-manifest")
        .option("path", root.toString).option("version", "1").load()
        .filter(col("o_orderkey") >= mx / 20 && col("o_orderkey") <= mx / 10)
        .orderBy("o_orderkey")
    },

    "sink_manifest_v1api" -> { (spark, dir) =>
      // round-trip through the REGISTERED source API's write path:
      // orders written with df.write.format("graft-manifest") in two
      // halves (append mode, stats on o_orderkey — each append an
      // O(delta) commit), read back through spark.read with a pushed
      // band filter riding the written stats. Equality with the plain
      // band filter proves the SaveMode mapping committed exactly
      // once per write and the written stats compose with the read
      // path's file skipping (Wave126Spec asserts the skip itself).
      val orders = Tables.table(spark, dir, "orders")
      val root = freshSinkRoot(dir, tag = "v1w_")
      def w(df: DataFrame) = df.write.format("graft-manifest")
        .option("path", root.toString)
        .option("statsColumns", "o_orderkey").mode("append").save()
      w(orders.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")))
      w(orders.filter(col("o_orderkey") % 2 === 1)
        .repartitionByRange(2, col("o_orderkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      spark.read.format("graft-manifest").option("path", root.toString)
        .load()
        .filter(col("o_orderkey") >= mx / 10 && col("o_orderkey") <= mx / 5)
        .orderBy("o_orderkey")
    },

    "source_manifest_zorder" -> { (spark, dir) =>
      // 2-predicate stats-pruned read over the Z-ORDERED layout: after
      // the (o_orderkey, o_custkey) Morton rewrite each file's bands
      // are narrow in BOTH columns, so the conjunctive prune admits
      // roughly the product of the band fractions — Wave121Spec
      // asserts the admitted-file counts (z-layout beats the range
      // layout on the same predicate). Rows re-filter exactly, so the
      // oracle is the plain two-predicate source filter.
      val orders = Tables.table(spark, dir, "orders")
      val root = zorderRoot(spark, dir)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val mxC = orders.agg(max("o_custkey")).head().getLong(0)
      ManifestTable.readPruned(spark, root,
          ManifestTable.latestVersion(root), orders.schema, Seq(
            GreaterThanOrEqual("o_orderkey", mx / 8),
            LessThanOrEqual("o_orderkey", mx / 4),
            GreaterThanOrEqual("o_custkey", 0L),
            LessThanOrEqual("o_custkey", mxC / 4)))
        .orderBy("o_orderkey")
    },

    "source_manifest_pruned_str" -> { (spark, dir) =>
      // STRING-band stats prune (wave 132 — the format's long-only
      // stats gap closed): the lexicographic brand band
      // ['Brand#12','Brand#19'] admits only the files whose recorded
      // p_brand bounds intersect it — Wave132Spec asserts the physical
      // inputFiles are a strict subset of the live set. Rows re-filter
      // exactly, so the oracle is the plain string-band filter on the
      // source table (pure-ASCII values: binary order everywhere).
      val part = Tables.table(spark, dir, "part")
      val root = strRoot(spark, dir)
      ManifestTable.readPruned(spark, root,
          ManifestTable.latestVersion(root), part.schema, Seq(
            GreaterThanOrEqual("p_brand", "Brand#12"),
            LessThanOrEqual("p_brand", "Brand#19")))
        .orderBy("p_partkey")
    },

    "source_manifest_v1api_str" -> { (spark, dir) =>
      // the string-stats table read through the REGISTERED source API
      // with a brand EQUALITY filter: the V1 relation turns the pushed
      // string predicate into file skipping via the per-file string
      // bounds (wave 135 — Wave135Spec asserts the admitted-file
      // counts), and Spark re-applies the filter row-exactly, so the
      // oracle is the plain equality filter on the source table.
      val root = strRoot(spark, dir)
      spark.read.format("graft-manifest").option("path", root.toString)
        .load()
        .filter(col("p_brand") === "Brand#21")
        .orderBy("p_partkey")
    },

    "source_manifest_schema_evolution" -> { (spark, dir) =>
      // latest snapshot of the ADD COLUMN lifecycle read under ITS
      // recorded schema: v1's 3-column files null-fill the column v2
      // added, zero bytes rewritten — metadata-only evolution. The
      // oracle restates the null-fill from the original parquet.
      val root = evoRoot(spark, dir)
      ManifestTable.readEvolved(spark, root,
          ManifestTable.latestVersion(root))
        .orderBy("o_orderkey")
    },

    "source_manifest_colmap" -> { (spark, dir) =>
      // COLUMN MAPPING (wave 136): latest snapshot of the rename/drop
      // lifecycle read under its final logical schema (o_orderkey,
      // o_price, o_orderpriority) — pre-rename files alias their
      // physical o_totalprice to o_price, the post-rename append wrote
      // physical names via stageEvolved, and the dropped o_custkey is
      // projected away with zero bytes rewritten (Wave136Spec asserts
      // the files are untouched). The oracle restates all three
      // batches from the source table.
      val root = evo2Root(spark, dir)
      ManifestTable.readEvolved(spark, root,
          ManifestTable.latestVersion(root))
        .orderBy("o_orderkey")
    },

    "ivm_manifest_delta" -> { (spark, dir) =>
      // incremental VIEW maintenance off the manifest's file deltas:
      // the stored view (v1's per-priority count/revenue aggregate,
      // built once per fixture snapshot into the ArtifactCache — the
      // persisted materialized view) is refreshed to v2 by folding in
      // ONLY the appended files' rows via readIncremental — the base
      // data is never rescanned (Wave93Spec asserts the delta plan's
      // inputFiles). Works because count/sum are self-maintainable
      // under inserts; the oracle restates the refreshed view from the
      // source table.
      import graft.Canon
      val orders = Tables.table(spark, dir, "orders")
      val root = lifecycleRoot(spark, dir)
      def viewOf(df: DataFrame): DataFrame = df
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Canon.Dec)).as("rev"))
      val stored = ArtifactCache(spark, "mf_view_v1",
        Seq(s"$dir/orders.parquet")) {
        viewOf(ManifestTable.read(spark, root, 1, orders.schema))
      }
      val delta = viewOf(
        ManifestTable.readIncremental(spark, root, 1, 2, orders.schema))
      stored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(sum("n").as("n"), Canon.decRound4(sum("rev")).as("rev"))
        .orderBy("o_orderpriority")
    },

    "source_manifest_mor" -> { (spark, dir) =>
      // merge-on-READ deletes: v2 committed ONLY a deletion vector
      // (write cost = |deleted keys|, zero files rewritten —
      // Wave103Spec asserts the file identity); this read pays the
      // broadcast anti-join instead. The oracle restates the deletes
      // from the source table.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readMOR(spark, morRoot(spark, dir), 2,
          orders.schema, "o_orderkey")
        .orderBy("o_orderkey")
    },

    "ivm_manifest_cow_delta" -> { (spark, dir) =>
      // view maintenance ACROSS a copy-on-write merge — the case
      // ivm_manifest_delta's append-only guard refuses: the change set
      // is derived from the FILE diff (rows of the replacement files
      // minus rows of the replaced files — inserts, updates and
      // DELETES all land as one signed delta), so the refresh scans
      // only the merge band's files, never the table. The stored v1
      // view (ArtifactCache) plus signed partials per priority: count
      // via ±1, revenue via ±price — associative, so this is exactly
      // the ivm_retract algebra fed by CoW file lineage. Wave97Spec
      // asserts the refresh never touches a surviving file.
      import graft.Canon
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      val v1Files = ManifestTable.filesFor(root, 1).toSet
      val v2Files = ManifestTable.filesFor(root, 2).toSet
      def readFiles(fs: Set[String]): DataFrame =
        spark.read.schema(orders.schema).parquet(
          fs.toSeq.sorted.map(f =>
            root.resolve("data").resolve(f).toString): _*)
      def signed(df: DataFrame, sign: Int): DataFrame = df
        .groupBy("o_orderpriority")
        .agg((count(lit(1)) * sign).as("n"),
          (sum(col("o_totalprice").cast(Canon.Dec)) * sign).as("rev"))
      val stored = ArtifactCache(spark, "mf_cow_view_v1",
        Seq(s"$dir/orders.parquet")) {
        signed(ManifestTable.read(spark, root, 1, orders.schema), 1)
      }
      val adds = signed(readFiles(v2Files -- v1Files), 1)
      val dels = signed(readFiles(v1Files -- v2Files), -1)
      stored.unionByName(adds).unionByName(dels)
        .groupBy("o_orderpriority")
        .agg(sum("n").as("n"), Canon.decRound4(sum("rev")).as("rev"))
        .orderBy("o_orderpriority")
    },

    "source_manifest_mor_scoped" -> { (spark, dir) =>
      // POSITIONAL (file-scoped) deletion vectors — the real formats'
      // DV shape, closing the key-predicate form's re-insert edge:
      // v2 deleted the %13 keys as (key, src-file) pairs; v3
      // re-inserted the %13∧%3 subset in a NEW file. The scoped read
      // keeps the re-inserted rows alive while the originals stay
      // dead — a key-based DV would wrongly subtract both
      // (Wave117Spec proves the contrast directly).
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readMORScoped(spark, morScopedRoot(spark, dir), 3,
          orders.schema, "o_orderkey")
        .orderBy("o_orderkey")
    },

    "ivm_manifest_cdf" -> { (spark, dir) =>
      // view maintenance driven by the CHANGE FEED across the WHOLE
      // version chain — the general form that retires both special
      // cases: ivm_manifest_delta rides only append-only ranges
      // (readIncremental's guard) and ivm_manifest_cow_delta
      // hand-rolls one merge's file diff; this query folds
      // readChanges deltas v1→v2→v3 (append, then compaction) into
      // the stored v1 view with the ivm_retract signed algebra —
      // inserts +1/+price, deletes −1/−price. The compaction step
      // contributes ZERO rows by the feed's exceptAll cancellation,
      // so the refresh rides rewrites without rescanning anything
      // (Wave115Spec's empty-feed law is exactly what makes IVM
      // log-driven instead of rewrite-aware).
      import graft.Canon
      val orders = Tables.table(spark, dir, "orders")
      val root = lifecycleRoot(spark, dir)
      def signedChanges(from: Int, to: Int): DataFrame = {
        val ch = ManifestTable.readChanges(spark, root, from, to,
          orders.schema, "o_orderkey")
        val sign = when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)
        ch.groupBy("o_orderpriority")
          .agg(sum(sign).as("n"),
            sum(col("o_totalprice").cast(Canon.Dec) * sign).as("rev"))
      }
      val stored = ArtifactCache(spark, "mf_view_v1",
        Seq(s"$dir/orders.parquet")) {
        ManifestTable.read(spark, root, 1, orders.schema)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Canon.Dec)).as("rev"))
      }
      val last = ManifestTable.latestVersion(root)
      (2 to last).map(v => signedChanges(v - 1, v))
        .foldLeft(stored.select(col("o_orderpriority"),
          col("n").cast("long").as("n"), col("rev")))(
          (acc, d) => acc.unionByName(d))
        .groupBy("o_orderpriority")
        .agg(sum("n").as("n"), Canon.decRound4(sum("rev")).as("rev"))
        .orderBy("o_orderpriority")
    },

    "cdf_manifest" -> { (spark, dir) =>
      // row-level CHANGE DATA FEED across the copy-on-write merge —
      // the case the file-level readIncremental refuses: the v1→v2
      // feed derives from the merge's file lineage alone (removed ∪
      // rewritten files; Wave115Spec asserts the physical inputFiles
      // never touch a surviving file) and surfaces the update as
      // delete(old image) + insert(new image) pairs, the %19 band
      // deletes as bare deletes, and NOTHING for the untouched rows
      // that merely rode along in rewritten files (the exceptAll
      // cancellation). The oracle restates both images from the
      // source table.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readChanges(spark, cowRoot(spark, dir), 1, 2,
          orders.schema, "o_orderkey")
        .orderBy("o_orderkey", "_change_type")
    },

    "cdf_manifest_mor" -> { (spark, dir) =>
      // the change feed's DELETION-VECTOR path: v1→v2 of the MOR
      // lifecycle commits no file change at all (zero-body delta
      // manifest), so the feed is pure deletes — the surviving files'
      // rows killed by the new vector, surfaced via one broadcast
      // semi-join on the DV keys.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readChanges(spark, morRoot(spark, dir), 1, 2,
          orders.schema, "o_orderkey")
        .orderBy("o_orderkey")
    },

    "manifest_replicate" -> { (spark, dir) =>
      // CDC REPLICATION — the full consume-produce pipeline the
      // format's pieces were built for: source (the CoW lifecycle) →
      // change feed → transactional apply → mirror table. Bootstrap
      // copies v1 under batch id 1 (exactly-once ledger, stats-
      // carrying so later provenance scans prune); the v1→v2 delta
      // applies as (a) the feed's deletes as SCOPED vectors —
      // provenance resolved against the mirror's PRE-batch files —
      // then (b) the feed's inserts as batch-id-2 append. Order is
      // the point: an update's delete half can only scope to old
      // files, so its re-inserted image in the new file survives —
      // exactly why the positional DV form exists (a key-based apply
      // would erase the update's new image too). The declared result
      // reads the mirror back; equality with the merged-state oracle
      // proves the replication end to end. Cost rides the delta: the
      // feed reads only changed source files, the apply writes only
      // the sidecar + the insert batch.
      val orders = Tables.table(spark, dir, "orders")
      val src = cowRoot(spark, dir)
      val mirror = freshSinkRoot(dir, tag = "repl_")
      ManifestTable.commitBatch(
        ManifestTable.read(spark, src, 1, orders.schema)
          .repartitionByRange(4, col("o_orderkey")),
        mirror, batchId = 1L, statsKey = Some("o_orderkey"))
      val ch = ManifestTable.readChanges(spark, src, 1, 2,
        orders.schema, "o_orderkey")
      ManifestTable.deleteMORScoped(spark, mirror,
        ch.filter(col("_change_type") === "delete").select("o_orderkey"),
        "o_orderkey", orders.schema)
      ManifestTable.commitBatch(
        ch.filter(col("_change_type") === "insert").drop("_change_type"),
        mirror, batchId = 2L, statsKey = Some("o_orderkey"))
      ManifestTable.readMORScoped(spark, mirror,
          ManifestTable.latestVersion(mirror), orders.schema, "o_orderkey")
        .orderBy("o_orderkey")
    },


  ) ++ ManifestReadOps.queries ++ ManifestSqlOps.queries ++ ManifestR13Ops.queries


  def oracle: Map[String, String] = ManifestOracles.map
}
