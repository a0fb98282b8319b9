package graft.operators

import java.nio.file.Files

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The READ-SURFACE half of the manifest declared queries (round 13 —
  * split discipline, r12-VERDICT task 8: ManifestQueries.scala had
  * regrown past 1,500 lines). Everything here consumes an
  * already-built fixture root through a READ path — the streaming
  * source/sink trio, the catalog SQL read/write pair, hidden
  * partitioning, positional MOR, the bloom point-read pair, the
  * multi-table transaction read-backs, and the typed-stats pruning
  * family. Fixture builders stay on [[ManifestOps]] (same package
  * access); oracles stay in [[ManifestOracles]]. Zero hash drift:
  * same keys, same builders, proven by the 3-SF sweep.
  */
private[graft] object ManifestReadOps {
  import ManifestOps._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "stream_manifest_source" -> { (spark, dir) =>
      // Structured Streaming FROM the manifest format through the
      // REGISTERED source (round 10 — r9-VERDICT task 3; until round
      // 9 this was a replay-directory harness): offsets are commit
      // versions, each micro-batch one readIncremental file delta,
      // and maxVersionsPerTrigger=1 makes each COMMIT of the v1..v4
      // chain one micro-batch under Trigger.AvailableNow — the
      // SupportsTriggerAvailableNow pacing Wave144Spec asserts on
      // real micro-batch execution (4 batches, none empty, offsets =
      // versions). The stateful Complete-mode aggregate over the
      // stream must equal the batch aggregate over the table's latest
      // snapshot — the oracle restates it from the source table.
      import graft.Canon
      val root = streamSrcRoot(spark, dir)
      val st = spark.readStream.format("graft-manifest")
        .option("path", root.toString)
        .option("maxVersionsPerTrigger", "1")
        .load()
      val agg = st.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Canon.Dec)).as("rev0"))
        .select(col("o_orderpriority"), col("n"),
          Canon.decRound4(col("rev0")).as("rev"))
      Streaming.runToMemory(spark, agg,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("o_orderpriority")
    },

    "stream_manifest_sink" -> { (spark, dir) =>
      // Structured Streaming INTO the manifest format: each micro-batch
      // (3 deterministic ones via the shared 3-file replay) is one
      // atomic snapshot commit carrying its batch id; a replayed batch
      // — foreachBatch's at-least-once delivery contract — hits the
      // manifest's batch ledger and no-ops, the transactional-sink
      // half of exactly-once. The declared result is the final table
      // read back through the protocol; equality with the batch events
      // oracle proves no batch was lost OR double-committed. No
      // watermark: the sink appends raw rows, so even the c_late
      // straggler file lands (contrast stream_late_drop, where the
      // stateful operator evicts it).
      val root = freshSinkRoot(dir)
      val st = Streaming.lateReplayStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      Streaming.awaitStream(spark)(st.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          ManifestTable.commitBatch(b, root, id): Unit)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      ManifestTable.read(spark, root,
          ManifestTable.latestVersion(root), StructType(st.schema.fields))
        .orderBy("event_id")
    },

    "stream_manifest_sink_registered" -> { (spark, dir) =>
      // the same exactly-once contract as stream_manifest_sink, but
      // through the REGISTERED sink (round 11 — r10-VERDICT task 3):
      // `writeStream.format("graft-manifest")` — addBatch IS the
      // ledger-idempotent commitBatch, no foreachBatch harness, and
      // the staged files carry event_id stats so the streamed table
      // composes with the stats consumers. Equality with the batch
      // events oracle proves no batch lost or double-committed
      // (Wave154Spec proves the replay no-op and restart paths).
      val base = freshSinkRoot(dir, tag = "regsink_")
      val root = base.resolve("t")
      Files.createDirectories(root)
      val st = Streaming.lateReplayStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      Streaming.awaitStream(spark)(st.writeStream.format("graft-manifest")
        .option("path", root.toString)
        .option("statsColumns", "event_id")
        .option("checkpointLocation", base.resolve("_ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      ManifestTable.read(spark, root,
          ManifestTable.latestVersion(root), StructType(st.schema.fields))
        .orderBy("event_id")
    },

    "source_manifest_v2api" -> { (spark, dir) =>
      // the manifest table consumed through the DataSourceV2 CATALOG
      // in PLAIN SQL (round 10 — r9-VERDICT task 1): the TableCatalog
      // plugin resolves the identifier to the table directory,
      // `VERSION AS OF 1` pins the pre-merge snapshot through the V2
      // time-travel loadTable hook, and the pushed key band reaches
      // the per-file stats as file skipping through the V2
      // ScanBuilder → V1Scan bridge (Wave142Spec asserts the admitted
      // set equals readPruned's). Pinned v1 = the source table
      // verbatim, so the oracle is the plain band filter.
      val orders = Tables.table(spark, dir, "orders")
      val root = cowRoot(spark, dir)
      val cat = ManifestSqlOps.sqlCatalog(spark)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${ManifestSqlOps.sqlIdent(root)} VERSION AS OF 1
           |WHERE o_orderkey >= ${mx / 6} AND o_orderkey <= ${mx / 3}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "sink_manifest_v2sql" -> { (spark, dir) =>
      // the full SQL write lifecycle through the catalog: CREATE
      // TABLE … USING graft-manifest (the v1 schema commit) with
      // statsColumns as a TABLE PROPERTY, two INSERT INTO halves
      // (each an O(delta) append commit whose staged files carry
      // per-file key stats — SQL writes compose with the stats
      // consumers without per-write options), then a band SELECT
      // whose pushed filter rides those written stats. Equality with
      // the plain band filter proves exactly-once commits per INSERT.
      val orders = Tables.table(spark, dir, "orders")
      val root = freshSinkRoot(dir, tag = "v2sql_")
      val cat = ManifestSqlOps.sqlCatalog(spark)
      val ident = s"$cat.${ManifestSqlOps.sqlIdent(root)}"
      spark.sql(s"CREATE TABLE $ident (${orders.schema.toDDL}) " +
        "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'o_orderkey')")
      orders.createOrReplaceTempView("orders_v2sql_src")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_v2sql_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_v2sql_src WHERE o_orderkey % 2 = 1")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $ident
           |WHERE o_orderkey >= ${mx / 8} AND o_orderkey <= ${mx / 4}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "source_manifest_hidden_partition" -> { (spark, dir) =>
      // HIDDEN PARTITIONING through the registered source: the table
      // is laid out by bucket(16, o_custkey) and carries NO plain
      // custkey stats, yet a plain `o_custkey = k` filter skips
      // files — the source derives the virtual bucket band from the
      // recorded ptrans meta at plan time (Wave147Spec asserts the
      // admitted-file count; this query asserts exactness). The user
      // never names the layout: that is the "hidden" in hidden
      // partitioning.
      val orders = Tables.table(spark, dir, "orders")
      val root = hiddenRoot(spark, dir)
      val ck = orders.agg(min("o_custkey")).head().getLong(0)
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("o_custkey") === ck)
        .orderBy("o_orderkey")
    },


    "source_manifest_hidden_days" -> { (spark, dir) =>
      // time-based hidden partitioning — the canonical lakehouse
      // layout: events laid by days(ts_us), a one-calendar-day
      // predicate (day 4 of the ~30-day fixture) admits 1-2 of 16
      // files through the derived day band (Wave147Spec proves the
      // derivation; this query proves exactness through the
      // registered source on the time shape).
      val events = Tables.table(spark, dir, "events")
      val root = hiddenDaysRoot(spark, dir)
      val day = 86400000000L
      val t0 = events.agg(min(Tables.tsUsCol(events))).head().getLong(0)
      val lo = (t0 / day + 3) * day
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("ts_us") >= lo && col("ts_us") <= lo + day - 1)
        .orderBy("event_id")
    },

    "source_manifest_mor_positional" -> { (spark, dir) =>
      // ROW-POSITION deletion vectors (the real formats' bitmap
      // granularity): a duplicate file's %3 rows die by (file,
      // row_index) while the identical originals in the base files
      // survive — key-based and key-scoped vectors cannot express
      // this state at all (Wave146Spec proves the one-of-two-copies
      // contrast directly). The registered source takes the same
      // branch, so spark.read sees the subtracted view too.
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.readMORPositional(spark,
          morPositionalRoot(spark, dir), 3, orders.schema)
        .orderBy("o_orderkey")
    },


    "source_manifest_bloom" -> { (spark, dir) =>
      // point reads through the BLOOM index (round 11, wave 160): the
      // key-laid table's custkey bands admit every file, so the skip
      // is entirely the bloom's; results over a fixed probe set equal
      // the plain equality filters (no false negatives by
      // construction — a bitset only ever says "definitely absent").
      // Probes: 5 deterministic keys from an agg(min,max) ladder —
      // lo + floor(i*(hi-lo)/5) — O(1) driver state (round 13,
      // r12-VERDICT task 3; the old shape collected EVERY distinct
      // custkey to pick 5). A probe that misses the domain's holes
      // returns zero rows on both sides — still exact, and an absent
      // key is the bloom's best case (every file skipped).
      val orders = Tables.table(spark, dir, "orders")
      val root = bloomRoot(spark, dir)
      val b = orders.agg(min("o_custkey"), max("o_custkey")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val probes = (0L until 5L).map(i => lo + (i * (hi - lo)) / 5).distinct
      probes.map(ck =>
          ManifestTable.readPruned(spark, root, 2, orders.schema,
            Seq(org.apache.spark.sql.sources.EqualTo("o_custkey", ck))))
        .reduce(_ unionByName _)
        .orderBy("o_custkey", "o_orderkey")
    },

    "source_manifest_bloom_sql" -> { (spark, dir) =>
      // the bloom skip through the REGISTERED read path (round 12 —
      // r11-VERDICT task 1; round 11 had the index but only the
      // dedicated reader consulted it): the same 5 probes as
      // source_manifest_bloom, each a plain spark.read equality
      // filter — the V1 relation's admission now composes bands AND
      // bitsets, so a point predicate on the scattered custkey column
      // physically skips files no min/max band could (Wave164Spec
      // asserts the admitted set shrinks below the band admit on both
      // the V1 and the native V2 path).
      val orders = Tables.table(spark, dir, "orders")
      val root = bloomRoot(spark, dir)
      // the same agg(min,max) probe ladder as source_manifest_bloom —
      // O(1) driver state, zero collects (round 13)
      val b = orders.agg(min("o_custkey"), max("o_custkey")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val probes = (0L until 5L).map(i => lo + (i * (hi - lo)) / 5).distinct
      val t = spark.read.format("graft-manifest")
        .option("path", root.toString).load()
      probes.map(ck => t.filter(col("o_custkey") === ck))
        .reduce(_ unionByName _)
        .orderBy("o_custkey", "o_orderkey")
    },

    "sink_manifest_evolve_insert" -> { (spark, dir) =>
      // mergeSchema INSERT evolution (round 11 — r10-VERDICT task 7):
      // v1 writes even keys under 3 columns, v2 appends odd keys
      // carrying a NEW o_bucket column with mergeSchema=true — the
      // append commit itself widens the logical schema, old files
      // null-fill under the evolved read, zero bytes rewritten
      // (Wave159Spec proves the loud no-option failure and the
      // no-narrowing rule).
      val orders = Tables.table(spark, dir, "orders")
      val base = freshSinkRoot(dir, tag = "evo_")
      val root = base.resolve("t")
      Files.createDirectories(root)
      val slim = orders.select("o_orderkey", "o_custkey", "o_totalprice")
      slim.filter(col("o_orderkey") % 2 === 0)
        .write.format("graft-manifest").option("path", root.toString)
        .option("statsColumns", "o_orderkey").mode("append").save()
      slim.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_bucket", col("o_orderkey") % 10)
        .write.format("graft-manifest").option("path", root.toString)
        .option("statsColumns", "o_orderkey")
        .option("mergeSchema", "true").mode("append").save()
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .orderBy("o_orderkey")
    },

    "manifest_multi_table_txn" -> { (spark, dir) =>
      // ONE atomic commit spanning two tables (round 11 — r10-VERDICT
      // task 6): the declared result is the post-txn composition —
      // the full orders table from table A plus the top-half audit
      // copy from table B. Equality with the oracle proves the
      // transaction landed whole on both participants; Wave158Spec
      // proves the all-or-nothing half by crashing mid-publish.
      val (a, b) = multiTxnRoot(spark, dir)
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.read(spark, a, 2, orders.schema)
        .withColumn("src", lit("orders"))
        .unionByName(ManifestTable.read(spark, b, 2, orders.schema)
          .withColumn("src", lit("audit")))
        .select(col("src"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("src", "o_orderkey")
    },

    "manifest_txn_cow" -> { (spark, dir) =>
      // one atomic transaction mixing a COPY-ON-WRITE rewrite (table
      // A's bottom-quarter band re-priced, touched files removed +
      // replacements added) with an append (table B's audit copy) —
      // round 12, r11-VERDICT task 4. The declared result composes
      // both post-txn tables; oracle equality proves the rewrite and
      // the audit landed as one unit.
      val (a, b) = cowTxnRoot(spark, dir)
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.read(spark, a, 2, orders.schema)
        .withColumn("src", lit("orders"))
        .unionByName(ManifestTable.read(spark, b, 2, orders.schema)
          .withColumn("src", lit("audit")))
        .select(col("src"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("src", "o_orderkey")
    },


    "source_manifest_pruned_double" -> { (spark, dir) =>
      // a PRICE-band predicate prunes through the per-file DOUBLE
      // bounds (round 11 — r10-VERDICT task 4): the price-laid table
      // admits ~1/8 of its files for a one-band filter, and the exact
      // predicate re-applies row-exactly, so the result is the plain
      // band filter (Wave155Spec asserts the file skip physically
      // happened).
      val root = dblStatsRoot(spark, dir)
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("o_totalprice") >= 50000.0 &&
          col("o_totalprice") <= 80000.0)
        .orderBy("o_orderkey", "o_totalprice")
    },

    "source_manifest_pruned_decimal" -> { (spark, dir) =>
      // a DECIMAL-literal band prunes through scale-exact decimal
      // bounds (round 11, wave 161 — the last numeric type without
      // stats): the price-laid table admits ~1/8 of its files, the
      // exact predicate re-applies row-exactly.
      val root = decStatsRoot(spark, dir)
      val lo = new java.math.BigDecimal("50000.00")
      val hi = new java.math.BigDecimal("80000.00")
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("o_price_dec") >= lit(lo) &&
          col("o_price_dec") <= lit(hi))
        // output converts to DOUBLE (the Canon compare convention —
        // DuckDB's client surfaces DECIMAL as float64); the decimal
        // type lives in the filter, the stats, and the pushdown
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_price_dec").cast("double").as("o_price"))
        .orderBy("o_orderkey")
    },

    "source_manifest_pruned_binary" -> { (spark, dir) =>
      // a BINARY range predicate prunes through truncated-prefix
      // bounds (round 12 — the digest/media-blob column case): the
      // digest-laid table admits ~1/8 of its files for a one-sided
      // byte band, the exact predicate re-applies row-exactly. Output
      // carries the digest as hex (the comparable cross-engine form);
      // the binary type lives in the filter, the stats, the pushdown.
      val root = binStatsRoot(spark, dir)
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("blob") < lit(Array[Byte](0x28.toByte)))
        .select(col("doc_id"), col("n_chars"),
          hex(col("blob")).as("blob_hex"))
        .orderBy("doc_id")
    },

    "source_manifest_pruned_ts" -> { (spark, dir) =>
      // a TIMESTAMP-literal band prunes through µs-long bounds: the
      // time-laid events table admits only the files whose recorded
      // micros band intersects day 3..4 of the fixture; output
      // converts back to epoch micros so the oracle compares
      // zone-free.
      val events = Tables.table(spark, dir, "events")
      val root = tsStatsRoot(spark, dir)
      val day = 86400000000L
      val t0 = events.agg(min(Tables.tsUsCol(events))).head().getLong(0)
      val lo = (t0 / day + 3) * day
      spark.read.format("graft-manifest")
        .option("path", root.toString).load()
        .filter(col("ts") >= timestamp_micros(lit(lo)) &&
          col("ts") <= timestamp_micros(lit(lo + day - 1)))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    },


  )
}
