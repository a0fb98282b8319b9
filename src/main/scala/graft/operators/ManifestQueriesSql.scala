package graft.operators

import java.nio.file.{Files, Path, Paths}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SQL-DRIVEN half of the manifest declared queries (round 12 —
  * r11-VERDICT task 7: ManifestQueries.scala had grown past 1,900
  * lines; the catalog/parser-driven lifecycles live here now, with
  * zero hash drift — same keys, same builders, proven by the 3-SF
  * sweep). Everything statement-shaped is in this object: MERGE /
  * UPDATE / DELETE lifecycles, the maintenance + CALL procedure
  * stories, the hidden-partitioning DDL pipeline, and the
  * catalog-riding native-scan twins. Shared fixture roots
  * (lifecycle/mor/evolution) stay on [[ManifestOps]]; oracles stay in
  * [[ManifestOracles]].
  */
private[graft] object ManifestSqlOps {

  /** SQL MERGE lifecycle (round 10 — r9-VERDICT task 2): the EXACT
    * [[upsertRoot]] update/insert sets, but driven by a `MERGE INTO …
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    * statement planned by [[graft.plans.ManifestDmlStrategy]] onto
    * [[ManifestTable.upsert]]. Same oracle as manifest_upsert —
    * equality proves the SQL surface is the programmatic op.
    */
  private[graft] def sqlMergeRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_sqlmerge",
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
      val ins = orders
        .filter(col("o_orderkey") % 23 === 0 && col("o_orderkey") > 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mx))
        .withColumn("o_orderstatus", lit("N"))
      upd.unionByName(ins).createOrReplaceTempView("manifest_sqlmerge_src")
      org.apache.spark.sql.graft.bridge.addStrategy(spark,
        graft.plans.ManifestDmlStrategy)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""MERGE INTO $cat.${sqlIdent(root)} t
           |USING manifest_sqlmerge_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v2 = ManifestTable.latestVersion(root)
      require(v1 == 1 && v2 == 2,
        s"SQL MERGE lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** SQL UPDATE + DELETE lifecycle: v1 = orders range-laid by
    * o_orderkey (8 stats-carrying files); v2 = `UPDATE … WHERE` a
    * bottom-quarter band (priority replaced, price +1.0 — CoW through
    * [[ManifestTable.updateWhereCoW]], only band-admitted files
    * rewritten); v3 = `DELETE FROM … WHERE` a top-quarter band
    * (SupportsDelete → [[ManifestTable.deleteWhereCoW]]). Both
    * statements are plain SQL through the V2 catalog.
    */
  private[graft] def sqlDmlRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_sqldml",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      org.apache.spark.sql.graft.bridge.addStrategy(spark,
        graft.plans.ManifestDmlStrategy)
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      spark.sql(s"UPDATE $ident SET o_orderpriority = 'X-SQL', " +
        s"o_totalprice = o_totalprice + 1.0 " +
        s"WHERE o_orderkey % 5 = 0 AND o_orderkey < ${mx / 4}")
      spark.sql(s"DELETE FROM $ident " +
        s"WHERE o_orderkey >= ${3 * (mx / 4)} AND o_orderstatus = 'F'")
      val v3 = ManifestTable.latestVersion(root)
      require(v1 == 1 && v3 == 3,
        s"SQL DML lifecycle built versions ($v1,…,$v3), expected (1,2,3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** SQL MAINTENANCE lifecycle (round 11 — r10-VERDICT task 5): the
    * whole small-file story in plain SQL — v1 = orders as 16
    * deliberately-small files; `OPTIMIZE` bin-packs them (CoW, the
    * big-file survivors verbatim); `OPTIMIZE … ZORDER BY (o_orderkey,
    * o_custkey)` re-clusters on the Morton interleave; `VACUUM …
    * RETAIN 0 HOURS` sweeps the replaced files (0 h is safe here: a
    * single-process cache build, the documented test-only retention).
    * All three run through [[graft.plans.GraftSql]] — the same parser
    * an `injectParser` session gets. The declared result reads the
    * table back; equality with the plain orders oracle proves the
    * maintenance cycle lost and duplicated nothing.
    */
  private[graft] def maintenanceRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_maint",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(16, col("o_orderkey")),
        root, "base", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      graft.sources.ManifestV2Table.writeProps(root,
        Map("statsColumns" -> "o_orderkey"))
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      val v2 = graft.plans.GraftSql.sql(spark, s"OPTIMIZE $ident")
        .head().getLong(0)
      val v3 = graft.plans.GraftSql.sql(spark,
        s"OPTIMIZE $ident ZORDER BY (o_orderkey, o_custkey)")
        .head().getLong(0)
      val swept = graft.plans.GraftSql.sql(spark,
        s"VACUUM $ident RETAIN 0 HOURS").count()
      require(v1 == 1 && v2 == 2 && v3 == 3 && swept > 0,
        s"maintenance lifecycle built ($v1,$v2,$v3), swept $swept")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** CALL-procedure lifecycle (round 12 — r11-VERDICT task 5): the
    * whole maintenance story driven by `CALL <cat>.system.<proc>(…)`
    * statements through [[graft.plans.GraftSql]] — src gets two full
    * checkpoints (evens, then the whole table), a CALL-built bloom
    * index, and a CALL expiry truncating its log below the index
    * commit; dst is CALL-replicated from src's latest logical view.
    * The declared result reads the REPLICA — equality with the plain
    * orders oracle proves all three procedures composed losslessly
    * (Wave168Spec asserts the per-procedure mechanics and the loud
    * unknown-procedure contract).
    */
  private[graft] def callRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_call",
      Seq(s"$dir/orders.parquet")) { staging =>
      val base = Paths.get(staging)
      val (src, dst) = (base.resolve("src"), base.resolve("dst"))
      Files.createDirectories(src); Files.createDirectories(dst)
      val orders = Tables.table(spark, dir, "orders")
      ManifestTable.commit(src, ManifestTable.stage(
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")),
        src, "evens", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      ManifestTable.commit(src, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        src, "full", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      ManifestTable.commit(dst, Nil,
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val cat = sqlCatalog(spark)
      val (si, di) = (s"$cat.${sqlIdent(src)}", s"$cat.${sqlIdent(dst)}")
      val v3 = graft.plans.GraftSql.sql(spark,
        s"CALL $cat.system.build_bloom_index($si, 'o_custkey')")
        .head().getString(0).toInt
      val dv = graft.plans.GraftSql.sql(spark,
        s"CALL $cat.system.replicate($si, $di)")
        .head().getString(0).toInt
      val expired = graft.plans.GraftSql.sql(spark,
        s"CALL $cat.system.expire_manifests($si, 3)").count()
      require(v3 == 3 && dv == 2 && expired >= 1,
        s"CALL lifecycle built (v3=$v3, dv=$dv, expired=$expired)")
      Files.createFile(base.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** Runtime-filter (DPP) fact lifecycle (round 11 — r10-VERDICT task
    * 2): orders range-laid BY CUSTOMER into 16 files with o_custkey
    * bands, so a dim-side filter's surviving join keys can re-prune
    * the fact's admitted files at RUNTIME through
    * [[graft.sources.ManifestRuntimeScan.filter]] — the 100 TB
    * star-join feature (Wave156Spec asserts the post-runtime admitted
    * set shrinks below the static admit).
    */
  private[graft] def runtimeFactRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_rtfact",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(16, col("o_custkey")),
        root, "base", Seq("o_custkey", "o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      require(v1 == 1, s"runtime-fact lifecycle built v$v1, expected 1")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** GENERAL-shape SQL MERGE lifecycle (round 11 — r10-VERDICT task
    * 1): v1 = orders range-laid into 8 stats-carrying files; v2 = ONE
    * `MERGE INTO` statement mixing every clause kind the round-10
    * upsert shape could not express — a CONDITIONAL partial-column
    * UPDATE (price bumped and status 'M' only where the source image
    * exceeds a threshold), a fall-through DELETE for the rest of the
    * matched rows (first-true-wins clause order), and a CONDITIONAL
    * INSERT (only even shifted keys land). Planned by
    * [[graft.plans.ManifestDmlStrategy]] onto
    * [[ManifestTable.mergeRewrite]]: touched files are the
    * stats-banded intersection with the source keys, everything else
    * rides the delta commit (Wave153Spec asserts survivor paths and
    * the API-twin row identity).
    */
  private[graft] def sqlMergeMixedRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_sqlmixed",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      // matched candidates: %13 keys in the bottom half, price+10
      // images; insert candidates: %29 keys shifted above max
      val upd = orders
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") < mx / 2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0d))
      val ins = orders
        .filter(col("o_orderkey") % 29 === 0 && col("o_orderkey") > 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mx))
      upd.unionByName(ins)
        .createOrReplaceTempView("manifest_sqlmixed_src")
      org.apache.spark.sql.graft.bridge.addStrategy(spark,
        graft.plans.ManifestDmlStrategy)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""MERGE INTO $cat.${sqlIdent(root)} t
           |USING manifest_sqlmixed_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_totalprice > 50000.0 THEN
           |  UPDATE SET o_totalprice = s.o_totalprice + 1.0,
           |             o_orderstatus = 'M'
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND s.o_orderkey % 2 = 0 THEN INSERT *"""
          .stripMargin)
      val v2 = ManifestTable.latestVersion(root)
      require(v1 == 1 && v2 == 2,
        s"mixed-MERGE lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** NOT MATCHED BY SOURCE lifecycle (round 11): the "sync target to
    * source" MERGE shape — matched rows take the source price image,
    * target rows ABSENT from the source are deleted, so the post-MERGE
    * table IS the source band. NMBS is definitionally full-table (any
    * file may hold a not-matched row), so the touched set widens to
    * every live file — the documented Delta-equivalent cost shape.
    */
  private[graft] def sqlMergeNmbsRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_sqlnmbs",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      orders.filter(col("o_orderkey") < mx / 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(2.0d))
        .createOrReplaceTempView("manifest_sqlnmbs_src")
      org.apache.spark.sql.graft.bridge.addStrategy(spark,
        graft.plans.ManifestDmlStrategy)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""MERGE INTO $cat.${sqlIdent(root)} t
           |USING manifest_sqlnmbs_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      val v2 = ManifestTable.latestVersion(root)
      require(v1 == 1 && v2 == 2,
        s"NMBS lifecycle built versions ($v1,$v2), expected (1,2)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** RESTORE lifecycle (round 12): v1 = orders range-laid into 8
    * stats-carrying files; v2 = a SQL DELETE CoW-removing the bottom
    * quarter; v3 = `RESTORE TABLE … TO VERSION AS OF 1` undoing it as
    * ONE new checkpoint commit — history preserved (v2 still
    * time-travels to the deleted state; Wave172Spec asserts that, the
    * DV/colmap state restoration, and the vacuumed-target loud
    * failure). The read-back equals the source table.
    */
  private[graft] def restoreRoot(spark: SparkSession, dir: String): Path = {
    val out = ArtifactCache.path("manifest_orders_restore",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(8, col("o_orderkey")),
        root, "base", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      spark.sql(s"DELETE FROM $ident WHERE o_orderkey < ${mx / 4}")
      val v3 = graft.plans.GraftSql.sql(spark,
        s"RESTORE TABLE $ident TO VERSION AS OF 1")
        .head().getString(0).toInt
      require(v1 == 1 && v3 == 3,
        s"restore lifecycle built (v1=$v1, v3=$v3), expected (1, 3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** compact_mor CALL lifecycle (round 12): v1 = orders range-laid
    * into 4 stats-carrying files; v2 = a key-vector MOR delete of the
    * %13 keys (zero files rewritten); v3 = `CALL
    * gm.system.compact_mor(t, 'o_orderkey', 4)` materializing the
    * subtracted view and clearing the vectors (Wave175Spec asserts
    * the vector lists empty and the positional/scoped dispatch).
    */
  private[graft] def compactMorRoot(spark: SparkSession, dir: String)
      : Path = {
    val out = ArtifactCache.path("manifest_orders_cmor",
      Seq(s"$dir/orders.parquet")) { staging =>
      val root = Paths.get(staging)
      Files.createDirectories(root)
      val orders = Tables.table(spark, dir, "orders")
      val v1 = ManifestTable.commit(root, ManifestTable.stage(
        orders.repartitionByRange(4, col("o_orderkey")),
        root, "base", Seq("o_orderkey")),
        s"schema=${ManifestTable.schemaMeta(orders.schema)}")
      val v2 = ManifestTable.deleteMOR(root,
        orders.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"))
      val cat = sqlCatalog(spark)
      val v3 = graft.plans.GraftSql.sql(spark,
        s"CALL $cat.system.compact_mor($cat.${sqlIdent(root)}, " +
        "'o_orderkey', 4)").head().getString(0).toInt
      require(v1 == 1 && v2 == 2 && v3 == 3 &&
        ManifestTable.dvsFor(root, 3).isEmpty,
        s"compact_mor lifecycle built ($v1,$v2,$v3)")
      Files.createFile(root.resolve("_SUCCESS")): Unit
    }
    Paths.get(out)
  }

  /** STORAGE-PARTITIONED-JOIN lifecycle (round 12 — the shuffle
    * eliminator real formats ship): orders bucketed by o_custkey(16)
    * and customer by c_custkey(16), both laid via the SQL
    * PARTITIONED BY path — every file bucket-exact, so the scans
    * report KeyGroupedPartitioning and the fact⋈dim join plans ZERO
    * exchanges (Wave176Spec asserts the shuffle-free plan; the
    * declared query proves result exactness through it).
    */
  private[graft] def spjRoot(spark: SparkSession, dir: String)
      : (Path, Path) = {
    val out = ArtifactCache.path("manifest_spj",
      Seq(s"$dir/orders.parquet")) { staging =>
      val base = Paths.get(staging)
      val (a, b) = (base.resolve("a"), base.resolve("b"))
      Files.createDirectories(a); Files.createDirectories(b)
      val orders = Tables.table(spark, dir, "orders")
      val customer = Tables.table(spark, dir, "customer")
      val cat = sqlCatalog(spark)
      ManifestOps.deleteTree(a); ManifestOps.deleteTree(b)
      spark.sql(s"CREATE TABLE $cat.${sqlIdent(a)} " +
        s"(${orders.schema.toDDL}) USING `graft-manifest` " +
        "PARTITIONED BY (bucket(16, o_custkey))")
      spark.sql(s"CREATE TABLE $cat.${sqlIdent(b)} " +
        s"(${customer.schema.toDDL}) USING `graft-manifest` " +
        "PARTITIONED BY (bucket(16, c_custkey))")
      orders.createOrReplaceTempView("spj_orders_src")
      customer.createOrReplaceTempView("spj_customer_src")
      spark.sql(s"INSERT INTO $cat.${sqlIdent(a)} " +
        "SELECT * FROM spj_orders_src")
      spark.sql(s"INSERT INTO $cat.${sqlIdent(b)} " +
        "SELECT * FROM spj_customer_src")
      Files.createFile(base.resolve("_SUCCESS")): Unit
    }
    (Paths.get(out).resolve("a"), Paths.get(out).resolve("b"))
  }

  /** The days()-laid SPJ fixture (round 13 — r12-VERDICT task 7): two
    * event-derived tables PARTITIONED BY (days(day_us)) where `day_us`
    * is the event timestamp floored to its UTC day in epoch micros —
    * day-aligned so the join key IS the partition source column. The
    * fact table carries every event row; the dim table is the per-day
    * count. Both INSERTs ride the wave-183 native distributed write,
    * whose range-clustering makes every committed file day-exact —
    * the precondition key-grouped planning needs. `writeFiles=128`
    * keeps partitions ≥ distinct days at every SF (a target below the
    * day count would straddle files and SPJ would degrade — safely,
    * but the query exists to prove the co-located plan).
    */

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "join_manifest_spj" -> { (spark, dir) =>
      // the STORAGE-PARTITIONED join (round 12): two tables bucketed
      // on their join key by the SAME catalog transform co-locate at
      // plan time — the join itself plans zero exchanges (Wave176Spec
      // asserts the plan; this query proves the rows). Money sums in
      // exact decimal (the Canon convention), so the shuffle-free
      // execution order cannot perturb the result. The SPJ conf is
      // opt-in because key-grouped planning CAPS a plain scan's
      // parallelism at numBuckets (wave 177) — so it is scoped to
      // THIS query's execution with the try/finally restore and the
      // result materialized inside the scope (round 13 — r12-VERDICT
      // task 2; the old leak re-enabled group-granular planning for
      // every later bucket-table query in the session).
      val (a, b) = spjRoot(spark, dir)
      val cat = sqlCatalog(spark)
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        val df = spark.sql(
          s"""SELECT c.c_mktsegment,
             |  count(*) AS n,
             |  CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 4)
             |    AS DOUBLE) AS rev
             |FROM $cat.${sqlIdent(a)} o
             |JOIN $cat.${sqlIdent(b)} c ON o.o_custkey = c.c_custkey
             |GROUP BY c.c_mktsegment
             |ORDER BY c.c_mktsegment""".stripMargin)
        // eager: the grouped result is O(|segments|) rows; the lazy
        // frame would otherwise execute AFTER the finally restored
        // the conf, losing the co-located plan this query declares
        spark.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
          .orderBy("c_mktsegment")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    },

    "manifest_sql_restore" -> { (spark, dir) =>
      // `RESTORE TABLE … TO VERSION AS OF 1` (round 12 — Delta's
      // statement, Iceberg's rollback) undoes a CoW DELETE as one new
      // checkpoint: the read-back IS the source table, and the undone
      // version stays time-travelable (a rollback is a commit, never
      // a log rewrite).
      val root = restoreRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "sink_manifest_hidden_sql" -> { (spark, dir) =>
      // the FULL SQL hidden-partitioning lifecycle (wave 151,
      // composing the catalog with the ptrans layout): CREATE TABLE …
      // PARTITIONED BY (bucket(16, o_custkey)) records the transform,
      // two plain INSERT INTO halves lay their files out by bucket
      // with virtual per-file stats, and the final equality SELECT
      // prunes through the derived band with zero user knowledge of
      // the layout (Wave151Spec asserts the admitted-file counter).
      val orders = Tables.table(spark, dir, "orders")
      val root = ManifestOps.freshSinkRoot(dir, tag = "hsql_")
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      // freshSinkRoot pre-creates the dir; the catalog CREATE owns it
      ManifestOps.deleteTree(root)
      spark.sql(s"CREATE TABLE $ident (${orders.schema.toDDL}) " +
        "USING `graft-manifest` PARTITIONED BY (bucket(16, o_custkey))")
      orders.createOrReplaceTempView("orders_hsql_src")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_hsql_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_hsql_src WHERE o_orderkey % 2 = 1")
      val ck = orders.agg(min("o_custkey")).head().getLong(0)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $ident WHERE o_custkey = $ck
           |ORDER BY o_orderkey""".stripMargin)
    },

    "source_manifest_mor_native" -> { (spark, dir) =>
      // the key-DV snapshot through the NATIVE V2 scan (round 12 —
      // r11-VERDICT task 3; until now DV states fell back to the V1
      // bridge): the subtraction runs in a row-level reader wrapper
      // under BatchScanExec — Wave166Spec plan-asserts the scan class
      // and the DPP composition — while file-level stats/bloom
      // admission stays on (readMOR could not prune at all). The
      // oracle is source_manifest_mor's verbatim: equality proves the
      // wrapper IS the anti-join.
      val root = ManifestOps.morRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)} VERSION AS OF 2
           |ORDER BY o_orderkey""".stripMargin)
    },

    "source_manifest_mor_positional_native" -> { (spark, dir) =>
      // row-position vectors through the NATIVE scan: one partition
      // per file (offset-ordered splits) gives the reader exact
      // per-file row indexes, and the wrapper subtracts the listed
      // (file, pos) pairs — the same one-of-two-identical-copies
      // state no key predicate can express, now on BatchScanExec.
      val root = ManifestOps.morPositionalRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "source_manifest_colmap_native" -> { (spark, dir) =>
      // column mapping through the NATIVE scan: the delegate parquet
      // scan reads PHYSICAL names (schema aliasing — rows are
      // positional, so there is no rename step at execution time at
      // all), pushed filters translate logical→physical, and columnar
      // execution + DPP survive the rename — the states that round 11
      // paid the V1 bridge's per-row conversion for.
      val root = ManifestOps.evo2Root(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_price, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "sink_manifest_ctas" -> { (spark, dir) =>
      // CREATE TABLE … AS SELECT through the catalog (round 12:
      // Spark's CreateTableAsSelect path onto createTable + the V1
      // write bridge — no new code, now DECLARED and oracle-proven),
      // then REPLACE TABLE … AS SELECT swapping contents AND schema
      // (the re-created table carries the new column set). The
      // read-back proves both landed exactly.
      val orders = Tables.table(spark, dir, "orders")
      val root = ManifestOps.freshSinkRoot(dir, tag = "ctas_")
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      ManifestOps.deleteTree(root)
      orders.createOrReplaceTempView("orders_ctas_src")
      spark.sql(s"CREATE TABLE $ident USING `graft-manifest` AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice " +
        "FROM orders_ctas_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"REPLACE TABLE $ident USING `graft-manifest` AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_total " +
        "FROM orders_ctas_src")
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_total
           |FROM $ident ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_alter" -> { (spark, dir) =>
      // the SQL DDL evolution lifecycle (round 12): ALTER TABLE
      // RENAME COLUMN (metadata-only colmap commit) + ADD COLUMN
      // (metadata-only widening) through the catalog's alterTable,
      // with an INSERT before and after — pre-evolution files read
      // under the renamed logical name and null-fill the added
      // column, zero bytes rewritten.
      val orders = Tables.table(spark, dir, "orders")
      val root = ManifestOps.freshSinkRoot(dir, tag = "alter_")
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      ManifestOps.deleteTree(root)
      spark.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING `graft-manifest` " +
        "TBLPROPERTIES ('statsColumns' = 'o_orderkey')")
      orders.createOrReplaceTempView("orders_alter_src")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT o_orderkey, o_custkey, o_totalprice " +
        "FROM orders_alter_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"ALTER TABLE $ident RENAME COLUMN o_totalprice TO o_price")
      spark.sql(s"ALTER TABLE $ident ADD COLUMN o_flag BIGINT")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderkey % 10 " +
        "FROM orders_alter_src WHERE o_orderkey % 2 = 1")
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_price, o_flag
           |FROM $ident ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_evolve_partition" -> { (spark, dir) =>
      // PARTITION EVOLUTION (round 13 — r12-VERDICT task 5, Iceberg's
      // signature capability): evens land under bucket(4, o_custkey),
      // one metadata-only CALL moves the layout to bucket(16), odds
      // land under it — and a plain equality prunes through BOTH
      // generations (old files via their ptransprev-derived bands,
      // new via the current transform; Wave182Spec asserts the
      // admitted-file counts and the SPJ fail-closed degradation).
      val orders = Tables.table(spark, dir, "orders")
      val root = ManifestOps.freshSinkRoot(dir, tag = "pevo_")
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      ManifestOps.deleteTree(root)
      spark.sql(s"CREATE TABLE $ident (${orders.schema.toDDL}) " +
        "USING `graft-manifest` PARTITIONED BY (bucket(4, o_custkey))")
      orders.createOrReplaceTempView("orders_pevo_src")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_pevo_src WHERE o_orderkey % 2 = 0")
      graft.plans.GraftSql.sql(spark,
        s"CALL $cat.system.evolve_partitioning($ident, " +
        "'bucket(16,o_custkey)')").collect()
      spark.sql(s"INSERT INTO $ident " +
        "SELECT * FROM orders_pevo_src WHERE o_orderkey % 2 = 1")
      val ck = orders.agg(min("o_custkey")).head().getLong(0)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $ident WHERE o_custkey = $ck
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_widen" -> { (spark, dir) =>
      // ALTER COLUMN TYPE widening (round 13 — r12-VERDICT task 4;
      // Delta's type widening / Iceberg's primitive promotion): evens
      // land as INT, one metadata-only commit widens o_qty to BIGINT
      // (zero bytes rewritten — the narrow files upcast at read via
      // parquet's widening support), odds then append values beyond
      // the INT range. Wave181Spec proves the loud narrowing refusal
      // and the zero-rewrite claim.
      val orders = Tables.table(spark, dir, "orders")
      val root = ManifestOps.freshSinkRoot(dir, tag = "widen_")
      val cat = sqlCatalog(spark)
      val ident = s"$cat.${sqlIdent(root)}"
      ManifestOps.deleteTree(root)
      spark.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_qty INT) " +
        "USING `graft-manifest` " +
        "TBLPROPERTIES ('statsColumns' = 'o_orderkey')")
      orders.createOrReplaceTempView("orders_widen_src")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT o_orderkey, CAST(o_orderkey % 100000 AS INT) " +
        "FROM orders_widen_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"ALTER TABLE $ident ALTER COLUMN o_qty TYPE BIGINT")
      spark.sql(s"INSERT INTO $ident " +
        "SELECT o_orderkey, o_orderkey + 3000000000 " + // > Int.MaxValue
        "FROM orders_widen_src WHERE o_orderkey % 2 = 1")
      spark.sql(
        s"""SELECT o_orderkey, o_qty
           |FROM $ident ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_compact_mor" -> { (spark, dir) =>
      // `CALL gm.system.compact_mor(t, 'key', n)` (round 12):
      // materialize the MOR view and clear the vectors — the
      // SQL-reachable form of the mandatory pre-rewrite step (every
      // CoW path fails loudly while vectors are outstanding). The
      // lifecycle: orders committed, a key-vector MOR delete of the
      // %13 keys, then the CALL; the read-back equals the subtracted
      // view from plain files (vectors gone, same rows).
      val root = compactMorRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_merge" -> { (spark, dir) =>
      // the manifest_upsert lifecycle driven by a plain-SQL
      // `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
      // THEN INSERT *` (round 10 — r9-VERDICT task 2):
      // ManifestDmlStrategy intercepts the analyzed statement before
      // Spark's built-in planning rejects it and hands it to
      // ManifestTable.upsert — same touched-file discovery, same
      // serializable-writer publish. The oracle is manifest_upsert's
      // verbatim: equality proves the SQL surface IS the programmatic
      // op (Wave143Spec asserts row identity directly as well).
      val root = sqlMergeRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_maintenance" -> { (spark, dir) =>
      // OPTIMIZE → OPTIMIZE ZORDER BY → VACUUM RETAIN 0 HOURS, all in
      // SQL through the GraftSqlParser wrapper (round 11 — r10-VERDICT
      // task 5); the read-back equals the source table, proving the
      // maintenance cycle preserved every row (Wave157Spec asserts the
      // file-count/layout/sweep mechanics).
      val root = maintenanceRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_call" -> { (spark, dir) =>
      // CALL gm.system.{build_bloom_index, replicate, expire_manifests}
      // composed into one lifecycle (round 12 — r11-VERDICT task 5):
      // the declared result reads the CALL-replicated table back —
      // equality with the plain orders oracle proves snapshot
      // replication (and the index/expiry maintenance around it) lost
      // and duplicated nothing.
      val base = callRoot(spark, dir)
      spark.read.format("graft-manifest")
        .option("path", base.resolve("dst").toString).load()
        .orderBy("o_orderkey")
    },

    "source_manifest_runtime_filter" -> { (spark, dir) =>
      // the 100 TB star join: a manifest-backed fact (16 custkey-laid
      // files) joined to a dim filtered on a NON-join column — no
      // static constraint can reach the fact side, so only the
      // RUNTIME filter (dynamic partition pruning through
      // SupportsRuntimeFiltering) prunes its files by the dim's
      // surviving join keys. The result equals the plain join (the
      // prune is a superset admit); Wave156Spec asserts the admitted
      // set physically shrank.
      val root = runtimeFactRoot(spark, dir)
      val cat = sqlCatalog(spark)
      Tables.table(spark, dir, "customer")
        .createOrReplaceTempView("customer_rtf")
      spark.sql(
        s"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           |  c.c_acctbal
           |FROM $cat.${sqlIdent(root)} o
           |JOIN customer_rtf c ON o.o_custkey = c.c_custkey
           |WHERE c.c_acctbal >= 9000.0
           |ORDER BY o.o_orderkey""".stripMargin)
    },

    "manifest_sql_merge_mixed" -> { (spark, dir) =>
      // conditional UPDATE + fall-through DELETE + conditional INSERT
      // in ONE MERGE statement (round 11 — the r10-VERDICT top task):
      // the general mergeRewrite path, first-true-wins clause order,
      // partial-column SET, band-scoped touched files. The oracle
      // restates the row algebra from the source table.
      val root = sqlMergeMixedRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_merge_nmbs" -> { (spark, dir) =>
      // WHEN NOT MATCHED BY SOURCE THEN DELETE — the sync-to-source
      // MERGE shape: post-MERGE state IS the source band (matched
      // rows re-priced, everything else deleted).
      val root = sqlMergeNmbsRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    },

    "manifest_sql_update_delete" -> { (spark, dir) =>
      // SQL UPDATE then SQL DELETE over the catalog table, both
      // copy-on-write with stats-banded touched sets: the UPDATE's
      // bottom-quarter band and the DELETE's top-quarter band each
      // rewrite only the admitted files (Wave143Spec asserts the
      // untouched files survive by path). The final state is read
      // back through the same SQL surface.
      val root = sqlDmlRoot(spark, dir)
      val cat = sqlCatalog(spark)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority
           |FROM $cat.${sqlIdent(root)}
           |ORDER BY o_orderkey""".stripMargin)
    }
  )

  /** One session-wide SQL catalog over /tmp: every lifecycle root
    * (ArtifactCache, sink scratch) lives under it, so a single
    * `gm.<dir-segments...>` identifier reaches any table the declared
    * queries build — the catalog itself is stateless (a table IS its
    * directory).
    */
  private[operators] def sqlCatalog(spark: SparkSession): String = {
    val cat = "gm"
    if (!spark.conf.getOption(s"spark.sql.catalog.$cat")
        .contains("graft.sources.ManifestCatalog")) {
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.ManifestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "/tmp")
    }
    cat
  }

  /** /tmp-relative identifier of a table root, each segment quoted. */
  private[operators] def sqlIdent(root: Path): String = {
    val rel = Paths.get("/tmp").relativize(root.toAbsolutePath)
    (0 until rel.getNameCount)
      .map(i => s"`${rel.getName(i)}`").mkString(".")
  }
}
