package graft.serving

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Json, SparkEntry, Tables}

/** Minimal HTTP JSON serving tier over the query library — the analog of
  * the reference's API service (an HTTP JSON API over Spark jobs;
  * SURVEY.md §0.3 reconstructs endpoints for vehicle enumeration, a
  * per-vehicle trace window, and per-vehicle summaries). The engine
  * underneath is this repo's distributed query library: each endpoint
  * only PARAMETERIZES a declared query (or its library form) and
  * serializes the small result — single-vehicle slices and fixed-size
  * reports — so the collect here is the response payload itself, never a
  * corpus materialization. Pushdown does the serving-time work: the
  * vehicle filter lands on the parquet scan (grouping-key predicates
  * push through the aggregate), so a trace request reads one vehicle's
  * row groups, not the fleet's.
  *
  * JDK built-in `com.sun.net.httpserver` (public JRE API since Java 6):
  * the zero-egress build cannot resolve a web framework and does not
  * need one to prove the serving shape. Port 0 = ephemeral (tests).
  *
  * Concurrency: the server's dispatcher thread only accepts connections;
  * handlers run on a pool of `defaultParallelism` threads of the session
  * it is handed, so at most that many requests plan, run and serialize
  * their Spark jobs at once on the one shared session. Further requests
  * queue inside the server until a handler thread is free.
  */
object Api {

  /** How long an idle handler thread lives. Every handler thread times
    * out, so a stopped server leaves no thread behind once this passes.
    */
  val HandlerIdleMs = 2000L

  /** Name prefix of the handler threads. */
  val HandlerThreadPrefix = "graft-api-handler-"

  /** Fixed pool of `n` daemon handler threads (daemon, so a JVM that
    * never stops its server still exits) over an unbounded FIFO queue.
    */
  private def handlerPool(n: Int): ThreadPoolExecutor = {
    val ids = new AtomicInteger()
    val pool = new ThreadPoolExecutor(n, n, HandlerIdleMs,
      TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, HandlerThreadPrefix + ids.incrementAndGet())
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Parameterized per-vehicle trace — the library form of the fixed
    * `events_trace` harness query: one vehicle, half-open time window.
    */
  def trace(spark: SparkSession, dir: String, userId: Long,
      fromUs: Option[Long], toUs: Option[Long]): DataFrame = {
    val base = Tables.events(spark, dir)
      .filter(col("user_id") === userId)
    val lo = fromUs.map(f => col("ts_us") >= f).getOrElse(lit(true))
    val hi = toUs.map(t => col("ts_us") < t).getOrElse(lit(true))
    base.filter(lo && hi)
      .select("user_id", "ts_us", "event_id", "event_type", "value")
      .orderBy("ts_us", "event_id")
  }

  /** Rows as a JSON document `{"n":N,"rows":[{...},...]}`. `limit`
    * bounds the payload (serving endpoints return slices, not corpora).
    */
  def toJson(df: DataFrame, limit: Int = 10000): String = {
    val schema = df.schema
    val rows = df.limit(limit).collect()
    val body = rows.map { r =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        val v =
          if (r.isNullAt(i)) "null"
          else f.dataType match {
            case StringType => Json.str(r.getString(i))
            case BooleanType => r.getBoolean(i).toString
            case FloatType | DoubleType | _: DecimalType |
                 ByteType | ShortType | IntegerType | LongType =>
              r.get(i).toString
            case _ => Json.str(String.valueOf(r.get(i)))
          }
        Json.str(f.name) + ":" + v
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"n":${rows.length},"rows":$body}"""
  }

  private val VehiclePath =
    "^/vehicles/(-?\\d+)/(trace|summary|changepoint|resample|trips)$".r

  /** Start the API over one corpus dir; returns the running server
    * (ephemeral port when `port` = 0 — read it off `getAddress`).
    */
  def start(spark: SparkSession, dir: String, port: Int = 0): HttpServer = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(handlerPool(spark.sparkContext.defaultParallelism))

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(code, bytes.length)
      val os = x.getResponseBody
      try os.write(bytes) finally os.close()
    }

    def param(x: HttpExchange, name: String): Option[Long] =
      Option(x.getRequestURI.getQuery).toSeq
        .flatMap(_.split("&"))
        .collectFirst {
          case kv if kv.startsWith(name + "=") =>
            kv.substring(name.length + 1)
        }
        .flatMap(v => scala.util.Try(v.toLong).toOption)

    server.createContext("/", (x: HttpExchange) => {
      try {
        val path = x.getRequestURI.getPath
        path match {
          case "/vehicles" =>
            // vehicle enumeration = the declared events_distinct_users
            respond(x, 200, toJson(
              SparkEntry.queries("events_distinct_users")(spark, dir)))
          case "/stats/heatmap" =>
            respond(x, 200, toJson(
              SparkEntry.queries("events_heatmap")(spark, dir)))
          case "/stats/quality" =>
            // the Deequ-style expectations report as an ops endpoint
            respond(x, 200, toJson(
              SparkEntry.queries("dq_expectations")(spark, dir)))
          case "/stats/index" =>
            // ANN index health: occupancy/skew row for the serving index
            respond(x, 200, toJson(
              SparkEntry.queries("vec_ivf_stats")(spark, dir)))
          case VehiclePath(id, "summary") =>
            // grouping-key predicate pushes below the aggregate to the scan
            val df = SparkEntry.queries("events_user_summary")(spark, dir)
              .filter(col("user_id") === id.toLong)
            respond(x, 200, toJson(df))
          case VehiclePath(id, "trace") =>
            respond(x, 200, toJson(
              trace(spark, dir, id.toLong,
                param(x, "from_us"), param(x, "to_us"))))
          case "/stats/od-matrix" =>
            // zone-to-zone trip flows (≤ zone² rows by construction)
            respond(x, 200, toJson(
              SparkEntry.queries("events_od_matrix")(spark, dir)))
          case "/stats/hotspots" =>
            // density clusters over the synthetic grid (DBSCAN-lite)
            respond(x, 200, toJson(
              SparkEntry.queries("geo_cluster_cells")(spark, dir)))
          case VehiclePath(id, "trips") =>
            // per-vehicle trip log; the grouping-key filter prunes the
            // window exchange input like /resample and /changepoint
            respond(x, 200, toJson(
              SparkEntry.queries("events_trip_stats")(spark, dir)
                .filter(col("user_id") === id.toLong)))
          case "/stats/movers" =>
            // day-over-day top movers (round-6): ≤10 rows by construction
            respond(x, 200, toJson(
              SparkEntry.queries("events_top_movers")(spark, dir)))
          case "/stats/decomposition" =>
            // STL-lite trend/seasonal/residual view of the daily series
            respond(x, 200, toJson(
              SparkEntry.queries("events_stl_lite")(spark, dir)))
          case "/reports/curation" =>
            // the end-to-end dataset card (quality → dedup → mixture)
            respond(x, 200, toJson(
              SparkEntry.queries("curation_pipeline")(spark, dir)))
          case "/reports/pricing" =>
            // the TPC-H Q1 pricing summary as the flagship report
            respond(x, 200, toJson(
              SparkEntry.queries("agg_pricing_summary")(spark, dir)))
          case "/stats/backlog" =>
            // open-order backlog sweep (≤|months| rows by construction)
            respond(x, 200, toJson(
              SparkEntry.queries("orders_open_backlog")(spark, dir)))
          case "/dq/status" =>
            // one ops dashboard payload unifying the four DQ monitors:
            // freshness (is anything stale), value drift (did a stream
            // change regime), volume drift alerts only (the full grid
            // is history, the dashboard wants the current reds), and
            // the 10 biggest id gaps in the lineitem feed
            val alerts = SparkEntry.queries("dq_volume_drift")(spark, dir)
              .filter(col("status") =!= "ok")
            // plain concatenation — no margin/newline post-processing,
            // which would corrupt any data value containing a newline
            // or a leading '|' (r8 ADVICE item 3)
            respond(x, 200,
              "{\"freshness\":" + toJson(
                SparkEntry.queries("dq_freshness")(spark, dir)) +
              ",\"value_drift\":" + toJson(
                SparkEntry.queries("dq_value_drift")(spark, dir)) +
              ",\"volume_alerts\":" + toJson(alerts) +
              ",\"id_gaps\":" + toJson(
                SparkEntry.queries("dq_id_gaps")(spark, dir)) + "}")
          case "/search/similar" =>
            // ANN-as-a-service: exact top-k neighbors of one stored
            // vector. The query side is a 1-row pushed-filter scan; at
            // index scale the same call takes bits>0 and probes the
            // persisted bucket-partitioned layout (knn_search_ivf path)
            param(x, "vec_id") match {
              case Some(id) =>
                val k = param(x, "k").map(_.toInt).filter(_ >= 1)
                  .map(math.min(_, 100)).getOrElse(5)
                val emb = Tables.table(spark, dir, "embeddings")
                respond(x, 200, toJson(graft.operators.Knn.search(
                  emb.filter(col("vec_id") === id), emb, k)
                  .orderBy("rank")))
              case None =>
                respond(x, 400, """{"error":"vec_id param required"}""")
            }
          case "/table/orders" =>
            // lakehouse-table serving over the manifest format: pinned
            // VERSION reads (time travel — ?version=K, default latest)
            // with optional key-range pruning (?from_key&to_key) that
            // plans off the manifest's per-file stats, so a point-range
            // request touches only the files whose bounds intersect —
            // the serving-tier face of source_manifest_timetravel /
            // source_manifest_pruned
            val orders = Tables.table(spark, dir, "orders")
            val root = graft.operators.ManifestOps.cowRoot(spark, dir)
            val latest = graft.operators.ManifestTable.latestVersion(root)
            // ?asof=<epoch millis> resolves through the ts= headers
            // (TIMESTAMP AS OF); a time before the first commit — or a
            // root whose manifests predate timestamp recording — maps
            // to the version=0 "no such version" reply below
            val v = param(x, "asof").map(_.toLong) match {
              case Some(t) =>
                try graft.operators.ManifestTable.versionAt(root, t)
                catch { case _: IllegalArgumentException => 0 }
              case None =>
                param(x, "version").map(_.toInt).getOrElse(latest)
            }
            if (v < 1 || v > latest)
              respond(x, 404,
                s"""{"error":"no such version","latest":$latest}""")
            else {
              val df = (param(x, "from_key"), param(x, "to_key")) match {
                case (Some(lo), Some(hi)) =>
                  graft.operators.ManifestTable.readPruned(spark, root, v,
                    orders.schema, "o_orderkey", lo, hi)
                case _ =>
                  graft.operators.ManifestTable.read(spark, root, v,
                    orders.schema)
              }
              respond(x, 200,
                s"""{"version":$v,"latest":$latest,"data":""" +
                  toJson(df.orderBy("o_orderkey"), limit = 1000) + "}")
            }
          case VehiclePath(id, "resample") =>
            // the daily lerp-resampled series for one vehicle; the
            // user filter prunes below the window exchange
            respond(x, 200, toJson(
              SparkEntry.queries("events_resample_lerp")(spark, dir)
                .filter(col("user_id") === id.toLong)))
          case VehiclePath(id, "changepoint") =>
            // per-vehicle CUSUM change point; the user filter prunes
            // the window input below the exchanges like summary's
            respond(x, 200, toJson(
              SparkEntry.queries("events_changepoint")(spark, dir)
                .filter(col("user_id") === id.toLong)))
          case _ =>
            respond(x, 404, s"""{"error":"not found","path":${Json.str(path)}}""")
        }
      } catch {
        case t: Throwable =>
          respond(x, 500, s"""{"error":${Json.str(String.valueOf(t))}}""")
      }
    })
    server.start()
    server
  }
}
