package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, Executors, ThreadPoolExecutor, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** The serving tier (graft.serving.Api) over the fixture corpus: every
  * endpoint's JSON payload is cross-checked against a direct recompute
  * of the query it parameterizes, plus protocol behavior (404, bounded
  * payloads, window params).
  */
class ServingSpec extends SparkSpec {

  private lazy val server = serving.Api.start(spark, sfDir, port = 0)
  private lazy val base = {
    val p = server.getAddress.getPort
    s"http://127.0.0.1:$p"
  }
  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = getAt(base, path)

  private def getAt(at: String, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(at + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def handlerThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(serving.Api.HandlerThreadPrefix))

  /** The handler pool must not outlive the server by more than its idle
    * timeout: every suite shares this test JVM.
    */
  override def afterAll(): Unit = {
    server.stop(0)
    try {
      val deadline = System.currentTimeMillis() + serving.Api.HandlerIdleMs + 5000
      while (handlerThreads.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(handlerThreads.isEmpty,
        s"handler threads alive after stop: ${handlerThreads.map(_.getName)}")
    } finally super.afterAll()
  }

  test("/vehicles enumerates every distinct vehicle exactly once") {
    val (code, body) = get("/vehicles")
    assert(code == 200)
    val nVehicles = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(body.startsWith(s"""{"n":$nVehicles,"""), body.take(80))
    assert("\"user_id\":1[,}]".r.findFirstIn(body).isDefined)
  }

  test("/vehicles/{id}/summary returns that vehicle's aggregate row") {
    val (code, body) = get("/vehicles/1/summary")
    assert(code == 200)
    val exp = Tables.events(spark, sfDir)
      .filter(col("user_id") === 1L)
      .agg(count(lit(1)).as("n")).head().getLong(0)
    assert(body.startsWith("""{"n":1,"""), body.take(80))
    assert(body.contains(s""""n_events":$exp"""), body)
  }

  test("/vehicles/{id}/trace honors the half-open time window") {
    val ev = Tables.events(spark, sfDir).filter(col("user_id") === 2L)
    val bounds = ev.agg(min("ts_us"), max("ts_us")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + (hi - lo) / 2
    val (code, body) = get(s"/vehicles/2/trace?from_us=$lo&to_us=$mid")
    assert(code == 200)
    val exp = ev.filter(col("ts_us") >= lo && col("ts_us") < mid).count()
    assert(body.startsWith(s"""{"n":$exp,"""), body.take(80))
    assert(!body.contains(s""""ts_us":$hi"""), "window upper bound is exclusive")
  }

  test("/stats/heatmap rows cover the weekly grid, counts conserved") {
    val (code, body) = get("/stats/heatmap")
    assert(code == 200)
    val total = "\"n_events\":(\\d+)".r.findAllMatchIn(body)
      .map(_.group(1).toLong).sum
    assert(total == Tables.events(spark, sfDir).count(),
      "heatmap cells must partition all events")
  }

  test("/stats/quality serves the full expectations report") {
    val (code, body) = get("/stats/quality")
    assert(code == 200)
    assert(body.startsWith("""{"n":8,"""), body.take(80))
    assert(body.contains(""""rule":"orders.custkey_fk_customer""""))
    assert(body.contains(""""n_violations":"""))
  }

  test("/stats/index serves the ANN occupancy row") {
    val (code, body) = get("/stats/index")
    assert(code == 200)
    assert(body.startsWith("""{"n":1,"""), body.take(80))
    val nVec = Tables.table(spark, sfDir, "embeddings").count()
    assert(body.contains(s""""n_vectors":$nVec"""), body)
  }

  test("/vehicles/{id}/changepoint returns that vehicle's CUSUM peak") {
    val (code, body) = get("/vehicles/3/changepoint")
    assert(code == 200)
    val exp = q("events_changepoint")
      .filter(col("user_id") === 3L).head()
    assert(body.startsWith("""{"n":1,"""), body.take(80))
    assert(body.contains(s""""cp_event":${exp.getAs[Long]("cp_event")}"""),
      body)
  }

  test("/search/similar serves exact top-k neighbors of a stored vector") {
    val (code, body) = get("/search/similar?vec_id=7&k=3")
    assert(code == 200)
    assert(body.startsWith("""{"n":3,"""), body.take(80))
    // cross-check against the library call the endpoint parameterizes
    val emb = Tables.table(spark, sfDir, "embeddings")
    val exp = operators.Knn.search(
        emb.filter(col("vec_id") === 7L), emb, k = 3)
      .orderBy("rank").collect()
      .map(_.getAs[Long]("idx_id"))
    exp.foreach(id => assert(body.contains(s""""idx_id":$id"""), body))
    assert(get("/search/similar")._1 == 400, "missing vec_id is a 400")
  }

  test("/vehicles/{id}/resample serves that vehicle's daily lerp series") {
    val (code, body) = get("/vehicles/4/resample")
    assert(code == 200)
    val exp = q("events_resample_lerp")
      .filter(col("user_id") === 4L).count()
    assert(body.startsWith(s"""{"n":$exp,"""), body.take(80))
  }

  test("/reports/pricing and /stats/backlog serve the declared reports") {
    val (c1, b1) = get("/reports/pricing")
    assert(c1 == 200 && b1.contains(""""l_returnflag""""))
    val (c2, b2) = get("/stats/backlog")
    assert(c2 == 200 && b2.contains(""""backlog""""))
  }

  test("/stats/movers, /stats/decomposition, /reports/curation serve the round-6 family") {
    val (c1, b1) = get("/stats/movers")
    assert(c1 == 200 && b1.contains(""""delta"""") && b1.startsWith("""{"n":10,"""))
    val (c2, b2) = get("/stats/decomposition")
    assert(c2 == 200 && b2.contains(""""seasonal"""") && b2.contains(""""resid""""))
    val (c3, b3) = get("/reports/curation")
    assert(c3 == 200 && b3.contains(""""mix_weight"""") && b3.contains(""""n_kept""""))
  }

  test("/stats/od-matrix, /stats/hotspots, /vehicles/{id}/trips serve the spatial family") {
    val (c1, b1) = get("/stats/od-matrix")
    assert(c1 == 200 && b1.contains(""""o_zx"""") && b1.contains(""""n_trips""""))
    val (c2, b2) = get("/stats/hotspots")
    assert(c2 == 200 && b2.contains(""""cluster""""))
    val (c3, b3) = get("/vehicles/1/trips")
    assert(c3 == 200 && b3.contains(""""trip_id""""))
    // the id filter really scopes the payload
    val nTrips = SparkEntry.queries("events_trip_stats")(spark, sfDir)
      .filter(col("user_id") === 1L).count()
    assert(b3.startsWith(s"""{"n":$nTrips,"""), b3.take(60))
  }

  test("/dq/status unifies the four DQ monitors in one payload") {
    val (code, body) = get("/dq/status")
    assert(code == 200)
    Seq("\"freshness\"", "\"value_drift\"", "\"volume_alerts\"", "\"id_gaps\"")
      .foreach(k => assert(body.contains(k), s"missing $k in ${body.take(120)}"))
    assert(body.contains("\"lag_us\"") && body.contains("\"chisq\"")
      && body.contains("\"n_missing\""), "nested reports carry their columns")
  }

  test("/table/orders serves time travel and stats-pruned key ranges") {
    import org.apache.spark.sql.functions.{col, max, min}
    val orders = Tables.table(spark, sfDir, "orders")
    val root = operators.ManifestOps.cowRoot(spark, sfDir)
    val latest = operators.ManifestTable.latestVersion(root)
    // latest (merged) state
    val (c1, b1) = get("/table/orders")
    assert(c1 == 200 && b1.startsWith(s"""{"version":$latest,"latest":$latest,"data":"""))
    // pinned pre-merge version = the source table verbatim (first 1000)
    val (c2, b2) = get("/table/orders?version=1")
    assert(c2 == 200 && b2.contains("\"version\":1,"))
    val firstKey = orders.agg(min("o_orderkey")).head().getLong(0)
    assert(b2.contains(s""""o_orderkey":$firstKey"""))
    // key-range request: payload row count equals the band's
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (mx / 10, mx / 5)
    val nBand = orders
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
    val (c3, b3) = get(s"/table/orders?version=1&from_key=$lo&to_key=$hi")
    assert(c3 == 200 && b3.contains(s""""data":{"n":${math.min(nBand, 1000)},"""),
      b3.take(120))
    // past-the-end version 404s with the latest pointer
    val (c4, b4) = get(s"/table/orders?version=${latest + 5}")
    assert(c4 == 404 && b4.contains(s""""latest":$latest"""))
    // a malformed number or a half-given key range is a 400, never a
    // silent unpruned or latest-version read
    Seq("/table/orders?from_key=abc&to_key=10", "/table/orders?from_key=1",
      "/table/orders?version=1&to_key=10", "/table/orders?version=abc")
      .foreach { u =>
        val (c, b) = get(u)
        assert(c == 400 && b.contains("\"error\""), s"$u → $c ${b.take(120)}")
      }
    // TIMESTAMP AS OF: the v1 commit's own wall time resolves to v1
    // (cached roots built before ts= recording resolve nothing — both
    // shapes are legitimate replies here, 200@v1 or 404)
    try {
      val t1 = operators.ManifestTable.commitTime(root, 1)
      val (c5, b5) = get(s"/table/orders?asof=$t1")
      assert(c5 == 200 && b5.contains("\"version\":1,"), b5.take(120))
      // before the first commit → 404 with the latest pointer
      val (c6, b6) = get(s"/table/orders?asof=${t1 - 1}")
      assert(c6 == 404 && b6.contains(s""""latest":$latest"""))
    } catch {
      case _: IllegalStateException => // pre-ts= cached root: still 404s
        assert(get("/table/orders?asof=1")._1 == 404)
    }
  }

  test("unknown routes 404 with a JSON error") {
    val (code, body) = get("/nope")
    assert(code == 404 && body.contains("\"error\""))
    assert(get("/vehicles/abc/trace")._1 == 404,
      "non-numeric vehicle id is not a route")
  }

  test("small replies on a kept-alive connection do not wait for a delayed ACK") {
    // a route that runs no Spark job: the time is the server's alone
    val url = URI.create(base + "/vehicles/abc/trace").toURL
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 404)
      val in = c.getErrorStream
      try in.readAllBytes() finally in.close() // read to the end: reuse
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(ms.size / 2) < 20, s"median ${ms(ms.size / 2)} ms: $ms")
  }

  test("per-vehicle replies follow a rewritten events table") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_serving")
    val events = dir.resolve("events.parquet")
    Files.copy(Paths.get(sfDir, "events.parquet"), events)
    val paths = Seq("/vehicles/1/summary", "/vehicles/1/trips",
      "/vehicles/1/trace")
    def direct(): Seq[(Int, String)] = {
      val d = dir.toString
      Seq(q("events_user_summary", d).filter(col("user_id") === 1L),
        q("events_trip_stats", d).filter(col("user_id") === 1L),
        serving.Api.trace(spark, d, 1L, None, None))
        .map(df => 200 -> serving.Api.toJson(df))
    }
    val api = serving.Api.start(spark, dir.toString, port = 0)
    try {
      val at = s"http://127.0.0.1:${api.getAddress.getPort}"
      val before = paths.map(getAt(at, _))
      assert(before == direct())
      // vehicle 1 loses every other event and the rest change value
      val out = dir.resolve("rewrite")
      Tables.table(spark, dir.toString, "events")
        .filter(col("user_id") =!= 1L || col("event_id") % 2 === 0)
        .withColumn("value", when(col("user_id") === 1L, col("value") + 1)
          .otherwise(col("value")))
        .coalesce(1).write.parquet(out.toString)
      val part = Files.list(out)
      try Files.move(part.iterator.asScala
          .find(_.toString.endsWith(".parquet")).get, events,
        StandardCopyOption.REPLACE_EXISTING)
      finally part.close()
      Files.setLastModifiedTime(events,
        FileTime.fromMillis(System.currentTimeMillis() + 60000))
      val after = paths.map(getAt(at, _))
      assert(after == direct())
      after.zip(before).foreach { case (a, b) => assert(a != b, a) }
    } finally api.stop(0)
  }

  test("concurrent requests get the serial replies from a bounded pool of daemon handlers") {
    val pool = server.getExecutor
    assert(pool != null, "handlers must run off the dispatcher thread")
    assert(pool.asInstanceOf[ThreadPoolExecutor].getMaximumPoolSize ==
      spark.sparkContext.defaultParallelism)
    val paths = Seq("/vehicles", "/vehicles/1/trace", "/vehicles/2/summary",
      "/vehicles/3/trips", "/vehicles/4/trace", "/vehicles/5/summary",
      "/vehicles/6/trips", "/vehicles/7/resample", "/vehicles/8/changepoint",
      "/table/orders?from_key=1&to_key=3000",
      "/table/orders?from_key=2000&to_key=9000")
    val serial = paths.map(p => p -> get(p)).toMap
    serial.foreach { case (p, (c, b)) => assert(c == 200, s"$p: $b") }
    val clients = Executors.newFixedThreadPool(4)
    try {
      val replies = Seq.fill(4)(paths).flatten.map { p =>
        p -> clients.submit(new Callable[(Int, String)] {
          def call(): (Int, String) = get(p)
        })
      }
      replies.foreach { case (p, f) =>
        assert(f.get(120, TimeUnit.SECONDS) == serial(p),
          s"$p: concurrent reply differs from the serial one")
      }
    } finally clients.shutdown()
    assert(handlerThreads.nonEmpty && handlerThreads.forall(_.isDaemon),
      s"handler threads: ${handlerThreads.map(t => t.getName -> t.isDaemon)}")
  }
}
