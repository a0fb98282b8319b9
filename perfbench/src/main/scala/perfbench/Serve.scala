package perfbench

import scala.collection.mutable
import scala.util.Random

/** `graft.serving.Api` over the run's tables, driven by closed-loop HTTP
  * clients on this JVM. After an untimed warm-up, a seeded pool of
  * requests (per-vehicle trace with a window, summary and trips, plus
  * `/table/orders` key ranges) is first sent once each by a single
  * client, which measures service time and records the reference body of
  * every request. Then four clients each send their next pool request as
  * soon as the previous reply arrives; every reply must be 200 and
  * byte-equal to the reference body.
  */
class Serve(r: Run) extends Workload {
  private val rng = new Random(r.o.seed)
  private val server = graft.serving.Api.start(r.spark, r.dir, 0)
  private val port = server.getAddress.getPort
  private val Clients = 4
  private val PerKind = 2
  /** Timed passes per client, 64 requests in all: on a 4-core host they
    * outlast the deadline, so every run times the same requests and the
    * tail rule falls at the same percentile.
    */
  private val MinPasses = 2

  /** Events span 2024-01-01 .. 2024-01-31 (epoch µs); see gen.py. */
  private val EventLoUs = 1704067200000000L
  private val DayUs = 86400000000L

  private def vehicle() = rng.nextInt(1500)
  private val pool: IndexedSeq[(String, String)] = {
    // the seed places each window and key range; their widths are fixed,
    // so every seed asks for the same amount of work
    val traces = Seq.fill(PerKind) {
      val from = EventLoUs + (rng.nextDouble() * 27 * DayUs).toLong
      "trace" -> s"/vehicles/${vehicle()}/trace?from_us=$from&to_us=${from + 2 * DayUs}"
    }
    val summaries = Seq.fill(PerKind)("summary" -> s"/vehicles/${vehicle()}/summary")
    val trips = Seq.fill(PerKind)("trips" -> s"/vehicles/${vehicle()}/trips")
    val tables = Seq.fill(PerKind) {
      val lo = rng.nextInt(140000)
      "table" -> s"/table/orders?from_key=$lo&to_key=${lo + 2999}"
    }
    rng.shuffle((traces ++ summaries ++ trips ++ tables).toIndexedSeq)
  }
  private val reference = mutable.Map.empty[String, String]

  /** One request as an op; `expect` is the reference body, if any. */
  private def request(kind: String, path: String, phase: Int,
      expect: Option[String]): (Op, String) = {
    var body = ""
    val op = r.op(kind, path, root = "http.request", phase = phase) { (_, _) =>
      val reply = Http.get(port, path)
      body = expect.map(Http.expectBody(reply, _)).getOrElse(Http.expect200(reply))
    }
    (op, body)
  }

  /** Set-up: every pool request once, which builds the artifacts the
    * endpoints read (the manifest table behind /table/orders), then one
    * pass of the 4 clients, which warms the code paths at the measured
    * concurrency.
    */
  def prepare(): Unit = {
    val s = r.now()
    pool.foreach { case (k, p) => request(k, p, 0, None) }
    clients(0, r.now(), 1)
    r.setupParts("prepare_s") = (r.now() - s) / 1000
  }

  /** 4 closed-loop clients; each walks the pool from its own offset in
    * whole passes, at least `minPasses` and until the deadline, so every
    * run sends whole copies of the pool and the server, busy while any
    * client waits, serves the same mix of requests in every run.
    */
  private def clients(phase: Int, deadlineMs: Double, minPasses: Int): Unit = {
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var sent = 0
        while (sent < minPasses * pool.size || sent % pool.size != 0 || r.now() < deadlineMs) {
          val (k, p) = pool((c * pool.size / Clients + sent) % pool.size)
          request(k, p, phase, reference.get(p))
          sent += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def measure(deadlineMs: Double): Unit = {
    // 1 client: service time and reference bodies
    pool.foreach { case (k, p) =>
      val (op, body) = request(k, p, 1, None)
      reference(p) = body
      r.resolveProbe(op.id, if (k == "table") "orders" else "events")
    }
    r.phaseMarks += ("clients_4_start" -> r.now())
    clients(Clients, deadlineMs, MinPasses)
    r.phaseMarks += ("clients_4_end" -> r.now())
  }

  /** Replies were checked as they arrived; stop the server. */
  def check(): Unit = server.stop(0)

  override def info: Seq[(String, String)] = Seq(
    "pool" -> pool.map { case (k, p) => s"[${graft.Json.str(k)},${graft.Json.str(p)}]" }
      .mkString("[", ",", "]"))
}
