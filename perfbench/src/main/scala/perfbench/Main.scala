package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM half of the benchmark: runs one workload against the engine's
  * public functions and writes every raw measurement to a JSON file,
  * which `perfbench/run.py` turns into metrics.
  *
  * Usage (normally launched by run.py):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <tables dir> --work <scratch dir> --out <result.json>
  *   --launch-ms <epoch ms the JVM was launched>
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      launchMs: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  val Cores = 4

  /** The session every workload runs on: the settings the engine's own
    * Bench main uses, plus the benchmark's listeners when tracing.
    */
  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.trace) b
      .config("spark.extraListeners", classOf[Recorder.Jobs].getName)
      .config("spark.sql.queryExecutionListeners", classOf[Recorder.Queries].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[Recorder.Streams].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Recorder.keepTasks = o.trace
    val run = new Run(o)
    val code =
      try { run.execute(); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally run.spark.stop()
    // the serving tier's HTTP threads are not daemons
    sys.exit(code)
  }
}

/** One op's record: its wall interval, named sub-intervals measured
  * around calls into the engine, and the outcome.
  */
final case class Op(id: Int, kind: String, name: String, root: String,
    phase: Int, setup: Boolean, t0: Double, t1: Double, ok: Boolean,
    err: String, marks: Seq[(String, Double, Double)],
    extra: Map[String, Double])

class Marks(clock: () => Double) {
  val spans = ArrayBuffer.empty[(String, Double, Double)]
  def span[T](layer: String)(body: => T): T = {
    val s = clock()
    try body finally spans += ((layer, s, clock()))
  }
}

class Run(val o: Main.Opts) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution (the listeners' clock). */
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spark: SparkSession = Main.session(o)
  val sessionReadyMs: Double = now()
  // the runner writes the tables while the JVM starts
  private val ready = Paths.get(o.data, "_READY")
  while (!Files.exists(ready) && now() - sessionReadyMs < 120000) Thread.sleep(20)
  require(Files.exists(ready), s"no tables at ${o.data}")
  val dir: String = o.data
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val dumps = ArrayBuffer.empty[(String, String)]
  val setupParts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val phaseMarks = ArrayBuffer.empty[(String, Double)]
  @volatile var measuring = false
  /** Peak resident set of the timed phase, in MiB; a workload whose
    * timed phase grows with the host's speed reads it after a fixed
    * amount of work instead (`markRssPeak`).
    */
  var rssPeakMb = 0.0
  def markRssPeak(): Unit = if (rssPeakMb == 0.0) rssPeakMb = Result.peakRssMb()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replace the record of op `id` (names and counts known only after it). */
  def update(id: Int)(f: Op => Op): Unit = ops.synchronized {
    val i = ops.lastIndexWhere(_.id == id)
    if (i >= 0) ops(i) = f(ops(i))
  }
  def rename(id: Int, name: String): Unit = update(id)(_.copy(name = name))
  def opExtra(id: Int, kv: Map[String, Double]): Unit =
    update(id)(op => op.copy(extra = op.extra ++ kv))

  def msg(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)

  /** Run `body` as one timed op on this thread. Jobs it starts carry the
    * op id; a throw marks the op failed and is not rethrown.
    */
  def op(kind: String, name: String, root: String = "op", phase: Int = 0)(
      body: (Int, Marks) => Unit): Op = {
    val id = nextId.incrementAndGet()
    val sc = spark.sparkContext
    Recorder.currentOp = id
    sc.setLocalProperty(Recorder.OpProp, id.toString)
    val m = new Marks(() => now())
    val t0 = now()
    var err: String = null
    try body(id, m) catch { case t: Throwable => err = msg(t) }
    val t1 = now()
    sc.setLocalProperty(Recorder.OpProp, null)
    Recorder.currentOp = -1
    val r = Op(id, kind, name, root, phase, !measuring, t0, t1, err == null,
      err, m.spans.toSeq, Map.empty)
    ops.synchronized(ops += r)
    r
  }

  def noop(df: DataFrame, id: Int): Unit =
    df.write.format("noop").option(Recorder.OpProp, id.toString)
      .mode("overwrite").save()

  /** (op id, table, ms): traced runs time one `Tables.table` call after
    * each op, outside it.
    */
  val probes = ArrayBuffer.empty[(Int, String, Double)]
  def resolveProbe(opId: Int, table: String): Unit =
    if (o.trace) {
      val s = now()
      graft.Tables.table(spark, dir, table)
      probes += ((opId, table, now() - s))
    }

  def execute(): Unit = {
    val w = o.workload match {
      case "serial_sf0.1" => new Serial(this)
      case "train" => new Training(this)
      case "serve_loop" => new Serve(this)
      case other => sys.error(s"unknown workload $other")
    }
    setupParts("session_s") = (sessionReadyMs - o.launchMs) / 1000
    w.prepare()
    val setupDoneMs = now()
    // everything from JVM launch to the first timed op, workload
    // construction and the wait for the tables included
    setupParts("setup_s") = (setupDoneMs - o.launchMs) / 1000
    measuring = true
    Result.resetPeakRss()
    w.measure(setupDoneMs + o.seconds * 1000)
    markRssPeak()
    measuring = false
    phaseMarks += ("measure_start" -> setupDoneMs) += ("measure_end" -> now())
    w.check()
    if (o.trace) Recorder.drain()
    Result.write(this, w.info)
  }
}

/** A workload: untimed preparation (counted as set-up), the timed loop
  * until the deadline, then the output check.
  */
trait Workload {
  def prepare(): Unit
  def measure(deadlineMs: Double): Unit
  def check(): Unit
  /** Workload-level numbers for the result file (name -> JSON value). */
  def info: Seq[(String, String)] = Nil
}

/** Declared query keys run serially through the noop sink: batch keys
  * and stream replays. A replay runs inside the query-function call and
  * lands in a memory table, so its result is dumped from its first run
  * after the cold one (outside the op) at the cost of a small write; a batch key's
  * result is dumped from its cold run in set-up, since writing a lazy
  * plan re-runs the query.
  */
class QueryLoop(r: Run, keys: Seq[String]) {
  private val fns = graft.SparkEntry.queries
  private val rng = new Random(r.o.seed)
  private var probe = 0
  private val dumped = scala.collection.mutable.Set.empty[String]
  private def replay(k: String) = k.startsWith("stream_")

  private def dump(k: String, sub: String, df: => org.apache.spark.sql.DataFrame): Unit = {
    val out = s"${r.o.work}/out/$sub/$k"
    try {
      df.coalesce(1).write.mode("overwrite").parquet(out)
      r.dumps += ((s"$sub/$k", out))
    } catch { case t: Throwable => r.checks += ((s"$sub/$k", false, r.msg(t))) }
  }

  /** One untimed run per key in declared order: it builds every artifact
    * the key uses and loads its code paths; a batch key's result from
    * this run is the one checked.
    */
  def prepare(): Unit = {
    val s = r.now()
    keys.foreach { k =>
      if (!replay(k)) dump(k, "first", fns(k)(r.spark, r.dir))
      else r.op("replay", k) { (id, _) => r.noop(fns(k)(r.spark, r.dir), id) }
    }
    r.setupParts("queries_prepare_s") = (r.now() - s) / 1000
  }

  private def once(k: String): Unit = {
    var result: org.apache.spark.sql.DataFrame = null
    val op = r.op(if (replay(k)) "replay" else "query", k) { (id, m) =>
      val df = m.span("operators.build")(fns(k)(r.spark, r.dir))
      m.span("sink")(r.noop(df, id))
      result = df
    }
    if (replay(k) && op.ok && dumped.add(k)) dump(k, "timed", result)
    r.resolveProbe(op.id, graft.Tables.names(probe % graft.Tables.names.size))
    probe += 1
  }

  /** One pass: every key once. */
  def pass(): Seq[() => Unit] = keys.map(k => () => once(k))

  /** Re-dump one seeded batch key after the timed passes, so a key whose
    * result drifts between its first and repeated runs fails.
    */
  def check(): Unit = rng.shuffle(keys.filterNot(replay)).take(1)
    .foreach(k => dump(k, "again", fns(k)(r.spark, r.dir)))

  def info: Seq[(String, String)] = {
    val sql = graft.SparkEntry.oracleSql
    Seq("keys" -> keys.map(graft.Json.str).mkString("[", ",", "]"),
      "oracle" -> keys.map(k => graft.Json.str(k) + ":" +
        sql.get(k).map(graft.Json.str).getOrElse("null")).mkString("{", ",", "}"))
  }
}

/** Every single-client op of the benchmark in one closed loop: the
  * declared query keys (batch keys and stream replays) and the commits
  * and reads of a fresh `graft-manifest` table. A round is one pass of
  * the keys and two lakehouse cycles, shuffled together with the seed.
  * Set-up runs one untimed round after the cold runs, so the timed
  * rounds see warm code; runs time whole rounds, at least three and until
  * the deadline has passed, so every run has the same mix of ops.
  */
class Serial(r: Run) extends Workload {
  private val queries = new QueryLoop(r, Keys.all)
  private val lake = new Lakehouse(r)
  private val rng = new Random(r.o.seed * 31 + 17)
  private val CyclesPerRound = 2
  private val MinRounds = 3

  private def round(): Unit =
    rng.shuffle(queries.pass() ++ (1 to CyclesPerRound).flatMap(_ => lake.cycle()))
      .foreach(_())

  def prepare(): Unit = {
    queries.prepare()
    lake.prepare()
    val s = r.now()
    round()
    r.setupParts("warmup_s") = (r.now() - s) / 1000
  }

  /** Peak memory covers the first MinRounds rounds, which every run
    * times, so it does not grow with the number of rounds a run fits.
    */
  def measure(deadlineMs: Double): Unit = {
    var rounds = 0
    do {
      round(); rounds += 1
      if (rounds == MinRounds) r.markRssPeak()
    } while (rounds < MinRounds || r.now() < deadlineMs)
  }

  def check(): Unit = { queries.check(); lake.check() }

  override def info: Seq[(String, String)] = queries.info ++ lake.info
}

/** Runs every workload once without a timed loop. The runner uses it at
  * build time to record the classes a run loads into a class-data
  * sharing archive, which later JVMs map instead of loading each class.
  */
class Training(r: Run) extends Workload {
  private lazy val all = Seq(new Serial(r), new Serve(r))
  def prepare(): Unit = all.foreach { w => w.prepare(); w.check() }
  def measure(deadlineMs: Double): Unit = ()
  def check(): Unit = ()
}
