package perfbench

import java.nio.file.Files

/** JVM half of the benchmark's self-tests (run by perfbench/selftest.py):
  *
  *  - listener attribution: two ops run back to back, each starting its
  *    own jobs and one noop write; every job, stage and Catalyst record
  *    must land on the op that started it, never on its neighbour;
  *  - a 500 reply from the serving tier is a failed op.
  *
  * Prints one line per check and exits non-zero if any fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest").toString  // under java.io.tmpdir
    val data = Files.createDirectories(java.nio.file.Paths.get(work, "data"))
    Files.createFile(data.resolve("_READY"))
    val o = Main.Opts("selftest", 1, 1, trace = true, data.toString, work,
      s"$work/out.json", System.currentTimeMillis())
    Recorder.keepTasks = true
    val r = new Run(o)
    var failures = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else ": " + detail}")
      if (!ok) failures += 1
    }
    try {
      import org.apache.spark.sql.functions.col
      val spark = r.spark
      val a = r.op("query", "a") { (id, _) =>
        spark.range(1000).groupBy((col("id") % 7).as("k")).count().collect()
        r.noop(spark.range(10).toDF(), id)
      }
      val b = r.op("query", "b") { (id, _) =>
        r.noop(spark.range(0, 100000, 1, 3).selectExpr("id % 5 AS k")
          .repartition(2).toDF(), id)
      }
      Recorder.drain()
      val jobs = Recorder.jobs.values.toSeq
      def within(op: Op, t: Long) = t >= op.t0 - 1 && t <= op.t1 + 1
      check("every job carries an op id", jobs.nonEmpty && jobs.forall(_.op > 0),
        jobs.toString)
      check("jobs land on the op that started them",
        jobs.forall(j => within(if (j.op == a.id) a else b, j.startMs)),
        jobs.map(j => (j.id, j.op, j.startMs)).toString + s" a=${a.t0}-${a.t1} b=${b.t0}-${b.t1}")
      check("both ops started jobs", jobs.exists(_.op == a.id) && jobs.exists(_.op == b.id))
      val stages = Recorder.stages.values.toSeq
      check("stages land on their job's op", stages.forall(s =>
        jobs.exists(j => j.op == s.op && s.submitMs >= j.startMs - 1)), stages.toString)
      val tasksB = stages.filter(_.op == b.id)
        .map(s => Recorder.tasks.get((s.id, s.attempt)).map(_.n).getOrElse(0L)).sum
      check("op b's tasks are counted on b", tasksB >= 3, s"tasks=$tasksB")
      val phases = Recorder.phases.toSeq
      check("one sink write's Catalyst phases per op",
        phases.count(_.op == a.id) == 1 && phases.count(_.op == b.id) == 1,
        phases.map(_.op).toString)

      val server = graft.serving.Api.start(spark, work, 0)
      try {
        val port = server.getAddress.getPort
        val bad = r.op("summary", "/vehicles/1/summary", root = "http.request") { (_, _) =>
          Http.expect200(Http.get(port, "/vehicles/1/summary"))
        }
        check("a 500 reply is a failed op", !bad.ok && bad.err.contains("HTTP 500"),
          String.valueOf(bad.err))
        val differs = r.op("summary", "/vehicles/1/summary", root = "http.request") { (_, _) =>
          Http.expectBody((200, "{\"n\":1}"), "{\"n\":2}")
        }
        check("a reply unlike the 1-client reply is a failed op", !differs.ok)
      } finally server.stop(0)
    } catch {
      case t: Throwable => check("self-test ran", ok = false, r.msg(t))
    } finally r.spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
