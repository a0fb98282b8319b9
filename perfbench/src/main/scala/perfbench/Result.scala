package perfbench

import java.nio.file.{Files, Paths}
import graft.Json.{str => s}

/** Writes one run's raw record as a single JSON document. */
object Result {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")

  /** Peak resident set of this JVM (`VmHWM`) since the last reset, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      .split("\\s+")(1).toDouble / 1024
    finally src.close()
  }

  /** Restart `VmHWM` from the current resident set, so the peak covers
    * the timed phase only and not the code generation and compilation
    * spikes of set-up.
    */
  def resetPeakRss(): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")

  private def op(o: Op): String = obj(Seq(
    "id" -> o.id.toString, "kind" -> s(o.kind), "name" -> s(o.name),
    "root" -> s(o.root), "phase" -> o.phase.toString,
    "setup" -> o.setup.toString, "t0" -> num(o.t0), "t1" -> num(o.t1),
    "ok" -> o.ok.toString, "err" -> Option(o.err).map(s).getOrElse("null"),
    "marks" -> arr(o.marks.map { case (l, a, b) => arr(Seq(s(l), num(a), num(b))) }),
    "extra" -> obj(o.extra.map { case (k, v) => k -> num(v) })))

  private def traced: Seq[(String, String)] = {
    import Recorder._
    val jobRows = jobs.values.toSeq.sortBy(_.id).map(j => arr(Seq(
      j.id.toString, j.op.toString, j.startMs.toString, j.endMs.toString)))
    val stageRows = stages.values.toSeq.sortBy(x => (x.id, x.attempt)).map { st =>
      val t = tasks.getOrElse((st.id, st.attempt), new TaskAgg)
      arr(Seq(st.id.toString, st.attempt.toString, st.op.toString,
        st.submitMs.toString, st.endMs.toString, st.numTasks.toString,
        t.n.toString, t.failed.toString, t.runMs.toString, t.cpuNs.toString,
        t.gcMs.toString, t.shuffleWrite.toString, t.shuffleRead.toString,
        t.spill.toString,
        arr(t.spans.map { case (a, b) => s"[$a,$b]" })))
    }
    val phaseRows = phases.synchronized(phases.toSeq).map(p => arr(Seq(
      p.op.toString, obj(p.phases.map { case (k, (a, b)) => k -> s"[$a,$b]" }))))
    val batchRows = batches.synchronized(batches.toSeq).map(b => arr(Seq(
      b.op.toString, b.batchId.toString, b.startMs.toString,
      obj(b.durations.map { case (k, v) => k -> v.toString }),
      b.stateRows.toString, b.stateMem.toString, b.stateCommitMs.toString)))
    Seq("jobs" -> arr(jobRows), "stages" -> arr(stageRows),
      "phases" -> arr(phaseRows), "batches" -> arr(batchRows))
  }

  def write(r: Run, info: Seq[(String, String)]): Unit = {
    val o = r.o
    val fields = Seq(
      "workload" -> s(o.workload), "seed" -> o.seed.toString,
      "setup_parts" -> obj(r.setupParts.map { case (k, v) => k -> num(v) }),
      "phase_marks" -> obj(r.phaseMarks.map { case (k, v) => k -> num(v) }),
      "rss_peak_mb" -> num(r.rssPeakMb),
      "ops" -> arr(r.ops.synchronized(r.ops.toSeq).map(op)),
      "checks" -> arr(r.checks.map { case (n, ok, m) => arr(Seq(s(n), ok.toString, s(m))) }),
      "dumps" -> arr(r.dumps.map { case (n, p) => arr(Seq(s(n), s(p))) }),
      "probes" -> arr(r.probes.map { case (id, t, ms) => arr(Seq(id.toString, s(t), num(ms))) }),
      "info" -> obj(info)) ++ (if (o.trace) traced else Nil)
    Files.writeString(Paths.get(o.out), obj(fields))
  }
}
