#!/usr/bin/env python3
"""Benchmark entry point: builds the engine, runs one workload in a fresh
JVM on freshly generated tables, checks the outputs and prints one JSON
line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: serial_sf0.1, serve_loop (see
perfbench/LAYERS.md). With --trace 0 the metrics are the end-to-end ones;
with --trace 1 the per-layer ones, and the run's spans are written to
perfbench/traces/<workload>-seed<n>.json.
Everything a run creates lives under perfbench/work/ and is removed when
the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from metrics import kind_stats, op_kind  # noqa: E402

WORKLOADS = ("serial_sf0.1", "serve_loop")
DUMPS = ("first/", "timed/", "again/")   # output-check names: <when>/<key>
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run in a checkout may build for longer
# Directories the engine writes outside the JVM's temp dir (fixed paths in
# the engine); entries a run adds there are removed when it ends.
ENGINE_SCRATCH = tuple(f"/tmp/graft_{d}" for d in (
    "cache", "replay", "mfsink", "buckets", "replay3", "evolve", "orc", "part", "zstd"))
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kill the JVM if it is still running and wait until it has ended."""
    if proc.poll() is None:
        proc.kill()
        proc.wait()


def source_stamp(root):
    """Hash of every input of the build (paths, sizes, contents); this
    file is one, since the JVM options it sets must match the class-data
    sharing archive's.
    """
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.abspath(__file__),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the benchmark's JVM code with sbt unless the
    sources are unchanged since the last build; returns the runtime
    classpath.
    """
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(HERE, "work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(cp_file) as c:
        cp = c.read().strip()
    train_cds(cp, target)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def train_cds(cp, target):
    """Record the classes a run loads into a class-data sharing archive
    (JDK AppCDS): one untimed pass of every workload on tiny tables.
    Runs then map the archive, which cuts JVM and Spark start-up by
    several seconds; without an archive they load classes as usual.
    """
    archive = os.path.join(target, "app.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(target, "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    before = scratch_entries()
    proc = None
    try:
        gen.write(os.path.join(work, "data"), 0, scale=0.02)
        open(os.path.join(work, "data", "_READY"), "w").close()
        proc, log = start_jvm(cp, ["--workload", "train", "--seed", "0", "--seconds", "0",
                                   "--trace", "1", "--data", os.path.join(work, "data"),
                                   "--work", work, "--out", os.path.join(work, "result.json")],
                              work, [f"-XX:ArchiveClassesAtExit={archive}"])
        if wait_jvm(proc, log, time.time() + BUILD_LIMIT_S / 2) != 0 and os.path.exists(archive):
            os.remove(archive)
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        remove_new_scratch(before)


def scratch_entries():
    out = set()
    for d in ENGINE_SCRATCH:
        if os.path.isdir(d):
            for e in os.listdir(d):
                out.add(os.path.join(d, e))
                sub = os.path.join(d, e)
                if d.endswith("graft_cache") and os.path.isdir(sub):
                    out.update(os.path.join(sub, x) for x in os.listdir(sub))
    return out


def remove_new_scratch(before):
    """Delete what this run added under the engine's fixed scratch dirs."""
    for p in sorted(scratch_entries() - before, key=len, reverse=True):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)


def java_cmd(cp, main, args, work, jvm_opts=None):
    """The java command line: Spark's module opens, the class-data sharing
    archive when one was built, and a temp dir inside `work`.
    """
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if jvm_opts is None:
        archive = os.path.join(HERE, "target", "app.jsa")
        jvm_opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    # a fixed young generation: the peak RSS does not follow G1's young
    # sizing from run to run; 16 MiB regions: the serving tier's
    # multi-megabyte buffers are not humongous objects, each of which
    # started a concurrent GC cycle (one every few requests)
    return (["java"] + opens + jvm_opts + ["-Xmx4g", "-Xmn512m", "-XX:G1HeapRegionSize=16m",
                                           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, main] + args)


def start_jvm(cp, args, work, jvm_opts=None):
    cmd = java_cmd(cp, "perfbench.Main", args, work, jvm_opts)
    log = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, cwd=work), log


def wait_jvm(proc, log, deadline):
    """Wait for the JVM to end, killing it at the deadline; returns its
    exit code ("timeout" when killed) after echoing a failed JVM's log tail.
    """
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        rc = "timeout"
    log.close()
    if rc != 0:
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
    return rc


def check_outputs(res, data_dir):
    """Oracle-compare every dumped query result; returns failed names."""
    dumps = res.get("dumps", [])
    if not dumps:
        return {}
    con = oracle.connect(data_dir)
    sql = res["info"].get("oracle", {})
    bad = {}
    for name, path in dumps:
        why = oracle.check_dump(con, path, sql.get(name.split("/", 1)[1]))
        if why:
            bad[name] = why
    return bad


def tally(res, bad):
    """Count attempted and failed ops. Attempted: the timed ops plus every
    output check. Failed: timed ops that threw, timed out, got a non-200
    reply or a reply unlike the reference; every failed check or set-up
    op; and every timed run of a key whose checked output was wrong.
    `bad` maps the names of failed output checks to their reasons.
    """
    measured = [o for o in res["ops"] if not o["setup"]]
    bad = dict(bad)
    bad.update({n: m for n, ok, m in res["checks"] if not ok})
    bad.update({f"setup/{o['kind']}/{o['name']}": o["err"] for o in res["ops"]
                if o["setup"] and not o["ok"]})
    wrong_keys = {n.split("/", 1)[1] for n in bad if n.startswith(DUMPS)}
    failed_ops = [o for o in measured if not o["ok"] or o["name"] in wrong_keys]
    attempted = len(measured) + len(res["checks"]) + len(res.get("dumps", []))
    return attempted, len(failed_ops) + len(bad), failed_ops, bad


def end_to_end(res, measured, attempted, failed):
    """The end-to-end metrics: closed-loop throughput and per-kind latency
    of the timed ops, set-up time, peak driver memory and the share of ops
    that succeeded.
    """
    if res["workload"] == "serve_loop":
        # four concurrent clients: completions over the phase's wall time
        marks = res["phase_marks"]
        window = marks["clients_4_end"] - marks["clients_4_start"]
        ops = [o for o in measured if o["phase"] == 4]
    else:
        # one client: completions over the time spent inside ops, so the
        # checks and probes between ops do not count
        ops = measured
        window = sum(o["t1"] - o["t0"] for o in ops)
    ok = [o for o in ops if o["ok"]]
    p50, t, pct, beyond, med = kind_stats([(op_kind(o), o["t1"] - o["t0"]) for o in ok])
    return {
        "setup_s": (res["setup_parts"]["setup_s"], "s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MiB"),
        "op_ok_ratio": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
        "ops_per_s": (len(ok) / (window / 1000.0) if window else 0.0, "1/s"),
        "kind_p50_ms": (p50, "ms"),
        "kind_tail_ms": (t, "ms"),
    }, {"tail_percentile": pct, "tail_beyond": beyond, "samples": len(ok),
        "kind_median_ms": med}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under ./src/main/scala; run from the repository root")
    cp = build(root)
    ready = time.time()  # the run limit counts from here; a first run also builds

    work = os.path.join(HERE, "work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    before = scratch_entries()
    proc = None
    try:
        out = os.path.join(work, "result.json")
        data = os.path.join(work, "data")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work,
                "--out", out, "--launch-ms", str(int(time.time() * 1000))]
        proc, log = start_jvm(cp, args, work)
        # while the JVM starts: a private copy of the input tables, made from
        # the seed, so every artifact keyed by their fingerprint is built
        # fresh inside set-up
        t_gen = time.time()
        gen.write(data, a.seed)
        open(os.path.join(data, "_READY"), "w").close()
        t_jvm = time.time()
        rc = wait_jvm(proc, log, ready + RUN_LIMIT_S - 20)
        if rc != 0:
            fail(f"workload JVM ended with {rc}")
        with open(out) as f:
            res = json.load(f)

        t_check = time.time()
        measured = [o for o in res["ops"] if not o["setup"]]
        attempted, failed, failed_ops, bad = tally(res, check_outputs(res, data))
        for o in failed_ops[:5]:
            print(f"failed op {o['kind']} {o['name']}: {o['err'] or 'wrong output'}", file=sys.stderr)
        for n, m in list(bad.items())[:5]:
            print(f"failed check {n}: {m}", file=sys.stderr)

        metrics, extra = end_to_end(res, measured, attempted, failed)
        if a.trace:
            # the traced run's end-to-end figures go to the context line,
            # where they give the tracing overhead
            extra["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
            values, breakdown = layers.compute(res, measured)
            metrics = {k: (v, layers.PER_LAYER[k][0]) for k, v in values.items()}
            extra.update(write_trace(a, res, breakdown))
        extra["wall_s"] = {"gen": t_jvm - t_gen, "jvm": t_check - t_jvm, "check": time.time() - t_check}
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        remove_new_scratch(before)

    # the run's context on its own line; the last line is the result
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "seconds": a.seconds, **extra, "setup_parts": res["setup_parts"],
                      "info": {k: v for k, v in res["info"].items() if k != "oracle"}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def write_trace(a, res, breakdown):
    """Write every op's spans and self times; returns summary fields."""
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    ops = []
    worst = 0.0
    for b in breakdown:
        o = b["op"]
        wall = o["t1"] - o["t0"]
        err = abs(sum(b["self"].values()) - wall) / wall if wall > 0 else 0.0
        worst = max(worst, err)
        ops.append({"id": o["id"], "kind": o["kind"], "name": o["name"], "wall_ms": wall,
                    "self_ms": b["self"],
                    "spans": [{k: sp[k] for k in ("id", "parent", "layer", "start", "end")}
                              for sp in b["spans"]]})
    path = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "ops": ops}, f)
    return {"traced_ops": len(ops), "self_sum_max_error": worst}


if __name__ == "__main__":
    main()
