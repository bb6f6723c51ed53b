#!/usr/bin/env python3
"""Benchmark of the engine's two cron pipelines and its query catalog.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see README.md): `etl_ticks` and `status_points`, which
BENCHMARK.json lists, and `catalog_mix`, which is run by hand.
Run from anywhere inside a checkout: the program is built from the
checkout's sources with sbt when its classes are missing or stale, and
launched with plain `java` on the exported classpath. Everything a run
makes lives under `.perfbench/` at the checkout root and is removed
when the run ends. The last line of stdout is the result as JSON; with
`--trace 0` it carries the end-to-end metrics of BENCHMARK.json, with
`--trace 1` the per-layer ones, from a run that also times each layer.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")

sys.dont_write_bytecode = True
import catalog  # noqa: E402
import etl  # noqa: E402
import status  # noqa: E402

# The reference speed: a calibration time of 0.3 s, a round figure
# inside the 0.19-0.38 s Harness.calibrate took on the 4-vCPU host of
# the reference runs (README.md). End-to-end times are reported as they
# would read at that speed.
CALIBRATION_REF_S = 0.3

RUN_LIMIT = 165       # seconds a run may take once the program is built
BUILD_LIMIT = 840     # seconds the sbt build may take
CORES = min(4, len(os.sched_getaffinity(0)))

# build.sbt's javaOptions: the module opens Spark needs on JDK 17 and
# the larger JIT code cache.
JAVA_OPTS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
    # no /tmp/hsperfdata file: a run writes only inside its checkout
    "-XX:-UsePerfData",
    # C1 only, as short-lived JVMs like cron ticks often run: a run then
    # reaches steady speed within a few operations, where C2 keeps
    # compiling (and its measured operations keep speeding up) for
    # minutes
    "-XX:TieredStopAtLevel=1",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]


class Failure(Exception):
    pass


def remove(path):
    shutil.rmtree(path, ignore_errors=True)


def fresh_dir(name):
    d = os.path.join(WORK, name)
    remove(d)
    os.makedirs(d)
    return d


def fingerprint():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness if their sources changed since
    the last build in this checkout; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise Failure(f"no program sources (build.sbt, src/main) in {ROOT}")
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(
                os.path.exists(e) for e in s["classpath"].split(os.pathsep)):
            return s["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_LIMIT)
    except subprocess.TimeoutExpired:
        raise Failure("sbt build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise Failure("sbt build failed:\n" + "\n".join(lines[-40:]))
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def java(main, args, cwd, cp, timeout):
    """Run one harness main in a fresh JVM with its temp dir, Spark local
    dir and working dir inside `cwd`. Returns the main's result line
    and the wall time from launch to exit."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(CORES),
               SPARK_GRAFT_MASTER=f"local[{CORES}]", SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", cp, main] + args)
    log = os.path.join(cwd, "jvm.log")
    with open(log, "a") as err:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, timeout))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
        wall = time.time() - t0
    results = [l[len("PERFBENCH "):] for l in out.splitlines()
               if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not results:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise Failure(f"{main} exited with {p.returncode}:\n{tail}")
    r = json.loads(results[-1])
    r["launched"] = t0
    r["wall_s"] = wall
    return r


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, a, cp):
        self.a = a
        self.cp = cp
        self.dir = fresh_dir("run")
        self.deadline = time.time() + RUN_LIMIT
        self.first_op = None     # when the first timed operation started
        self.setups = []         # each JVM's launch to its first timed operation
        self.problems = []       # wrong outputs of operations that did not fail
        self.attempted = 0
        self.failed = 0
        self.jvms = []           # result lines of every JVM of the run
        self.calibrations = []   # calibration times, s

    def java(self, main, args, cwd):
        r = java(main, args, cwd, self.cp, self.deadline - time.time())
        self.jvms.append(r)
        return r

    def mark_first_op(self, r, at):
        """`at`: when JVM `r` started its first timed operation."""
        self.setups.append(at - r["launched"])
        if self.first_op is None:
            self.first_op = at

    def measuring(self, rounds):
        """Another whole round? At least one, then until --seconds."""
        return rounds == 0 or time.time() - self.first_op < self.a.seconds

    def totals_per_op(self):
        t = {}
        for r in self.jvms:
            for k, v in (r.get("totals") or {}).items():
                t[k] = t.get(k, 0) + v
        ops = max(1, self.attempted)
        return {f"{k}_per_op": t.get(k, 0) / ops for k in
                ["jobs", "tasks", "task_busy_s", "shuffle_write_bytes",
                 "spill_bytes", "gc_s"]}

    def startup_s(self):
        return median([r["ready"] - r["launched"] for r in self.jvms
                       if "ready" in r])


def steady_metrics(ops):
    """Medians over the measured operations, each (wall s, CPU s,
    rows)."""
    print("measured operations (wall s, CPU s, rows): " +
          json.dumps([[round(w, 4), round(c, 3), n] for w, c, n in ops]),
          file=sys.stderr)
    return {"steady_s": median([w for w, _, _ in ops]),
            "steady_cpu_s": median([c for _, c, _ in ops]),
            "rows_per_s": median([n / w for w, _, n in ops])}


def etl_ticks(run):
    """One round: the sink is seeded with what tick 0 loaded; ticks
    1..TICKS each re-export the window an hour later, in one JVM that
    lands each tick's file before running it; the probe tick ends it."""
    a = run.a
    hosts, probe_hosts = set(etl.host_names(a.seed)), set(etl.PROBE_HOSTS)
    first, steady, layers = [], [], []
    rounds = 0
    while run.measuring(rounds):
        rd = os.path.join(run.dir, f"round{rounds}")
        staging, in_dir = os.path.join(rd, "staging"), os.path.join(rd, "landing")
        out_dir, ckpt = os.path.join(rd, "sink"), os.path.join(rd, "checkpoint")
        os.makedirs(staging)
        os.makedirs(in_dir)
        expected = etl.seed_sink(list(etl.documents(a.seed, 0)),
                                 os.path.join(out_dir, "data"))
        melted_per_tick = []
        for k in range(1, etl.TICKS + 1):
            docs = list(etl.documents(a.seed, k))
            etl.stage(docs, os.path.join(staging, f"t{k:02d}.json"))
            expected |= etl.expected_rows(docs)
            melted_per_tick.append(etl.melted_count(docs))
        probe_docs = list(etl.probe_documents())
        etl.stage(probe_docs, os.path.join(staging, f"t{etl.TICKS + 1:02d}-probe.json"))
        # qualified URIs: the job's committed-parquet probe misreads a
        # plain path that has a dot- or underscore-named ancestor
        r = run.java("perfbench.EtlTick",
                     [staging] + [pathlib.Path(p).as_uri()
                                  for p in (in_dir, out_dir, ckpt)] +
                     [str(a.trace)], rd)
        ticks = r["ticks"][:etl.TICKS]
        run.mark_first_op(r, ticks[0]["start"])
        run.attempted += len(r["ticks"])
        run.calibrations += r["calibration_s"][1:]
        first.append(ticks[0]["end"] - r["launched"])
        steady += [(t["end"] - t["start"], t["cpu_s"], m)
                   for t, m in zip(ticks[1:], melted_per_tick[1:])]
        layers += [dict(t, tick_overhead_s=t["end"] - t["start"] - t["batch_s"])
                   for t in ticks] if a.trace else []
        rows, sink_bytes = etl.read_sink(os.path.join(out_dir, "data"))
        run.problems += etl.check(rows, expected, hosts)
        stray = {r[1] for r in rows} - hosts - probe_hosts
        if stray:
            run.problems.append(f"rows of unknown hosts {sorted(stray)[:3]}")
        probe_problems = etl.check(rows, etl.expected_rows(probe_docs), probe_hosts)
        if probe_problems:
            run.failed += 1
            print("etl_ticks rounding probe tick failed: " +
                  "; ".join(probe_problems), file=sys.stderr)
        rounds += 1
    e2e = dict(steady_metrics(steady), cold_s=median(first))
    out = {}
    if a.trace:
        out = {f"etl.{k}": median([t[k] for t in layers]) for k in
               ["tick_overhead_s", "parse_melt_s", "dedup_s", "write_s",
                "melted_rows", "gated_rows", "new_rows", "horizon_rows_read",
                "files_written"]}
        out["etl.new_row_ratio"] = out["etl.new_rows"] / out["etl.melted_rows"]
        out["etl.sink_bytes"] = sink_bytes
    return e2e, out


def status_points(run):
    a = run.a
    snap_dir = os.path.join(run.dir, "snapshots")
    want = []
    for s in range(status.SNAPSHOTS):
        snap = status.snapshot(a.seed, s)
        status.land(snap, os.path.join(snap_dir, f"s{s}"))
        want.append((len(snap[1]), status.expected(snap)))
    out_dir = os.path.join(run.dir, "out")
    r = run.java("perfbench.StatusPoll",
                 [snap_dir, out_dir, str(a.seconds), str(int(a.trace))], run.dir)
    run.mark_first_op(r, r["start"])
    run.calibrations += r["calibration_s"][1:]
    polls = r["polls"]
    run.attempted += len(polls)
    counts = []
    for i, p in enumerate(polls):
        rows_in, (exp_points, exp_audit) = want[p["snapshot"]]
        got_points, got_audit = status.read_poll(os.path.join(out_dir, f"poll_{i:04d}"))
        run.problems += [f"poll {i}: {x}" for x in
                         status.check(got_points, got_audit, exp_points, exp_audit)]
        counts.append((rows_in, len(got_points)))
    # the first rounds warm the JIT; the later ones are measured
    warm = slice(r["warm_polls"], None)
    e2e = dict(steady_metrics([(p["wall_s"], p["cpu_s"], c[1]) for p, c in
                               zip(polls[warm], counts[warm])]),
               cold_s=polls[0]["wall_s"])
    traced = {}
    if a.trace:
        traced = {f"status.{k}": median([p[k] for p in polls[warm]]) for k in
                  ["points_build_s", "sink_s", "audit_s"]}
        traced["status.input_reads_per_row"] = median(
            [p["reads_per_row"] for p in polls[warm]])
        n = len(counts)
        traced["status.rows_in"] = sum(c[0] for c in counts) / n
        traced["status.points_written"] = sum(c[1] for c in counts) / n
        traced["status.dropped_rows"] = sum(c[0] - c[1] for c in counts) / n
    return e2e, traced


def catalog_mix(run):
    a = run.a
    names = catalog.QUERIES
    results = []
    rounds = 0
    while run.measuring(rounds):
        rd = os.path.join(run.dir, f"round{rounds}")
        os.makedirs(rd)
        out_dir = os.path.join(rd, "results")
        r = run.java("perfbench.Catalog", [catalog.DATA, out_dir, ",".join(names),
                                           str(a.seconds), str(int(a.trace))], rd)
        run.mark_first_op(r, r["start"])
        # the cold pass, the warm-up pass and the measured passes
        run.attempted += len(names) * (2 + len(r["warm_s"]))
        run.calibrations += r["calibration_s"][1:]
        run.problems += catalog.check(out_dir, names)
        run.problems += [f"{n}: warm rows differ from cold rows"
                         for n in r["warm_differs"]]
        results.append(r)
        rounds += 1
    # every warm pass collects all the round's rows again
    passes = [(w, c, sum(q["rows"] for q in r["queries"].values()))
              for r in results for w, c in zip(r["warm_s"], r["warm_cpu_s"])]
    e2e = dict(steady_metrics(passes),
               cold_s=median([r["cold_s"] for r in results]))
    traced = {}
    if a.trace:
        for n in names:
            for k in ["build_s", "exec_s"]:
                traced[f"catalog.{n}.{k}"] = median(
                    [r["queries"][n][k] for r in results])
            traced[f"catalog.{n}.warm_s"] = median(
                [w for r in results for w in r["queries"][n]["warm_s"]])
            for k in ["jobs", "shuffle_write_bytes"]:
                traced[f"catalog.{n}.{k}"] = median(
                    [r["trace"]["per_query"][n][k] for r in results])
        traced["catalog.eager_jobs"] = median(
            [r["trace"]["eager_jobs"] for r in results])
        traced["catalog.idle_core_share"] = median(
            [r["trace"]["idle_core_share"] for r in results])
    return e2e, traced


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "ratio" if name.endswith("share") else "count"


WORKLOADS = {"etl_ticks": etl_ticks, "status_points": status_points,
             "catalog_mix": catalog_mix}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    run = Run(a, cp)
    try:
        e2e, traced = WORKLOADS[a.workload](run)
    finally:
        remove(run.dir)
    print(f"set-up of each JVM (s): {json.dumps(run.setups)} "
          f"calibrations: {json.dumps(run.calibrations)}", file=sys.stderr)
    # times at the reference speed: the run's own times, scaled by how
    # much slower than the reference the calibration ran in this run
    calibration = median(run.calibrations)
    scale = CALIBRATION_REF_S / calibration
    e2e = dict(e2e, steady_s=e2e["steady_s"] * scale,
               rows_per_s=e2e["rows_per_s"] / scale,
               setup_s=median(run.setups) * scale)
    if a.trace:
        got = dict(traced, startup_s=run.startup_s(),
                   peak_rss_mb=max(r["peak_rss_mb"] for r in run.jvms),
                   cold_s=e2e["cold_s"], calibration_s=calibration,
                   steady_cpu_s=e2e["steady_cpu_s"],
                   traced_steady_s=e2e["steady_s"], **run.totals_per_op())
        wanted = spec["per_layer"]
        if a.workload not in {w["name"] for w in spec["workloads"]}:
            # a workload run by hand: its own layer metrics as well
            have = {m["name"] for m in wanted}
            wanted = wanted + [{"name": k, "unit": unit_of(k)}
                               for k in traced if k not in have]
    else:
        got, wanted = e2e, spec["end_to_end"]
    metrics = {}
    for m in wanted:
        # a layer another workload exercises does no work in this one
        v = got.get(m["name"], 0.0 if a.trace else None)
        if v is None:
            raise Failure(f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for p in run.problems:
        print("check failed: " + p, file=sys.stderr)
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))


if __name__ == "__main__":
    # a TERM unwinds like an error, so a running JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
