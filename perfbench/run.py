#!/usr/bin/env python3
"""The repository benchmark: builds the engine and the harness from source,
runs one workload for a fixed time in a fresh JVM, checks every output and
prints every metric with its unit. See perfbench/README.md.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --record <graft.Verify dump dir>

The last line of stdout is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
with every end-to-end metric (--trace 0) or every per-layer metric (--trace 1)
of BENCHMARK.json. Exit status 0 only when every op succeeded and every
output check passed. Build products and run records go to .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
WORKLOADS = ("headline_queries", "raster_round_trip")
FORMATS = ("grib", "nc", "cog", "zarr")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
MB = 1048576.0

# what SparkSubmit would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, timeout, log, env=None):
    """Runs cmd in its own process group, output to `log`; kills the whole
    group on timeout and always waits for it. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compiles engine + harness with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp, cp = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.exists() and cp.exists() and stamp.read_text() == digest:
        return cp.read_text().strip()
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = WORK / "build.log"
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, log, env)
    if rc != 0:
        print(tail(log), file=sys.stderr)
        die(f"build failed (exit {rc}); log in {log}")
    lines = [l for l in log.read_text().splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines:
        die(f"build printed no classpath; log in {log}")
    cp.write_text(lines[-1].strip())
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp.read_text().strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)


def jvm(classpath, args, log, timeout):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main"] + args)
    return run_proc(cmd, ROOT, timeout, log)


# ---------------------------------------------------------------- statistics

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted mean of all
    order statistics. Unlike a single order statistic it does not jump when
    the sample has a gap at the quantile, which op times of mixed query
    kinds do."""
    s, n = sorted(xs), len(xs)
    if n <= 1:
        return s[0] if s else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def median(xs):
    return quantile(xs, 0.5)


def tail_latency(times):
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it
    (nearest rank); the median when the sample supports none of them."""
    n = len(times)
    for p in (99, 95, 90, 75):
        if n - math.ceil(p * n / 100) >= 10:
            return quantile(times, p / 100), p, n
    return median(times), 50, n


def by_kind(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    return kinds


def suite(kinds):
    return sum(median([o["wall_s"] for o in v]) for v in kinds.values())


# GRIB2 decode speed is bimodal from one JVM to the next (README), which
# alone would put the read rate's spread past its bound. GRIB2 reads stay
# in suite_s, the latency metrics and sources.read_s.grib.
RATE_EXCLUDED = {"read.grib"}


def rate(kinds, field, role):
    """Rows per second of the op kinds in `role` (or "query", which both
    reads and writes): the rows of one op of each kind over the sum of
    their median times."""
    sel = [v for k, v in kinds.items()
           if v[0]["role"] in (role, "query") and k not in RATE_EXCLUDED]
    secs = sum(median([o["wall_s"] for o in v]) for v in sel)
    return sum(v[0][field] for v in sel) / secs if secs else 0.0


def end_to_end(rec, good):
    kinds = by_kind(good)
    times = [o["wall_s"] for o in good]
    t, p, n = tail_latency(times)
    print(f"perfbench: query_tail_s is the p{p} of n={n} ops; "
          f"{len(kinds)} op kinds; {rec['rounds']} rounds in {rec['measured_s']:.1f} s")
    su = suite(kinds)
    return {
        "setup_s": (rec["session_s"] + median(rec["setup_s"]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "suite_s": (su, "s"),
        "query_p50_s": (median(times), "s"),
        "query_tail_s": (t, "s"),
        "raster_write_cells_per_s": (rate(kinds, "write_rows", "write"), "1/s"),
        "raster_read_cells_per_s": (rate(kinds, "read_rows", "read"), "1/s"),
    }


# ---------------------------------------------------------------- spans

def union(ivs):
    out = []
    for s, e in sorted(ivs):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def intersect(a, b):
    """Intersection of two sorted disjoint interval lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append([s, e])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def length(ivs):
    return sum(e - s for s, e in ivs)


def op_layers(o, jobs, stages):
    """Per-op layer figures from the op's phases and its job/stage spans.
    Self times partition the op's wall-clock window: op (harness between
    phases), build/plan/exec (driver, no job running), job (a job running
    but none of its stages), stage (a stage running)."""
    js = [j for j in jobs if j["group"] == o["id"]]
    ss = [s for s in stages if s["group"] == o["id"]]
    self_ = {k: 0.0 for k in ("op", "build", "plan", "exec", "job", "stage")}
    phase_s = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    idle = 0.0
    for ph in o["phases"]:
        w = [[ph["start_ms"], ph["end_ms"]]]
        jw = intersect(union([[j["start_ms"], j["end_ms"]] for j in js
                              if j["phase"] == ph["name"]]), w)
        sw = intersect(union([[s["start_ms"], s["end_ms"]] for s in ss
                              if s["phase"] == ph["name"]]), w)
        stage_in_job = length(intersect(sw, jw))
        self_["stage"] += stage_in_job
        self_["job"] += length(jw) - stage_in_job
        self_[ph["name"]] += length(w) - length(jw)
        phase_s[ph["name"]] += length(w) / 1e3
        if ph["name"] == "exec":
            idle += length(w) - length(sw)
    self_["op"] = (o["end_ms"] - o["start_ms"]) - sum(length([[p["start_ms"], p["end_ms"]]])
                                                      for p in o["phases"])
    skews = [s["task_max_ms"] / max(s["task_median_ms"], 1)
             for s in ss if s["tasks"] >= 2]
    run_s = sum(s["run_ms"] for s in ss) / 1e3
    m = {
        "queries.build_s": phase_s["build"],
        "queries.build_jobs": sum(1 for j in js if j["phase"] == "build"),
        "plans.plan_s": phase_s["plan"],
        "driver.jobs": len(js),
        "driver.stages": len(ss),
        "driver.tasks": sum(s["tasks"] for s in ss),
        "driver.idle_s": idle / 1e3,
        "functions.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
        "functions.run_s": run_s,
        "functions.gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
        "functions.skew": max(skews, default=1.0),
        "exchange.write_mb": sum(s["shuffle_write_bytes"] for s in ss) / MB,
        "exchange.read_mb": sum(s["shuffle_read_bytes"] for s in ss) / MB,
        "exchange.write_s": sum(s["shuffle_write_ns"] for s in ss) / 1e9,
        "exchange.fetch_wait_s": sum(s["fetch_wait_ms"] for s in ss) / 1e3,
        "exchange.spill_mb": sum(s["spill_bytes"] for s in ss) / MB,
        "sources.input_mb": sum(s["input_bytes"] for s in ss) / MB,
        "sources.input_records": sum(s["input_records"] for s in ss),
        "core.cache_peak_mb": o["cache_bytes"] / MB,
    }
    m.update({f"self.{k}_s": v / 1e3 for k, v in self_.items()})
    return m


LAYER_UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count", "plans.plan_s": "s",
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.idle_s": "s", "functions.cpu_s": "s", "functions.run_s": "s",
    "functions.gc_s": "s", "functions.skew": "ratio", "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.write_s": "s", "exchange.fetch_wait_s": "s", "exchange.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_records": "count", "core.cache_peak_mb": "MB",
    "self.op_s": "s", "self.build_s": "s", "self.plan_s": "s", "self.exec_s": "s",
    "self.job_s": "s", "self.stage_s": "s",
}


def untraced_suite(args):
    """suite_s of the untraced run of this workload in this checkout (same
    seed if there is one, else the latest), or None."""
    runs = WORK / "runs"
    same = runs / f"{args.workload}-seed{args.seed}-trace0.json"
    cands = [same] if same.exists() else sorted(
        runs.glob(f"{args.workload}-seed*-trace0.json"), key=lambda p: p.stat().st_mtime)
    for p in reversed(cands):
        res = json.loads(p.read_text()).get("result")
        if res and res["correct"]:
            print(f"perfbench: tracing overhead against {p.relative_to(ROOT)}")
            return res["metrics"]["suite_s"]["value"]
    print("perfbench: no untraced run of this workload yet; "
          "tracing overhead reads 0")
    return None


def per_layer(rec, ops, good, untraced):
    cpus = rec["host"]["nproc"]
    traced = [o for o in good if o["traced"]]
    rows = [op_layers(o, rec["jobs"], rec["stages"]) for o in traced]
    m = {k: (statistics.fmean(r[k] for r in rows) if rows else 0.0, u)
         for k, u in LAYER_UNITS.items()}
    # a peak is a maximum over ops, not a mean
    m["core.cache_peak_mb"] = (max((r["core.cache_peak_mb"] for r in rows),
                                   default=0.0), "MB")
    m["core.cache_left_mb"] = (max((o["cache_left_bytes"] for o in ops),
                                   default=0) / MB, "MB")
    # ratios of totals over the traced ops
    busy = sum(r["functions.run_s"] for r in rows)
    wall = sum(o["wall_s"] for o in traced)
    m["functions.busy_frac"] = (busy / (cpus * wall) if wall else 0.0, "fraction")
    spill, written = m["exchange.spill_mb"][0], m["exchange.write_mb"][0]
    m["exchange.spill_ratio"] = (spill / written if written else 0.0, "ratio")
    kinds = by_kind(good)
    for f in FORMATS:
        w, r = kinds.get(f"write.{f}", []), kinds.get(f"read.{f}", [])
        m[f"sources.write_s.{f}"] = (median([o["wall_s"] for o in w]), "s")
        m[f"sources.read_s.{f}"] = (median([o["wall_s"] for o in r]), "s")
        m[f"sources.bytes_per_cell.{f}"] = (
            w[0]["bytes_out"] / w[0]["write_rows"] if w else 0.0, "B/cell")
    t_suite = suite(by_kind(traced))
    m["trace.overhead_s"] = (t_suite - untraced if untraced else 0.0, "s")
    m["trace.overhead_frac"] = (t_suite / untraced - 1 if untraced else 0.0, "fraction")
    m["trace.accounted_frac"] = (
        sum(sum(r[f"self.{k}_s"] for k in ("op", "build", "plan", "exec", "job", "stage"))
            for r in rows) / wall if wall else 0.0, "fraction")
    m["trace.spans"] = (len(rec["jobs"]) + len(rec["stages"]) +
                        sum(1 + len(o["phases"]) for o in traced), "count")
    m["failed_frac"] = (sum(1 for o in ops if o["error"]) / len(ops), "fraction")
    return m


# ---------------------------------------------------------------- main

def host_record(rec, args, digest):
    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return dict(rec["host"], seed=args.seed, workload=args.workload,
                seconds=args.seconds, trace=args.trace, heap=HEAP,
                commit=commit, source_sha256=digest, skipped=rec["skipped"],
                inputs=rec["inputs"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="graft.Verify dump dir to record "
                    "headline expectations from")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die(f"no engine sources next to {HERE.name}/ (expected build.sbt and "
            "src/main at the checkout root)")

    digest = source_digest()
    classpath = build(digest)
    t0 = time.time()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    logs = WORK / "logs"
    logs.mkdir(exist_ok=True)
    common = ["--data", str(HERE / "data"), "--work", str(run_dir)]
    if args.record:
        log = logs / "record.log"
        rc = jvm(classpath, ["--record", str(Path(args.record).resolve())] + common,
                 log, 900)
        print(tail(log, 30), file=sys.stderr)
        sys.exit(rc)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out, log = WORK / "runs" / f"{name}.json", logs / f"{name}.log"
    out.parent.mkdir(exist_ok=True)
    out.unlink(missing_ok=True)
    ticks0 = cpu_ticks()
    rc = jvm(classpath, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--out", str(out)] + common, log, RUN_TIMEOUT_S)
    if rc != 0 or not out.exists():
        print(tail(log), file=sys.stderr)
        die(f"{args.workload} did not complete (exit {rc}); log in {log}")
    ticks1 = cpu_ticks()
    rec = json.loads(out.read_text())
    # CPU time the hypervisor gave to other guests while this run ran
    rec["host"]["cpu_steal_frac"] = round(
        (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), 4)
    ops = rec["ops"]
    # warm-up ops (round -1) are checked but not timed
    good = [o for o in ops if not o["error"] and o["round"] >= 0]
    failed = sum(1 for o in ops if o["error"])
    host = host_record(rec, args, digest)
    print("perfbench: host " + json.dumps(host, sort_keys=True))
    for o in ops:
        if o["error"]:
            print(f"perfbench: FAILED {o['id']} {o['kind']}: {o['error']}")
    if not good:
        die("every op failed")
    metrics = (per_layer(rec, ops, good, untraced_suite(args))
               if args.trace else end_to_end(rec, good))
    spec = ROOT / "BENCHMARK.json"
    if spec.exists():
        declared = {m["name"] for m in json.loads(spec.read_text())[
            "per_layer" if args.trace else "end_to_end"]}
        if declared != set(metrics):
            die(f"metrics differ from {spec.name}: "
                f"{sorted(declared ^ set(metrics))}")
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    rec["host_record"] = host
    rec["result"] = result
    out.write_text(json.dumps(rec))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: run record with spans in {out.relative_to(ROOT)}; "
          f"{time.time() - t0:.1f} s")
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
