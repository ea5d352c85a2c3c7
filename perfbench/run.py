#!/usr/bin/env python3
"""Component-path benchmark: Keboola jobs through ``graft.component.Main``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the component and the
traced driver with sbt (cached under ``.perfbench/`` until a build input
changes). Each job gets a fresh data directory generated from the seed
(generation is not timed), runs in its own JVM, and has its outputs checked
against the workload's pinned digest. Load model: a closed loop with one
client, since Keboola jobs do not overlap inside a container; a job starts
only while it is expected to end inside the ``--seconds`` window, and at least
one job runs.

``--trace 0`` reports the end-to-end metrics (medians over the run's jobs).
``--trace 1`` runs one untraced job, then traced in-process jobs
(``graft.component.perfbench.Traced``), and reports the per-layer metrics.
The last line of stdout is the JSON result; ``.perfbench/last_run.json``
keeps every job's figures and the load sentinel.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import digest  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "job_wall_s": "s",
    "setup_s": "s",
    "run_s": "s",
    "warehouse_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "jvm.boot_s": "s", "jvm.classes_loaded": "count", "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "registration.s": "s", "registration.calls": "count", "registration.replaced": "count",
    "passthrough.s": "s", "passthrough.tables": "count",
    "ingest.s": "s", "ingest.tables": "count", "ingest.jobs": "count",
    "planner.s": "s", "dialect.prepare_s": "s", "analyzer.s": "s",
    "planner.queries": "count", "planner.batches": "count",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "executor.s": "s", "executor.query_s": "s", "executor.batch_wait_s": "s",
    "executor.parallel_eff": "ratio", "executor.jobs": "count", "executor.stages": "count",
    "executor.tasks": "count", "executor.task_cpu_s": "s", "executor.input_mb": "MB",
    "executor.shuffle_mb": "MB", "executor.spill_mb": "MB", "executor.write_mb": "MB",
    "export.s": "s", "export.mb": "MB", "export.jobs": "count",
    "session.stop_s": "s", "trace.run_s": "s", "trace.wall_s": "s",
    "trace.bookkeeping_s": "s", "trace.unattributed_s": "s", "trace.unattributed_frac": "ratio",
    "trace.overhead_s": "s",
}

# Spark on JDK 17 outside spark-submit needs these (same set as build.sbt)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
HEAP = ["-Xmx3g"]
RUN_LIMIT_S = 170  # every invocation ends well inside the 180 s contract
BUILD_TIMEOUT_S = 850
TOTAL_RE = re.compile(r"^Total component execution time: ([0-9.]+)s$", re.M)


class BenchError(Exception):
    pass


def testdata_dir():
    """The fixture root: ``SPARK_GRAFT_TESTDATA``, else the directory
    TESTDATA.md documents for the generated tables."""
    if os.environ.get("SPARK_GRAFT_TESTDATA"):
        root = Path(os.environ["SPARK_GRAFT_TESTDATA"])
    else:
        doc = ROOT / "TESTDATA.md"
        m = re.search(r"`(/[^`]+)/sf0\.001/`", doc.read_text()) if doc.exists() else None
        if not m:
            raise BenchError("no fixture root: set SPARK_GRAFT_TESTDATA")
        root = Path(m.group(1))
    for sf in ("sf0.01", "sf0.1"):
        if not (root / sf / "lineitem.parquet").exists():
            raise BenchError("fixtures missing under %s/%s" % (root, sf))
    return root


def _build_inputs():
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.sbt")) + \
        sorted((ROOT / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "tracer" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    files += [HERE / "tracer" / "build.sbt", HERE / "tracer" / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        if not f.exists():
            raise BenchError("build input missing: %s" % f.relative_to(ROOT))
        st = f.stat()
        h.update(b"%s %d %d\n" % (str(f.relative_to(ROOT)).encode(), st.st_size, st.st_mtime_ns))
    return h.hexdigest()


def build():
    """Compile the component and the traced driver; return their classpaths."""
    fingerprint = _build_inputs()
    cache = WORK / "build.json"
    if cache.exists():
        cached = json.loads(cache.read_text())
        if cached.get("fingerprint") == fingerprint and all(
                Path(p).exists() for p in cached["classpath"].split(os.pathsep)[:2]):
            return cached
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=%s" % repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    WORK.mkdir(exist_ok=True)
    log = WORK / "build.log"
    with open(log, "wb") as out:
        try:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export tracer/Runtime/fullClasspath"],
                cwd=HERE / "tracer", stdout=subprocess.PIPE, stderr=out, env=env,
                start_new_session=True)
        except OSError as e:
            raise BenchError("build failed: %s" % e)
        try:
            stdout = p.communicate(timeout=BUILD_TIMEOUT_S)[0]
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)  # sbt's JVM runs under its launcher script
            p.wait()
            raise BenchError("build timed out after %d s" % BUILD_TIMEOUT_S)
    out_text = stdout.decode(errors="replace")
    with open(log, "a") as f:
        f.write(out_text)
    lines = [ln for ln in out_text.splitlines() if os.pathsep in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        raise BenchError("build failed (exit %d), see %s" % (p.returncode, log))
    entries = lines[-1].strip().split(os.pathsep)
    tracer_classes = str(HERE / "tracer" / "target")
    component = [e for e in entries if not e.startswith(tracer_classes)]
    result = {
        "fingerprint": fingerprint,
        "classpath": os.pathsep.join(component),
        "traced_classpath": os.pathsep.join(entries),
    }
    cache.write_text(json.dumps(result))
    return result


def cpu_probe_ms():
    """A fixed pure-Python loop; its time rises when the box is contended."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(200000):
            x += i * i % 7
        best = min(best, (time.perf_counter() - t) * 1e3)
    return best


def cpu_times():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor gave
    to other guests while this one wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def sentinel():
    with open("/proc/loadavg") as f:
        fields = f.read().split()
    return {"load1": float(fields[0]), "runnable": int(fields[3].split("/")[0]),
            "probe_ms": cpu_probe_ms(), "cpu": cpu_times()}


def run_jvm(cmd, cwd, timeout):
    """Run one job JVM; return (exit code or None on timeout, wall s, peak RSS MB)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(cwd / "tmp"))
    (cwd / "tmp").mkdir(exist_ok=True)
    with open(cwd / "stdout.log", "wb") as out, open(cwd / "stderr.log", "wb") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, env=env,
                             start_new_session=True)
        code = None
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                code = os.waitstatus_to_exitcode(status)
                break
            if time.perf_counter() - t0 > timeout:
                os.killpg(p.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(p.pid, 0)
                break
            time.sleep(0.01)
        wall = time.perf_counter() - t0
        p.returncode = code if code is not None else -9
    try:
        os.killpg(p.pid, signal.SIGKILL)  # nothing of the job may outlive it
    except ProcessLookupError:
        pass
    return code, wall, usage.ru_maxrss / 1024.0


def dir_mb(path):
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 1048576.0


def run_job(kind, build_info, workload, seed, job_dir, timeout, pinned):
    """Generate a fresh data dir, run one job, check its outputs."""
    if job_dir.exists():
        shutil.rmtree(job_dir)
    data = job_dir / "data"
    data.mkdir(parents=True)
    workloads.generate(workload, seed, data, testdata_dir())
    java = [str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")] \
        if os.environ.get("JAVA_HOME") else ["java"]
    base = java + ADD_OPENS + HEAP + ["-Djava.io.tmpdir=%s" % (job_dir / "tmp")]
    if kind == "traced":
        cmd = base + ["-cp", build_info["traced_classpath"], "graft.component.perfbench.Traced",
                      str(data), str(job_dir / "trace.json"), job_dir.name]
    else:
        cmd = base + ["-cp", build_info["classpath"], "graft.component.Main", str(data)]
    before = sentinel()
    code, wall, rss = run_jvm(cmd, job_dir, timeout)
    after = sentinel()
    (steal0, total0), (steal1, total1) = before["cpu"], after["cpu"]
    rec = {"kind": kind, "job": job_dir.name, "exit": code, "job_wall_s": wall,
           "peak_rss_mb": rss, "sentinel": {
               "before": before, "after": after,
               "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}}
    problems = []
    if code is None:
        problems.append("timeout after %.0f s" % timeout)
    elif code != 0:
        problems.append("exit code %d" % code)
    if kind == "untraced":
        m = TOTAL_RE.search((job_dir / "stdout.log").read_text(errors="replace"))
        if m:
            rec["run_s"] = float(m.group(1))
            rec["setup_s"] = wall - rec["run_s"]
        elif not problems:
            problems.append("no 'Total component execution time' line")
    elif not problems:
        rec["trace"] = json.loads((job_dir / "trace.json").read_text())
        m = rec["trace"]["metrics"]
        if m["trace.unattributed_s"] >= 0.05 * m["trace.wall_s"]:
            problems.append("trace leaves %.1f s of %.1f s unattributed" % (
                m["trace.unattributed_s"], m["trace.wall_s"]))
    wh = data / "out" / "files" / "warehouse"
    rec["warehouse_mb"] = dir_mb(wh) if wh.is_dir() else 0.0
    if not problems:
        rec["digest"], details = digest.outputs_digest(data)
        if pinned is not None and rec["digest"] != pinned:
            (job_dir / "digest_details.json").write_text(json.dumps(details, indent=1))
            problems.append("output digest %s != pinned %s" % (rec["digest"][:12], pinned[:12]))
    rec["problems"] = problems
    if not problems:
        shutil.rmtree(data)  # keep failed jobs' data for inspection only
    return rec


def contaminated(job):
    """Whether a job ran in a busy window: more than 5% of CPU time stolen by
    other guests, or other work runnable on half the cores as it started.
    The load average and the probe are recorded but not used here: both read
    high for a while after any JVM exits, including the previous job's."""
    s = job["sentinel"]
    others = s["before"]["runnable"] - 1  # the harness itself is running
    return s["steal_frac"] > 0.05 or others >= (os.cpu_count() or 2) / 2


def layer_metrics(traced, untraced):
    per_job = []
    for j in traced:
        m = dict(j["trace"]["metrics"])
        m["jvm.peak_rss_mb"] = j["peak_rss_mb"]
        m["trace.unattributed_frac"] = m["trace.unattributed_s"] / m["trace.wall_s"]
        per_job.append(m)
    out = {}
    for name in PER_LAYER:
        if name == "trace.overhead_s":
            continue
        out[name] = statistics.median(m[name] for m in per_job)
    out["trace.overhead_s"] = out["trace.run_s"] - statistics.median(j["run_s"] for j in untraced)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's output digest as the workload's pinned digest")
    a = ap.parse_args(argv)
    try:
        testdata_dir()
        build_info = build()
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    started = time.perf_counter()  # a building run may take longer; others end in time

    pins_file = HERE / "pinned_digests.json"
    pins = json.loads(pins_file.read_text())
    pinned = pins.get(a.workload)
    if pinned is None and not a.pin:
        print("perfbench: no pinned digest for %s" % a.workload, file=sys.stderr)
        return 2
    runs = WORK / "runs"
    if runs.exists():
        shutil.rmtree(runs)
    jobs = []

    def loop(kind, first_index, at_most):
        measured = 0.0
        last = 0.0
        i = first_index
        while len([j for j in jobs if j["kind"] == kind]) < at_most:
            remaining = RUN_LIMIT_S - (time.perf_counter() - started)
            if jobs and remaining < 1.5 * jobs[-1]["job_wall_s"]:
                break
            if measured and measured + last > a.seconds:
                break
            rec = run_job(kind, build_info, a.workload, a.seed, runs / ("job%02d" % i),
                          max(remaining - 5, 1), None if a.pin else pinned)
            if a.pin and not rec["problems"] and "digest" not in rec:
                rec["problems"].append("no digest")
            jobs.append(rec)
            last = rec["job_wall_s"]
            measured += last
            i += 1
            print("perfbench %s %s seed=%d job %d: wall %.2f s%s%s" % (
                a.workload, kind, a.seed, i, last,
                "" if "run_s" not in rec else ", run %.2f s" % rec["run_s"],
                "" if not rec["problems"] else ", FAILED: " + "; ".join(rec["problems"])),
                file=sys.stderr)
        return i

    if a.pin:
        loop("untraced", 0, 1)
        rec = jobs[0]
        if rec["problems"] or "digest" not in rec:
            print("perfbench: cannot pin, job failed: %s" % rec["problems"], file=sys.stderr)
            return 1
        pins[a.workload] = rec["digest"]
        pins_file.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
        print("pinned %s = %s" % (a.workload, rec["digest"]))
        return 0

    n = loop("untraced", 0, 1 if a.trace else 10 ** 6)
    if a.trace and not jobs[0]["problems"]:
        # the traced jobs must reproduce the pinned digest like the untraced one
        loop("traced", n, 10 ** 6)

    failed = sum(1 for j in jobs if j["problems"])
    ok = [j for j in jobs if not j["problems"]]
    untraced = [j for j in (ok or jobs) if j["kind"] == "untraced"]
    traced = [j for j in ok if j["kind"] == "traced"]
    for j in jobs:
        j["contaminated"] = contaminated(j)

    metrics = {}
    if a.trace:
        if traced and [j for j in ok if j["kind"] == "untraced"]:
            values = layer_metrics(traced, [j for j in ok if j["kind"] == "untraced"])
            metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        for k, unit in END_TO_END.items():
            vals = [j[k] for j in untraced if k in j]
            if vals:
                metrics[k] = {"value": statistics.median(vals), "unit": unit}

    WORK.mkdir(exist_ok=True)
    (WORK / "last_run.json").write_text(json.dumps(
        {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
         "jobs": jobs}, indent=1, default=str))
    print("perfbench %s seed=%d: %d job(s), %d failed, %d in a contaminated window; "
          "steal %s" % (a.workload, a.seed, len(jobs), failed,
                        sum(j["contaminated"] for j in jobs),
                        " ".join("%.1f%%" % (100 * j["sentinel"]["steal_frac"]) for j in jobs)))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": len(jobs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
