#!/usr/bin/env python3
"""Alternating parent/change pairs of the component benchmark.

    python3 tools/perfbench_pairs.py PARENT CHANGE [--workload W ...]
        [--pairs 10] [--seed 1] [--seconds 20] [--out pairs.json]

PARENT and CHANGE are two checkouts of this repository, each with its own
build. For every workload the script runs ``perfbench/run.py --trace 0`` in
both, ``--pairs`` times, alternating which side goes first, and prints per
side and per end-to-end metric the median and the quartiles, the pairs the
change won (lower is better; ties count for neither side), and whether the
gain rule holds: the change wins at least nine tenths of the pairs and its
median beats the parent's by more than the parent's interquartile range.
Every job that ran in a contaminated window (the benchmark's load sentinel:
CPU steal or other runnable work), failed or missed its pinned digest is
flagged by side and pair. ``--out`` writes every figure as JSON.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

METRICS = ["job_wall_s", "setup_s", "run_s", "warehouse_mb"]


def run_one(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`: (metric values, job records)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit("%s: perfbench failed (exit %d)\n%s" % (checkout, p.returncode, p.stderr[-2000:]))
    result = json.loads(lines[-1])
    jobs = json.loads((Path(checkout) / ".perfbench" / "last_run.json").read_text())["jobs"]
    values = {m: result["metrics"][m]["value"] for m in METRICS if m in result["metrics"]}
    flags = [j["job"] + ":" + ",".join(
        f for f, on in (("contaminated", j.get("contaminated")),
                        ("failed", j.get("exit") != 0),
                        ("digest", bool(j.get("problems")))) if on)
        for j in jobs if j.get("contaminated") or j.get("exit") != 0 or j.get("problems")]
    if not result.get("correct", False):
        flags.append("incorrect")
    return values, flags, [j.get("peak_rss_mb") for j in jobs]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, metric):
    par = [p["parent"]["values"][metric] for p in pairs]
    chg = [p["change"]["values"][metric] for p in pairs]
    wins = sum(c < a for a, c in zip(par, chg))
    losses = sum(c > a for a, c in zip(par, chg))
    pq1, pq3 = quartiles(par)
    cq1, cq3 = quartiles(chg)
    pmed, cmed = statistics.median(par), statistics.median(chg)
    return {
        "parent": {"median": pmed, "q1": pq1, "q3": pq3, "runs": par},
        "change": {"median": cmed, "q1": cq1, "q3": cq3, "runs": chg},
        "wins": wins, "losses": losses, "pairs": len(pairs),
        "gain_holds": wins >= 0.9 * len(pairs) and pmed - cmed > pq3 - pq1,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append",
                    choices=["etl_sf01", "dml_sf01", "many_scripts"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {}
    for wl in a.workload or ["many_scripts"]:
        pairs = []
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                values, flags, rss = run_one(getattr(a, side), wl, a.seed, a.seconds)
                pair[side] = {"values": values, "flags": flags, "peak_rss_mb": rss}
            pairs.append(pair)
            print("%s pair %d: parent run_s %.2f, change run_s %.2f%s" % (
                wl, i + 1, pair["parent"]["values"]["run_s"], pair["change"]["values"]["run_s"],
                "".join(" [%s %s]" % (s, " ".join(pair[s]["flags"])) for s in order if pair[s]["flags"])),
                flush=True)
        report[wl] = {"pairs": pairs, "metrics": {m: summarize(pairs, m) for m in METRICS}}
        for m, s in report[wl]["metrics"].items():
            print("%-12s %-12s parent %.3f [%.3f, %.3f]  change %.3f [%.3f, %.3f]  "
                  "wins %d/%d losses %d  gain rule %s" % (
                      wl, m, s["parent"]["median"], s["parent"]["q1"], s["parent"]["q3"],
                      s["change"]["median"], s["change"]["q1"], s["change"]["q3"],
                      s["wins"], s["pairs"], s["losses"], "holds" if s["gain_holds"] else "does not hold"))
        flagged = [(i + 1, s, f) for i, p in enumerate(pairs) for s in ("parent", "change")
                   for f in p[s]["flags"]]
        print("%s: %d flagged job(s)%s" % (
            wl, len(flagged), "".join("\n  pair %d %s %s" % x for x in flagged)))
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
