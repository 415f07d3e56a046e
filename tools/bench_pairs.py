#!/usr/bin/env python3
"""Paired benchmark runs of a parent revision against the working tree.

Runs `python3 e2ebench/run.py` unchanged (untraced, the run length set
by BENCHMARK.json) in two checkouts, alternating which side goes first
from one seed to the next, and prints for every end-to-end metric and
workload each side's median and quartiles, the pairs the working tree
won, and the verdict of the paired-runs rule: a gain needs at least
nine wins in ten pairs and a median gap wider than the parent's
interquartile range. It also prints each side's median wall time per
stage of the timed iterations (`diagnostics.timed_parts_s`: `objects`,
`upsert`, ... for `alto_flow`), so a saving can be placed in a stage
without a traced run. Usage (from the repository root):

    python3 tools/bench_pairs.py --parent HEAD --seeds 31-40 \\
        --workload alto_flow --log pairs.jsonl
    python3 tools/bench_pairs.py --report pairs.jsonl

The parent checkout is a `git archive` of the revision, extracted into
`--parent-dir` (a new temporary directory by default) and reused when
that directory already holds files, so its build is kept between
invocations. Each run's result is appended to `--log` as one JSON line;
`--report` prints the table for such a log without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def load_spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text):
    """'31-34' or '31,33,40' (or a mix) to a list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def parse_result(stdout):
    """The result object of a run: the last line of its standard output
    that parses as JSON and carries `metrics`; None if there is none."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            return obj
    return None


def parse_parts(stdout):
    """Per-stage wall seconds of a run: the median over its timed
    iterations of each stage in the diagnostics line's `timed_parts_s`;
    None if the run printed no diagnostics."""
    for line in stdout.strip().splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "diagnostics" in obj:
            runs = obj["diagnostics"].get("timed_parts_s") or []
            stages = sorted({name for run in runs for name in run})
            return {name: statistics.median(run[name] for run in runs if name in run)
                    for name in stages}
    return None


def quartiles(xs):
    """(q1, median, q3), quartiles as `statistics.quantiles(n=4)`."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def ok(rec):
    r = rec.get("result")
    return rec.get("rc") == 0 and r is not None and r["correct"] and r["failed"] == 0


def summarise(records, spec):
    """One row per (workload, end-to-end metric) over the logged runs.
    A seed counts as a pair when both sides ran it correctly."""
    rows = []
    workloads = sorted({r["workload"] for r in records})
    for w in workloads:
        runs = {s: {r["seed"]: r for r in records if r["workload"] == w and r["side"] == s}
                for s in SIDES}
        seeds = sorted(set(runs["parent"]) & set(runs["change"]))
        paired = [s for s in seeds if ok(runs["parent"][s]) and ok(runs["change"][s])]
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            lower = m["better"] == "lower"
            val = {side: [runs[side][s]["result"]["metrics"][name]["value"] for s in paired]
                   for side in SIDES}
            row = {"workload": w, "metric": name, "pairs": len(paired),
                   "failed_runs": {side: sum(not ok(r) for r in runs[side].values())
                                   for side in SIDES}}
            if not paired:
                row["verdict"] = "no pairs"
                rows.append(row)
                continue
            for side in SIDES:
                row[side] = quartiles(val[side])
            wins = losses = 0
            for p, c in zip(val["parent"], val["change"]):
                better = c < p if lower else c > p
                worse = c > p if lower else c < p
                wins += better
                losses += worse
            row["wins"], row["losses"] = wins, losses
            pq1, pmed, pq3 = row["parent"]
            cq1, cmed, cq3 = row["change"]
            gap = (pmed - cmed) if lower else (cmed - pmed)
            row["rel_change"] = (cmed - pmed) / pmed if pmed else 0.0
            spread = max((pq3 - pq1) / pmed if pmed else 0.0,
                         (cq3 - cq1) / cmed if cmed else 0.0)
            all_better = (max(val["change"]) < min(val["parent"]) if lower
                          else min(val["change"]) > max(val["parent"]))
            worse_by = -gap / pmed if pmed else 0.0
            if wins >= 0.9 * len(paired) and gap > pq3 - pq1:
                row["verdict"] = "gain"
            elif worse_by > bound:
                row["verdict"] = "regressed"
            elif spread > bound and not all_better:
                row["verdict"] = "unresolved"
            else:
                row["verdict"] = "within bound"
            rows.append(row)
    return rows


def summarise_stages(records):
    """One row per (workload, stage): each side's median over its
    correct runs of the run's per-stage wall seconds."""
    rows = []
    for w in sorted({r["workload"] for r in records}):
        per_side = {side: [r["parts"] for r in records
                           if r["workload"] == w and r["side"] == side and ok(r) and r.get("parts")]
                    for side in SIDES}
        stages = sorted({name for side in SIDES for parts in per_side[side] for name in parts})
        for name in stages:
            row = {"workload": w, "stage": name}
            for side in SIDES:
                xs = [parts[name] for parts in per_side[side] if name in parts]
                row[side] = statistics.median(xs) if xs else None
                row[side + "_runs"] = len(xs)
            rows.append(row)
    return rows


def format_stages(rows):
    out = ["| workload | stage | parent median s | change median s | change | runs |",
           "|---|---|---|---|---|---|"]
    for r in rows:
        p, c = r["parent"], r["change"]
        rel = f"{(c - p) / p:+.1%}" if p and c is not None else ""
        fmt = lambda x: "" if x is None else f"{x:.4g}"
        out.append(f"| {r['workload']} | {r['stage']} | {fmt(p)} | {fmt(c)} | {rel} "
                   f"| {r['parent_runs']}/{r['change_runs']} |")
    return "\n".join(out)


def report(records, spec):
    return format_rows(summarise(records, spec)) + "\n\n" + format_stages(summarise_stages(records))


def _quartiles_text(q):
    return " / ".join(f"{x:.4g}" for x in q)


def format_rows(rows):
    out = ["| workload | metric | parent q1 / median / q3 | change q1 / median / q3 "
           "| change | pairs won | verdict |",
           "|---|---|---|---|---|---|---|"]
    for r in rows:
        if "parent" not in r:
            out.append(f"| {r['workload']} | {r['metric']} | | | | 0/0 | {r['verdict']} |")
            continue
        out.append(f"| {r['workload']} | {r['metric']} | {_quartiles_text(r['parent'])} "
                   f"| {_quartiles_text(r['change'])} "
                   f"| {r['rel_change']:+.1%} | {r['wins']}/{r['pairs']} | {r['verdict']} |")
    fails = {(r["workload"], s): r["failed_runs"][s] for r in rows for s in SIDES}
    out.append("failed or incorrect runs: " + ", ".join(
        f"{w} {s} {n}" for (w, s), n in sorted(fails.items())))
    return "\n".join(out)


def read_log(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def extract(rev, dst):
    """`git archive` of `rev` into `dst`, unless `dst` already holds files."""
    os.makedirs(dst, exist_ok=True)
    if os.listdir(dst):
        print(f"[pairs] reusing the parent checkout in {dst}", file=sys.stderr)
        return
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dst], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "e2ebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return {"rc": p.returncode, "result": parse_result(p.stdout), "parts": parse_parts(p.stdout),
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", default="HEAD", help="revision to compare against")
    ap.add_argument("--parent-dir", help="where the parent checkout is extracted")
    ap.add_argument("--seeds", help="e.g. 31-40 or 31,35,40")
    ap.add_argument("--workload", action="append",
                    help="repeatable; default every workload in BENCHMARK.json")
    ap.add_argument("--log", help="append each run's result here (JSON lines)")
    ap.add_argument("--report", help="print the table for a saved log and exit")
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.report:
        print(report(read_log(args.report), spec))
        return 0
    if not args.seeds:
        ap.error("--seeds is required unless --report is given")
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    parent_dir = args.parent_dir or tempfile.mkdtemp(prefix="bench-parent-")
    extract(args.parent, parent_dir)
    checkouts = {"parent": parent_dir, "change": ROOT}
    records = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for w in workloads:
            for side in order:
                rec = {"side": side, "workload": w, "seed": seed, "first": order[0]}
                rec.update(run_one(checkouts[side], w, seed, spec["run_seconds"]))
                records.append(rec)
                r = rec["result"]
                wall = r["metrics"]["wall_rel"]["value"] if r else float("nan")
                print(f"[pairs] {w} seed {seed} {side}: rc {rec['rc']}, "
                      f"correct {r and r['correct']}, wall_rel {wall:.2f}", file=sys.stderr)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    print(report(records, spec))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
