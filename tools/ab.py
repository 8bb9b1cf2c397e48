#!/usr/bin/env python3
"""A/B the benchmark: a committed revision (default HEAD) against the
working tree, with alternating run order.

    python3 tools/ab.py --workload extract --seeds 7-16 [--seconds 5]
        [--trace 0] [--base HEAD]

The base revision is exported with `git archive` into
`.bench_build/ab/<sha>/`. The working tree's files (`git ls-files -co
--exclude-standard`, uncommitted edits included) are copied into
`.bench_build/ab/<key>/`, where the key is the 40-hex SHA-1 of their
names and contents. Both sides thus run under paths of equal length, so
metrics that count bytes of path-bearing files (Versioned manifests hold
absolute paths) compare. Both copies are kept, so their benchmark builds
are reused by the next call with the same content. For each seed both
trees run `perfbench/run.py` once, one run at a time; the side that goes
first alternates from seed to seed, base first. Each copy runs its own
`perfbench/` and builds into its own `.bench_build/`. Works offline.

Prints every run with its end-to-end metrics (with `--trace 1`, also its
counts: spark.jobs, spark.stages, subset.jobs, tables.schema_jobs and
versioned.files, and two layer times: versioned.commit_ms, graft's own
Versioned commits, and load.write_ms, the harness's replay of plain
DataFrameWriter writes, a control that no change to graft's write path
moves), then per metric: each side's median, the base's
interquartile range, and the pairs the working tree won (direction from
BENCHMARK.json). Exits 1 if any run failed, or if any seed's extract digest
or `correct` verdict differs between the two sides.
"""
import argparse
import hashlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGEST = re.compile(r"digest\(seed=\d+, first \d+ ops\) = (\w+)")
END_TO_END = ("setup_s", "ops_per_min", "op_p50_s")
# traced counts that repeat per seed on unchanged code: each run prints them
COUNTS = ("spark.jobs", "spark.stages", "subset.jobs", "tables.schema_jobs", "versioned.files")
# traced layer times printed next to the counts: a treated layer and its control
TIMES = ("versioned.commit_ms", "load.write_ms")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    d = os.path.join(ROOT, ".bench_build", "ab", sha)
    if not os.path.isdir(d):
        tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                             check=True, stdout=subprocess.PIPE).stdout
        os.makedirs(d + ".part", exist_ok=True)
        tarfile.open(fileobj=io.BytesIO(tar)).extractall(d + ".part")
        os.rename(d + ".part", d)
    return sha[:12], d


def export_work():
    out = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"], cwd=ROOT,
                         check=True, stdout=subprocess.PIPE).stdout.decode()
    files = sorted(f for f in set(out.split("\0")) if f and os.path.isfile(os.path.join(ROOT, f)))
    h = hashlib.sha1()
    for f in files:
        with open(os.path.join(ROOT, f), "rb") as fh:
            data = fh.read()
        h.update(f"{f}\0{len(data)}\0".encode())
        h.update(data)
    key = h.hexdigest()
    d = os.path.join(ROOT, ".bench_build", "ab", key)
    if not os.path.isdir(d):
        shutil.rmtree(d + ".part", ignore_errors=True)
        for f in files:
            dst = os.path.join(d + ".part", f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(os.path.join(ROOT, f), dst)
        os.rename(d + ".part", d)
    return key[:12], d


def run(tree, a, seed):
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                        "--seed", str(seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace)],
                       cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    lines = r.stdout.splitlines()
    result = None
    if r.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    digest = next((m.group(1) for m in map(DIGEST.search, lines) if m), None)
    return {"ok": result is not None, "result": result, "digest": digest,
            "tail": lines[-15:]}


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b["end_to_end"] + b.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "pack"])
    ap.add_argument("--seeds", required=True, help="e.g. 7-16 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    a = ap.parse_args()
    sha, base_dir = export(a.base)
    key, work_dir = export_work()
    sides = {"base": base_dir, "work": work_dir}
    runs = {"base": {}, "work": {}}
    problems = []
    for i, seed in enumerate(seeds(a.seeds)):
        for side in (["base", "work"] if i % 2 == 0 else ["work", "base"]):
            r = runs[side][seed] = run(sides[side], a, seed)
            res = r["result"] or {}
            print(f"seed {seed} {side}: ok={r['ok']} correct={res.get('correct')} "
                  f"failed={res.get('failed')} digest={r['digest']} " +
                  " ".join(f"{k}={m['value']:.4g}" for k, m in
                           sorted(res.get("metrics", {}).items())
                           if k in END_TO_END + (COUNTS + TIMES if a.trace else ())),
                  flush=True)
            if not r["ok"]:
                problems.append(f"seed {seed} {side}: run failed\n  " + "\n  ".join(r["tail"]))
        b, w = runs["base"][seed], runs["work"][seed]
        if b["ok"] and w["ok"]:
            if b["digest"] != w["digest"]:
                problems.append(f"seed {seed}: digest {b['digest']} (base) != {w['digest']} (work)")
            if b["result"]["correct"] != w["result"]["correct"]:
                problems.append(f"seed {seed}: correct {b['result']['correct']} (base) != "
                                f"{w['result']['correct']} (work)")
    better = directions()
    pairs = [s for s in runs["base"] if runs["base"][s]["ok"] and runs["work"][s]["ok"]]
    names = sorted({k for s in pairs for k in runs["work"][s]["result"]["metrics"]})
    print(f"\n{a.workload}, base {a.base} ({sha}) vs working tree ({key}), {len(pairs)} pairs:")
    print(f"{'metric':<34} {'base p50':>12} {'work p50':>12} {'base IQR':>12} {'work wins':>9}")
    for k in names:
        bv = [runs["base"][s]["result"]["metrics"][k]["value"] for s in pairs
              if k in runs["base"][s]["result"]["metrics"]]
        wv = [runs["work"][s]["result"]["metrics"][k]["value"] for s in pairs
              if k in runs["work"][s]["result"]["metrics"]]
        if not bv or not wv or len(bv) != len(wv):
            continue
        q1, q3 = quartiles(bv)
        sign = {"lower": -1, "higher": 1}.get(better.get(k))
        wins = f"{sum(1 for x, y in zip(bv, wv) if (y - x) * sign > 0)}/{len(bv)}" \
            if sign else "-"
        print(f"{k:<34} {statistics.median(bv):>12.5g} {statistics.median(wv):>12.5g} "
              f"{q3 - q1:>12.4g} {wins:>9}")
    for p in problems:
        print(f"PROBLEM {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
