"""graft's benchmark: one workload run from a seed, checked, with metrics.

    python3 perfbench/run.py --workload extract|pack|all \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source (see build.py), generates the
catalog and the seeded workload inputs into a private work dir under the
build dir, runs the workload in one fresh JVM (`graftbench.Harness`),
checks the outputs, deletes the work dir, and prints a readable summary
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, from a traced run of fixed size.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen

ROOT = build.ROOT
WORKLOADS = ["extract", "pack"]
# Catalog scale (1.0 = TPC-H SF1 row counts): the smoke scale of graft's
# DuckDB oracle. At this size every op's cost is Spark job and driver
# overhead, which is what the roadmap's performance items cut.
SCALE = 0.001
CATALOG_SEED = 42
# Whole op cycles per timed loop, at least, whatever --seconds says.
MIN_CYCLES = {"extract": 2, "pack": 1}
RUN_LIMIT_S = 170
N_QUERIES = 400
DIGEST_OPS = 8

# The fixed pack subset: the five job-heavy queries the roadmap tracks, and
# one query of every other pack module, so every module is measured. The
# Dedup query is one that builds no standing index: the MinHash signature
# build alone would add about 9 s to every set-up, and the traced run times
# all 19 index families anyway.
PACK_QUERIES = [
    "q_subset_full", "q_subset_parents",   # SpecQueries
    "q_trimmed_mean",                      # Analytic
    "q_inspect_diff",                      # Inspect
    "q_bpe_merges",                        # TextAnalysis
    "q_join_3way",                         # Relational
    "q_dedup_exact",                       # Dedup
    "q_knn_ivf",                           # Similarity
    "q_agg_salted",                        # Skew
    "q_bm25",                              # Search
    "q_merge_upsert",                      # Lakehouse
    "q_bloom_join",                        # RuntimeFilter
    "q_multimodal_features",               # Multimodal
]

# One extract op cycle: (root, join_depth, backref_depth) slots covering
# every root and depths 0-5 and 0-2; the seed picks each slot's filter and
# limits, and the order. The slots are chosen to cost about the same (about
# 1 s each on 4 cores), so the median op does not jump between cost levels
# when the order changes; combinations costing 2-4x that are left out.
EXTRACT_SLOTS = [
    ("customer", 2, 0), ("customer", 0, 2),
    ("orders", 2, 0), ("orders", 5, 0),
    ("lineitem", 0, 1),
    ("supplier", 2, 0), ("supplier", 5, 0),
    ("part", 2, 1),
]
# The set-up's warm-up op: a fixed slot, so every seed sets up the same way.
WARM_SLOTS = [("orders", 2, 1)]

ROOT_WHERE = {
    "customer": lambda r: r.choice([
        {"c_mktsegment": r.choice(gen.SEGMENTS)},
        {"c_acctbal": {"$gte": round(r.uniform(0, 9000), 2)}},
        {"c_nationkey": {"$in": r.sample(range(25), 3)}}]),
    "orders": lambda r: r.choice([
        {"o_orderpriority": r.choice(gen.PRIORITIES)},
        {"o_totalprice": {"$gte": round(r.uniform(1000, 400000), 2)}},
        {"o_orderstatus": r.choice(["F", "O", "P"])}]),
    "lineitem": lambda r: r.choice([
        {"l_returnflag": r.choice(["A", "N", "R"])},
        {"l_quantity": {"$gte": r.randint(1, 45)}},
        {"l_discount": {"$lte": r.randint(0, 9) / 100}}]),
    "supplier": lambda r: r.choice([
        {"s_nationkey": {"$in": r.sample(range(25), 5)}},
        {"s_acctbal": {"$gte": round(r.uniform(0, 8000), 2)}}]),
    "part": lambda r: r.choice([
        {"p_type": r.choice(gen.PART_TYPES)},
        {"p_size": {"$lte": r.randint(5, 50)}},
        {"p_brand": f"Brand#{r.randint(1, 25)}"}]),
}


def extract_query(rng, root, jd, bd):
    return {"from": root, "where": ROOT_WHERE[root](rng), "limit": rng.randint(5, 50),
            "join_depth": jd, "backref_depth": bd, "backref_limit": rng.randint(1, 10)}


def extract_queries(rng):
    """dbcut queries in whole cycles of EXTRACT_SLOTS, each cycle shuffled."""
    out = []
    while len(out) < N_QUERIES:
        cycle = list(EXTRACT_SLOTS)
        rng.shuffle(cycle)
        out += [extract_query(rng, *slot) for slot in cycle]
    return out


def snapshot_queries(rng):
    """An orders window of one year that slides 10-30 days per op."""
    first, span = datetime.date(1995, 1, 1), 2400 - 365
    day = rng.randint(0, span)
    out = []
    for _ in range(N_QUERIES):
        lo = first + datetime.timedelta(days=day % span)
        hi = lo + datetime.timedelta(days=365)
        out.append({"from": "orders",
                    "where": {"o_orderdate": {"$gte": lo.isoformat(), "$lt": hi.isoformat()}},
                    "limit": rng.randint(1000, 2000), "join_depth": 1,
                    "backref_depth": 1, "backref_limit": 3})
        day += rng.randint(10, 30)
    return out


def pack_order(rng, cycles=40):
    out = []
    for _ in range(cycles):
        c = list(PACK_QUERIES)
        rng.shuffle(c)
        out += c
    return out


def write_lines(path, rows):
    with open(path, "w") as f:
        f.write("".join(f"{r}\n" for r in rows))


def prepare(work, workload, seed):
    # the catalog is the same for every seed, like a fixed test catalog: the
    # seed varies what the program is asked to do, not the data it reads
    data = os.path.join(work, "data")
    gen.generate(data, CATALOG_SEED, SCALE)
    rng = random.Random(f"{workload}:{seed}")
    if workload == "pack":
        write_lines(os.path.join(work, "cycle"), [len(PACK_QUERIES), MIN_CYCLES[workload]])
        write_lines(os.path.join(work, "order.txt"), pack_order(rng))
        write_lines(os.path.join(work, "pack_queries.txt"), PACK_QUERIES)
    else:
        write_lines(os.path.join(work, "cycle"), [len(EXTRACT_SLOTS), MIN_CYCLES[workload]])
        write_lines(os.path.join(work, "queries.jsonl"),
                    [json.dumps(q, sort_keys=True) for q in extract_queries(rng)])
        write_lines(os.path.join(work, "warm.jsonl"),
                    [json.dumps(extract_query(rng, *slot), sort_keys=True)
                     for slot in WARM_SLOTS])
        write_lines(os.path.join(work, "snapshot.jsonl"),
                    [json.dumps(q, sort_keys=True) for q in snapshot_queries(rng)])
    return data


def run_harness(classpath, work, data, workload, seconds, trace, deadline):
    result = os.path.join(work, "result.json")
    cmd = ["java", *build.JVM_OPENS, *build.JVM_QUIET, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "graftbench.Harness",
           workload, work, data, str(seconds), str(trace), result]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"{workload}: harness did not finish in time")
    if p.returncode != 0 or not os.path.exists(result):
        tail = open(log_path, errors="replace").read()[-3000:]
        raise RuntimeError(f"{workload}: harness exited {p.returncode}\n{tail}")
    with open(result) as f:
        res = json.load(f)
    if "fatal" in res:
        tail = open(log_path, errors="replace").read()[-3000:]
        raise RuntimeError(f"{workload}: {res['fatal']}\n{tail}")
    return res


def tail_stat(xs):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


def duck():
    import duckdb
    return duckdb.connect()


PK = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
      "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
      "lineitem": "l_orderkey"}


def check_extract(res, seed, data):
    """Every op's destination passed CLI `check`, and every destination row
    is a row of the source. Also returns a digest of (op, table, rows,
    key_sum) over the first ops, which repeats for a seed, and the stored
    bytes ratio: over every (op, table), the median of the table's
    destination bytes over the source bytes of the same number of rows."""
    problems = []
    con = duck()
    src_bytes = {t: os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in PK}
    src_rows = {t: con.execute(f"SELECT count(*) FROM '{data}/{t}.parquet'").fetchone()[0]
                for t in PK}
    digest_rows, ratios = [], []
    for d in res["checked_dests"]:
        if d["verdict"] != "check: all rules passed":
            problems.append(f"op {d['i']}: {d['verdict']} {d['violations'][:3]}")
        for t in sorted(os.listdir(d["dest"])):
            tdir = os.path.join(d["dest"], t)
            if t not in PK or not os.path.isdir(tdir):
                continue
            files = f"'{tdir}/*.parquet'"
            cols = ", ".join(f'"{c[0]}"' for c in
                             con.execute(f"DESCRIBE SELECT * FROM {files}").fetchall())
            stray = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {files} EXCEPT ALL "
                                f"SELECT {cols} FROM '{data}/{t}.parquet')").fetchone()[0]
            if stray:
                problems.append(f"op {d['i']}: {stray} {t} rows not in the source")
            rows, ksum = con.execute(f"SELECT count(*), coalesce(sum(CAST({PK[t]} AS BIGINT)), 0) "
                                     f"FROM {files}").fetchone()
            if d["i"] < DIGEST_OPS:
                digest_rows.append(f"{d['i']}|{t}|{rows}|{ksum}")
            dest_bytes = sum(os.path.getsize(os.path.join(tdir, f)) for f in os.listdir(tdir))
            if rows:
                ratios.append(dest_bytes / (src_bytes[t] * rows / src_rows[t]))
    digest = hashlib.sha256(f"{seed}\n{chr(10).join(digest_rows)}".encode()).hexdigest()[:16]
    lines = [f"check: {len(res['checked_dests'])} destinations: CLI check (PK/FK) and "
             f"subset-of-source {'ok' if not problems else 'FAILED'}",
             f"digest(seed={seed}, first {DIGEST_OPS} ops) = {digest}"]
    return problems, lines, statistics.median(ratios)


def check_pack(res):
    problems = [f"{q} failed in set-up: {e}" for q, e in res["setup_failed"].items()]
    problems += [f"{q}: {e}" for q, e in res["verify_failed"].items()]
    checker = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(checker):
        return problems + ["tools/check.py is missing"], [], 0.0
    r = subprocess.run([sys.executable, checker, res["source_dir"], res["verify_dir"]],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    fails = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    summary = (r.stdout.strip().splitlines() or ["(no output)"])[-1]
    if r.returncode != 0 or fails:
        problems += fails or [summary]
    lines = [f"check: DuckDB oracle over the {len(PACK_QUERIES)} pack queries: {summary}"]
    return problems, lines, res["stored_bytes"] / max(1, res["corpus_bytes"])


def new_work(name):
    work = os.path.join(build.build_dir(), "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def one(workload, seed, seconds, trace, classpath):
    start = time.time()
    work = new_work(f"{workload}-{seed}-{os.getpid()}")
    try:
        data = prepare(work, workload, seed)
        res = run_harness(classpath, work, data, workload, seconds, trace,
                          start + RUN_LIMIT_S)
        ops = res["ops"]
        attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
        lines = [f"workload={workload} seed={seed} trace={trace} attempted={attempted} "
                 f"failed={failed} failed_share={failed / max(1, attempted):.4f}"]
        lines += [f"  op {o['i']} FAILED: {o['err']}" for o in ops if not o["ok"]]
        secs = [o["s"] for o in ops if o["ok"]]
        if not secs:
            raise RuntimeError(f"{workload}: no op completed\n" + "\n".join(lines))
        lines.append("  op seconds: " + " ".join(f"{o['s']:.3f}" for o in ops))
        lines.append("  set-up seconds: " + " ".join(f"{x:.3f}" for x in res["setup_reps_s"]))
        lines.append("  harness phase seconds: " +
                     ", ".join(f"{k}={v:.1f}" for k, v in res["phase_s"].items()))
        if workload == "extract":
            problems, check_lines, ratio = check_extract(res, seed, data)
            if trace:
                verdict = (res["snapshot_check"] or ["(none)"])[-1]
                check_lines.append(f"snapshot probe check: {verdict}")
                if verdict != "check: all rules passed":
                    problems.append(f"snapshot probe: {verdict}")
        else:
            problems, check_lines, ratio = check_pack(res)
        lines += [f"  {l}" for l in check_lines]
        sentinel = res["sentinel_s"]
        lines.append(f"  machine.sentinel_s before/after = {sentinel[0]:.4f} / "
                     f"{sentinel[1]:.4f} s (diagnostic only)")
        lines.append(f"  storage.bytes_ratio = {ratio:.4f} (diagnostic only)")
        if trace:
            layers = dict(res["layers"], **{"machine.sentinel_s": statistics.median(sentinel),
                                            "storage.bytes_ratio": ratio})
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        else:
            tail, pct = tail_stat(secs)
            lines.append(f"  op_tail_s = {tail:.4f} s at p{pct:.0f} of {len(secs)} ops "
                         f"(diagnostic only)")
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "ops_per_min": {"value": 60.0 * len(secs) / res["timed_s"], "unit": "1/min"},
                "op_p50_s": {"value": statistics.median(secs), "unit": "s"},
            }
        lines += [f"  PROBLEM {p}" for p in problems]
        lines += [f"  {k} = {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
        lines.append(f"  run wall {time.time() - start:.1f} s")
        return {"correct": not problems, "attempted": attempted, "failed": failed,
                "metrics": metrics}, lines
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_unit(name):
    if name.endswith(("ratio", "share", "per_table")):
        return "ratio"
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 1
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        try:
            result, lines = one(w, a.seed, a.seconds, a.trace, classpath)
        except Exception as e:
            print(f"[bench] {w}: {e}", file=sys.stderr)
            return 1
        print("\n".join(lines))
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
