#!/usr/bin/env python3
"""Benchmark of the engine: the registered query suite, the neighbour-index
build and the online recommend path. See perfbench/README.md.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds the engine from source (build.py), generates the workload's inputs
from the seed (gen.py), runs the benchmark JVM, checks outputs and prints a
report. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer ones.
``--workload all`` runs every workload untraced and traced and also prints
the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.time()
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
RUN_LIMIT_S = 170

# Input sizes. The suite tables are generated at SUITE_SF (lineitem rows =
# 6M x sf).
SUITE_SF = 0.01
# A serve cycle is SERVE_MIX reads (kind, count) and then one write of
# SERVE_BATCH new products. No traffic record exists, so the mix, the batch
# size, the write ratio and the Zipf popularity are assumptions (README).
SERVE_ROWS, SERVE_BATCH, SERVE_CYCLES = 1_200, 25, 40
SERVE_MIX = (("exact", 6), ("link", 2), ("miss", 2))

# The JIT settings of build.sbt's javaOptions (default tiered C1 + C2).
JIT = ["-XX:ReservedCodeCacheSize=512m"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# -- inputs -----------------------------------------------------------------

def suite_inputs(work, seed):
    return gen.suite_tables(f"{work}/tables", SUITE_SF, seed)


def serve_inputs(work, seed):
    """Catalogue CSV, write batches and the request script: cycles of
    SERVE_MIX reads in a shuffled order, then one write. Exact and link reads
    pick products by Zipf popularity, so repeats exist; from the second cycle
    on, one exact read per cycle asks for a product an earlier write added."""
    cat = gen.Catalogue(seed)
    stats, pool = cat.dirty_csv(f"{work}/serve_products.csv", SERVE_ROWS)
    rng = cat.rng
    order = rng.permutation(len(pool))
    added, lines = [], []
    for c in range(SERVE_CYCLES):
        kinds = [k for k, n in SERVE_MIX for _ in range(n)]
        rng.shuffle(kinds)
        fresh = kinds.index("exact") if added else -1
        for r, kind in enumerate(kinds):
            if r == fresh:
                prod = added[int(rng.integers(0, len(added)))]
            else:
                prod = pool[int(order[min(int(rng.zipf(1.3)) - 1, len(pool) - 1)])]
            q = {"exact": prod["name"], "link": prod["_slug"],
                 "miss": f"~no such product~{c}-{r}"}[kind]
            lines.append(f"read\t{kind}\t{q}")
        batch = cat.rows(SERVE_BATCH)
        gen.write_csv(f"{work}/batch-{c:03d}.csv", batch)
        added += batch
        lines.append(f"write\tbatch-{c:03d}.csv")
    with open(f"{work}/serve_script.tsv", "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    reads = [ln for ln in lines if ln.startswith("read")]
    stats.update({"cycle": dict(SERVE_MIX), "batch_rows": SERVE_BATCH,
                  "script_reads": len(reads), "script_writes": SERVE_CYCLES,
                  "distinct_reads": len(set(reads))})
    return stats


WORKLOADS = {
    "suite_sf001": ("suite", suite_inputs),
    "catalog_serve": ("catalog_serve", serve_inputs),
}


# -- checks -----------------------------------------------------------------

def suite_oracle(work):
    """Compares each query result the set-up dumped under work/check with
    the DuckDB oracle SQL over the same tables (exact, like tools/check.py);
    queries without oracle SQL must return rows. Returns (checks, failures,
    report lines)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")
    check_dir = f"{work}/check"
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(check_dir) if os.path.isdir(f"{check_dir}/{d}"))
    checks, fails, lines = 0, 0, []

    def canon(df):
        df = df[sorted(df.columns)]
        return [tuple(None if (isinstance(v, float) and v != v) or v is None else
                      (v.tolist() if hasattr(v, "tolist") else v)
                      for v in row) for row in df.itertuples(index=False)]

    for name in names:
        checks += 1
        try:
            got = canon(pd.read_parquet(f"{check_dir}/{name}"))
            digest = 0
            for row in got:
                digest = (digest + int.from_bytes(
                    hashlib.md5(repr(row).encode()).digest()[:8], "little")) % (1 << 64)
            if name in oracle:
                want = canon(con.execute(oracle[name]).df())
                ok = got == want
                why = "" if ok else f"differs from oracle ({len(got)} vs {len(want)} rows)"
            else:
                ok, why = len(got) > 0, "no rows"
        except Exception as e:  # a failed check is reported, not raised
            ok, why, got, digest = False, f"{type(e).__name__}: {e}", [], 0
        fails += 0 if ok else 1
        lines.append(f"check {name:<26} rows={len(got):<6} hash={digest:016x} "
                     f"{'oracle' if name in oracle else 'rows-only'} "
                     f"{'ok' if ok else 'FAILED ' + why}")
    return checks, fails, lines


# -- one run ----------------------------------------------------------------

def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_one(workload, seed, seconds, trace, classes, deadline):
    """Runs one workload; returns (result dict, report lines) or exits.
    Set-up time is counted from here, after the build: compiling is not
    set-up of the program, and its cost depends on the build cache."""
    t0 = time.time()
    jvm_name, make_inputs = WORKLOADS[workload]
    jars = build.spark_jars()
    work = os.path.join(build.OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        t_gen = time.time()
        stats = make_inputs(work, seed)
        stats["generate_s"] = round(time.time() - t_gen, 3)
        cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *JIT,
               *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={work}/tmp",
               "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
               "perfbench.Main", "--workload", jvm_name, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--work", work,
               "--t0-ms", str(int(t0 * 1000)), "--result", f"{work}/result.json",
               "--trace-out", f"{traces}/{workload}-seed{seed}.json"]
        limit = max(deadline - time.time(), 10)
        try:
            rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                                cwd=work, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} did not finish within {limit:.0f} s")
        if rc != 0:
            raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
        res = json.load(open(f"{work}/result.json"))
        report = [f"== {workload} seed={seed} seconds={seconds} trace={trace}",
                  "env " + json.dumps({**res["env"], "heap": HEAP, "jit": " ".join(JIT),
                                       "git_commit": git_commit(),
                                       "source": os.path.basename(classes), "seed": seed}),
                  "inputs " + json.dumps(stats)]
        if jvm_name == "suite":
            n, bad, lines = suite_oracle(work)
            res["attempted"] += n
            res["failed"] += bad
            res["errors"] += [ln for ln in lines if "FAILED" in ln]
            report += lines
        report += res["report"]
        err = res["failed"] / max(res["attempted"], 1)
        report.append(f"{'error_rate':<28} {err:14.4f} {'':<6} n={res['attempted']}")
        report += [f"error: {e}" for e in res["errors"]]
        return res, report
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classes = build.build()
    if a.workload != "all":
        res, report = run_one(a.workload, a.seed, a.seconds, a.trace, classes,
                              START + RUN_LIMIT_S)
        print("\n".join(report))
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        units = {m["name"]: m["unit"] for m in METRICS["end_to_end"] + METRICS["per_layer"]}
        print(json.dumps({
            "correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
        return
    summary, overhead = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}, []
    for w in WORKLOADS:
        plain = None
        for trace in (0, 1):
            res, report = run_one(w, a.seed, a.seconds, trace, classes,
                                  time.time() + RUN_LIMIT_S)
            print("\n".join(report), flush=True)
            summary["attempted"] += res["attempted"]
            summary["failed"] += res["failed"]
            summary["correct"] &= res["failed"] == 0
            if trace == 0:
                plain = res["end_to_end"]
                summary["metrics"].update({f"{w}.{k}": v for k, v in plain.items()})
            else:
                overhead += [f"{w}.{k}: untraced {plain[k]:.4f}, traced {v:.4f} "
                             f"({(v / plain[k] - 1) * 100:+.1f}%)"
                             for k, v in res["end_to_end"].items() if plain[k]]
    print("== tracing overhead (traced run vs untraced run, same seed)")
    print("\n".join(overhead))
    print(json.dumps(summary))


with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    METRICS = json.load(_f)

if __name__ == "__main__":
    main()
