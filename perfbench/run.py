#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from the checkout's sources (sbt, offline). Each run then

1. generates the seed's fixture once (cached under perfbench/.work),
2. runs the workload in one JVM (perfbench.Main): set-up, then timed passes
   for --seconds, or with --trace 1 three traced passes and three untraced,
3. checks every timed result: the first untraced pass against DuckDB running
   the step's oracle SQL on the same fixture, every other pass against the
   first checked one,
4. prints every metric as `name value unit`, writes the full record to
   perfbench/.work/results/, and prints one JSON line last.

With --trace 0 the JSON carries the end-to-end metrics, with --trace 1 the
per-layer ones (see perfbench/README.md). Exit status is 0 when the run
completed, whatever the correctness verdict; any other failure exits
non-zero without a JSON line.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
FIXTURE_OF = {"overhead_sweep": "base", "sessionize_scaled": "scaled"}
HEAP = "3g"
JVM_TIMEOUT_S = 165

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("cpu_s", "s"), ("heap_peak_mb", "MB"),
              ("ok_frac", "fraction")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Test/compile",
             "writeClasspath"], cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(log).read()[-3000:]
        fail(f"build failed (sbt exit {rc}); tail of {log}:\n{tail}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)


def java(main, args, cwd, timeout):
    target = os.path.join(HERE, "target")
    cp = open(os.path.join(target, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(target, "javaopts.txt")).read().split("\n") if o]
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_ORACLE_INPUT_DIR=os.path.join(cwd, "oracle_inputs"))
    # a fixed heap size: the heap probe's full GC after every pass would
    # otherwise let G1 shrink the heap, and the GC work that follows differs
    # from run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *opts, "-cp", cp, main, *args]
    with open(os.path.join(cwd, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} exceeded {timeout} s; see {cwd}/jvm.log", 4)
    if rc != 0:
        tail = open(os.path.join(cwd, "jvm.log")).read()[-3000:]
        fail(f"{main} exited {rc}; tail of its log:\n{tail}", 4)


# Key columns whose distinct counts a fixture must keep for every seed.
KEYS = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
        "customer": ["c_custkey", "c_nationkey"], "supplier": ["s_suppkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id", "event_type"],
        "documents": ["doc_id"], "embeddings": ["vec_id"]}
SCALE = 10


def profile(table, keys):
    import pyarrow.compute as pc
    return [table.num_rows] + [pc.count_distinct(table[k]).as_py() for k in keys]


def seeded(table, name, seed):
    """The seed's version of a table: rows in a seed-drawn order, events
    moved by `seed mod 7` whole days (sessions and times of day stay, weekdays
    and date buckets change). Row counts and key cardinalities are kept."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    order = np.random.default_rng([seed, TABLES.index(name)]).permutation(table.num_rows)
    table = table.take(pa.array(order))
    if name == "events":
        ts = table["ts"].cast(pa.timestamp("us"))
        shift = pa.scalar((seed % 7) * 86400 * 10**6, pa.duration("us"))
        table = table.set_column(table.schema.get_field_index("ts"), "ts",
                                 pc.add(ts, shift))
    return table


def scale_up():
    """The events scaled SCALE times by graft.tools.ScaleGen into independent
    shards; seed-independent, so generated once per checkout."""
    out = os.path.join(WORK, "fixtures", f"scaleup-x{SCALE}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    scratch = out + ".tmp"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    java("graft.tools.ScaleGen", [DATA, out, str(SCALE)], scratch, JVM_TIMEOUT_S)
    shutil.rmtree(scratch, ignore_errors=True)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def fixture(kind, seed):
    """The seed's fixture directory, generated on first use: `base` holds the
    ten sf0.01 tables, `scaled` the same with the events SCALE times over.
    Fails if a table's rows or key cardinalities differ from the source's."""
    import pyarrow.parquet as pq
    final = os.path.join(WORK, "fixtures", f"{kind}-s{seed}")
    if os.path.exists(os.path.join(final, "facts.json")):
        return final, json.load(open(os.path.join(final, "facts.json")))
    src_events = scale_up() if kind == "scaled" else None
    tmp = f"{final}.partial{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    facts = {}
    for t in TABLES:
        src = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        want = profile(src, KEYS[t])
        if t == "events" and src_events:
            src = pq.read_table(os.path.join(src_events, "events.parquet"))
            want = [n * SCALE for n in want[:-1]] + want[-1:]
        table = seeded(src, t, seed)
        got = profile(table, KEYS[t])
        if got != want:
            fail(f"fixture {t}: rows and key cardinalities {got}, expected {want}")
        os.makedirs(os.path.join(tmp, f"{t}.parquet"))
        pq.write_table(table, os.path.join(tmp, f"{t}.parquet", "part-0.parquet"))
        facts[f"rows.{t}"] = got[0]
        facts.update({f"keys.{t}.{k}": n for k, n in zip(KEYS[t], got[1:])})
    facts["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(tmp) for f in fs)
    with open(os.path.join(tmp, "facts.json"), "w") as fh:
        json.dump(facts, fh, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, facts


def oracle_one(fix_dir, run_dir, st):
    """Compares one first-pass result with DuckDB running the step's oracle
    SQL, with tools/check.py's canonicalization; returns None when they
    agree, else (error class, detail)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import canon, cell, frame_hash

    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fix_dir}/{t}.parquet/*.parquet')")
    try:
        got = canon(pd.read_parquet(os.path.join(run_dir, "results", st["name"])))
    except Exception as e:
        return "NoOutput", str(e)[:300]
    try:
        exp = canon(con.execute(st["oracle"]).df())
    except Exception as e:
        return "OracleError", str(e)[:300]
    if not st["ordered"]:
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return "OracleMismatch", f"cols {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return "OracleMismatch", f"rows {len(got)} vs {len(exp)}"
    if {c: str(got[c].dtype) for c in got} != {c: str(exp[c].dtype) for c in exp}:
        return "OracleMismatch", "dtypes differ"
    if frame_hash(got) != frame_hash(exp):
        diff = next((f"row {i} col {c}: {got[c].iloc[i]!r} vs {exp[c].iloc[i]!r}"
                     for i in range(len(got)) for c in got.columns
                     if cell(got[c].iloc[i]) != cell(exp[c].iloc[i])), "")
        return "OracleMismatch", f"hash differs ({diff})"
    return None


def oracle_check(fix_dir, run_dir, steps):
    """{step: (error class, detail)} for every oracled step whose first-pass
    result disagrees with DuckDB. The checks run in parallel processes."""
    from concurrent.futures import ProcessPoolExecutor
    todo = [st for st in steps if st["oracle"] is not None and st["error_class"] is None]
    with ProcessPoolExecutor(max_workers=os.cpu_count()) as pool:
        verdicts = pool.map(oracle_one, [fix_dir] * len(todo), [run_dir] * len(todo), todo)
        return {st["name"]: v for st, v in zip(todo, verdicts) if v is not None}


def tail_latency(steps):
    """The latency at the highest percentile with at least 10 samples
    beyond it, over every timed sample of every step, with that percentile
    and the sample count. Below 20 samples that percentile is the median or
    lower, which is no tail: the slowest step's median latency is reported
    instead, as percentile 100 of the per-step medians."""
    s = sorted(x for st in steps for x in st["latency_s"])
    n = len(s)
    if n < 20:
        return max(statistics.median(st["latency_s"]) for st in steps), 100.0, len(steps)
    return s[n - 11], 100.0 * (n - 10) / n, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(FIXTURE_OF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    clock = [time.monotonic()]

    def lap():
        clock.append(time.monotonic())
        return round(clock[-1] - clock[-2], 3)

    build()
    phases = {"build_s": lap()}
    fix_dir, facts = fixture(FIXTURE_OF[a.workload], a.seed)
    phases["fixture_s"] = lap()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        java("perfbench.Main", ["--workload", a.workload, "--fixture", fix_dir,
                                "--seed", str(a.seed), "--out", run_dir, "--seconds", str(a.seconds),
                                "--trace", str(a.trace)], run_dir, JVM_TIMEOUT_S)
        phases["jvm_s"] = lap()
        res = json.load(open(os.path.join(run_dir, "result.json")))
        bad = oracle_check(fix_dir, run_dir, res["steps"])
        phases["oracle_s"] = lap()
        spans = os.path.join(run_dir, "spans.jsonl")
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, "results", f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = failed = 0
    for st in res["steps"]:
        if st["name"] in bad:
            st["error_class"], st["error"] = bad[st["name"]]
            st["failed_runs"] = st["runs"]
        attempted += st["runs"]
        failed += st["failed_runs"]
    tail, tail_pct, n = tail_latency(res["steps"])
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": sum(statistics.median(st["latency_s"]) for st in res["steps"]),
        "query_p50_s": statistics.median(
            statistics.median(st["latency_s"]) for st in res["steps"]),
        "query_tail_s": tail,
        "cpu_s": sum(statistics.median(st["cpu_s"]) for st in res["steps"]),
        "heap_peak_mb": max(res["heap_mb"]),
        "ok_frac": 1 - failed / attempted,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cpus": res["cpus"], "passes": res["passes"],
        "fixture": facts, "access_log": res["access_log"], "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "query_tail": {"percentile": tail_pct, "samples": n}, "heap_mb": res["heap_mb"],
        "run_phases": phases,
        "end_to_end": e2e, "per_layer": res["layers"].get("metrics", {}),
        "setup": res["setup"], "steps": res["steps"],
        "queries": res["layers"].get("queries", []),
    }
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"workload {a.workload}  seed {a.seed}  local[{res['cpus']}]  "
          f"passes {res['passes']}  fixture {facts.get('bytes', 0) / 1e6:.1f} MB")
    for k, unit in END_TO_END:
        print(f"{k} {e2e[k]:.6g} {unit}")
    print(f"failed_frac {failed / attempted:.6g} fraction ({failed} of {attempted})")
    print(f"query_tail_s is p{tail_pct:.1f} of {n} samples")
    for st in res["steps"]:
        if st["error_class"]:
            print(f"FAILED {st['name']}: {st['error_class']}: {st['error']}")
    if a.trace:
        for k, v in sorted(record["per_layer"].items()):
            print(f"{k} {v:.6g} {layer_unit(k)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
