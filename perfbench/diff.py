#!/usr/bin/env python3
"""Compares two sets of benchmark results, metric by metric per workload.

    python3 perfbench/diff.py OLD NEW

OLD and NEW are each a result file written by run.py
(perfbench/.work/results/<workload>-s<seed>-t<trace>.json) or a directory
of them. Where a side holds several runs of a workload (several seeds), each
metric is the median over them. End-to-end metrics come from untraced runs,
per-layer metrics from traced runs.

Flags every query whose plan fingerprint, exec.jobs, catalyst.exchanges or
shuffle MB changed between the first traced run of each side.
"""
import json
import os
import statistics
import sys

# a shuffle volume change smaller than this (MB, or share) is noise
SHUFFLE_TOLERANCE_MB = 0.01
SHUFFLE_TOLERANCE_SHARE = 0.01


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    runs = {}
    for f in files:
        r = json.load(open(f))
        runs.setdefault(r["workload"], []).append(r)
    return runs


def medians(runs, key):
    values = {}
    for r in runs:
        for k, v in r[key].items():
            values.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in values.items()}


def change(old, new):
    if old == new:
        return "="
    if old == 0:
        return "new"
    return f"{100 * (new - old) / abs(old):+.1f}%"


def query_flags(old_q, new_q):
    flags = []
    old_by = {q["name"]: q for q in old_q}
    for q in new_q:
        o = old_by.get(q["name"])
        if o is None:
            continue
        why = []
        if o["fingerprint"] != q["fingerprint"]:
            why.append(f"plan {o['fingerprint']} -> {q['fingerprint']}")
        for k, label in (("jobs", "exec.jobs"), ("exchanges", "catalyst.exchanges")):
            if o[k] != q[k]:
                why.append(f"{label} {o[k]:g} -> {q[k]:g}")
        so = o["shuffle_read_mb"] + o["shuffle_write_mb"]
        sn = q["shuffle_read_mb"] + q["shuffle_write_mb"]
        if abs(sn - so) > max(SHUFFLE_TOLERANCE_MB, SHUFFLE_TOLERANCE_SHARE * so):
            why.append(f"shuffle {so:.3f} -> {sn:.3f} MB")
        if why:
            flags.append((q["name"], why))
    return flags


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    for w in sorted(set(old) & set(new)):
        print(f"== {w}")
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            o = [r for r in old[w] if r["trace"] == trace]
            n = [r for r in new[w] if r["trace"] == trace]
            if not o or not n:
                continue
            mo, mn = medians(o, key), medians(n, key)
            print(f"  {key} (runs: {len(o)} old, {len(n)} new)")
            for k in sorted(set(mo) & set(mn)):
                print(f"    {k:28s} {mo[k]:14.6g} {mn[k]:14.6g}  {change(mo[k], mn[k])}")
        o = [r for r in old[w] if r["trace"] == 1]
        n = [r for r in new[w] if r["trace"] == 1]
        if o and n:
            flags = query_flags(o[0]["queries"], n[0]["queries"])
            print(f"  queries changed: {len(flags)}")
            for name, why in flags:
                print(f"    FLAG {name}: {'; '.join(why)}")
    for w in sorted(set(old) ^ set(new)):
        print(f"== {w}: only in {'old' if w in old else 'new'}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
