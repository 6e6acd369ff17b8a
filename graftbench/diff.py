#!/usr/bin/env python3
"""Per-layer diff of two benchmark artifacts.

    python3 graftbench/diff.py OLD.json NEW.json [--top 15]

Artifacts are the JSON files run.py writes under <build dir>/artifacts/.
Prints the end-to-end metrics, then every per-layer metric grouped by
layer (traced runs), then the queries whose traced build/action split
moved most. Each row shows old, new and new/old; the CPU sentinel of
both runs is printed first, so a run that landed in a slow ambient
window is visible before its numbers are read.
"""
import argparse
import json
import math
import sys


def ratio(a, b):
    if a is None or b is None:
        return "-"
    if a == 0:
        return "=" if b == 0 else "new"
    return f"{b / a:.3f}"


def fmt(v):
    if v is None:
        return "-"
    if isinstance(v, float) and (math.isinf(v) or math.isnan(v)):
        return str(v)
    return f"{v:.4g}"


def table(title, old, new):
    keys = sorted(set(old or {}) | set(new or {}))
    if not keys:
        return
    print(f"\n{title}")
    width = max(len(k) for k in keys)
    for k in keys:
        a, b = (old or {}).get(k), (new or {}).get(k)
        print(f"  {k:<{width}}  {fmt(a):>12}  {fmt(b):>12}  {ratio(a, b):>7}")


def main():
    ap = argparse.ArgumentParser(description="per-layer diff of two benchmark artifacts")
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=15, help="queries to list by wall change")
    a = ap.parse_args()
    old, new = (json.load(open(p)) for p in (a.old, a.new))
    for side, art in (("old", old), ("new", new)):
        s = art["sentinel"]
        print(f"{side}: {art['workload']} seed={art['seed']} trace={art['trace']} "
              f"cores={art['cores']} fail_ratio={art['fail_ratio']:.4g} "
              f"sentinel median={s['median']:.3f}s speed={s['speed']:.3f} "
              f"scaled={s.get('scaled', True)}")
    if old["workload"] != new["workload"]:
        print("warning: artifacts are from different workloads", file=sys.stderr)
    table("end to end, as reported (old, new, new/old)", old.get("end_to_end"),
          new.get("end_to_end"))
    if any(art["sentinel"].get("scaled", True) for art in (old, new)):
        table("end to end, unscaled (old, new, new/old)", old.get("end_to_end_unscaled"),
              new.get("end_to_end_unscaled"))
    layers = {}
    for side, art in (("old", old), ("new", new)):
        for k, v in (art.get("per_layer") or {}).items():
            layers.setdefault(k.split(".")[0], ({}, {}))[side == "new"][k] = v
    for layer, (o, n) in sorted(layers.items()):
        table(f"layer {layer}", o, n)
    for side, art in (("old", old), ("new", new)):
        ov = art.get("detail", {}).get("tracing_overhead")
        if ov:
            print(f"\ntracing overhead ({side}): {ov}")
    qo = old.get("jvm", {}).get("per_query_layers") or {}
    qn = new.get("jvm", {}).get("per_query_layers") or {}
    common = sorted(set(qo) & set(qn))
    if common:
        def wall(q):
            return q["build_s"] + q["action_s"]
        moved = sorted(common, key=lambda n: -abs(wall(qn[n]) - wall(qo[n])))[:a.top]
        print(f"\nqueries by traced wall change (top {len(moved)})")
        print(f"  {'query':<26} {'build old/new':>17} {'action old/new':>17} "
              f"{'jobs old/new':>13} {'deser_s old/new':>17}")
        for n in moved:
            o, w = qo[n], qn[n]
            jobs_o = o["build_jobs"] + o["action_jobs"]
            jobs_n = w["build_jobs"] + w["action_jobs"]
            print(f"  {n:<26} {o['build_s']:>8.3f}/{w['build_s']:<8.3f} "
                  f"{o['action_s']:>8.3f}/{w['action_s']:<8.3f} "
                  f"{jobs_o:>6.0f}/{jobs_n:<6.0f} "
                  f"{o['task_deser_s']:>8.3f}/{w['task_deser_s']:<8.3f}")


if __name__ == "__main__":
    main()
