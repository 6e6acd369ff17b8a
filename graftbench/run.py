#!/usr/bin/env python3
"""graft benchmark: one command per workload, one JSON result line.

    python3 graftbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads:

  catalog      16 of the SparkEntry.queries (CATALOG) over the sf0.01 test
               tables, one closed-loop client, seed-permuted order; rows
               are checked against the oracle-validated counts in
               CORRECTNESS_r18.json.
  stream       one continuous dialect job (START JOB ... EMIT CHANGES) over
               a JSON file source fed by this process as an open-loop
               generator; the final per-(window, key) state is checked
               against the generator's own tally.

The first run builds the engine and the benchmark with sbt into
$CARGO_TARGET_DIR (default .bench_build) and caches the classpath there;
later runs launch `java` directly. Each run writes an artifact under
<build dir>/artifacts/ (per-query detail, spans, sentinels, overhead).
The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
catalog's end-to-end times are scaled to a reference machine speed
measured by a CPU sentinel during the run (see SENTINEL_REF_S).
"""
import argparse
import atexit
import hashlib
import itertools
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

import layers
from layers import pct

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")

# catalog: the queries it runs. SparkEntry.queries as a whole does not
# fit in a run: its cold warm-up pass alone takes 30-55 s on 4 cores.
# These 16 keep every layer the per-layer metrics split: DataFrame construction
# with eager jobs (the dedup operators q24, q25, q57, q69), the dialect
# (q45, q48, q54), the one-shot streaming runs (q33, q54), the
# sort-window shuffles (q9, q48), the task-binary case (q64), joins,
# subqueries, per-group windows and a per-document curation map.
CATALOG = ["q1_agg", "q4_multi_join", "q9_rows_frame", "q11_in_subquery",
           "q23_dedup_exact", "q24_dedup_minhash", "q25_dedup_simhash",
           "q31_token_count", "q33_emit_changes", "q40_topn_per_group",
           "q45_sql_agg", "q48_sql_rows_window", "q54_sql_stream",
           "q57_dedup_clusters", "q64_contamination", "q69_leakage_split"]

# catalog: timed passes per run are round(seconds / CATALOG_PASS_S), at
# least one, so the count depends only on --seconds (a pass of CATALOG
# over sf0.01 takes about this long on 4 quiet cores)
CATALOG_PASS_S = 5.0

# catalog's end-to-end times are reported at a reference machine speed:
# each is scaled by SENTINEL_REF_S / (median sentinel probe of the run),
# and catchup_rows_per_s by its inverse, so runs made while neighbours
# load the machine compare with runs made while it is quiet (measured on
# 4 cores: raw medians moved by up to 2x between such windows). The
# probes used are one after every timed query and those right after the
# pass; the ones before it compete with the JIT compiling the warm-up's
# code and read slow. The constant is only a scale; the unscaled values
# are in the artifact. stream is not scaled: no probe can run during its
# job without slowing it, and probes taken after the job did not track
# the load the job met (scaled IQR/median 0.15-0.29 against 0.06-0.10
# unscaled over the same five runs); its probes are only recorded.
SENTINEL_REF_S = 0.030

# stream sizing: 10k events/s live (about a tenth of the rate at which
# this job fell behind on 4 cores), 20 files/s so every 50 ms yields a latency
# sample; thousands of Zipf-skewed keys so the state store holds real
# state; event times jittered back by at most half the grace period, so
# events arrive out of order but never late. The 200k-event backlog is
# drained in 20 batches, enough that one slow batch does not decide the
# catch-up figures.
STREAM = dict(keys=4000, zipf=1.1, events_per_file=500, files_per_s=20,
              backlog_files=400, warm_files=40, warm_max_files=5, max_files=20,
              window_s=10, grace_s=10, base_ms=1_767_225_600_000)


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src")
                   for p in d.rglob("*") if p.is_file())
    files += [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """Builds engine + benchmark once per source state; returns the
    runtime classpath."""
    fp = source_fingerprint()
    cache = BUILD / "graftbench" / f"classpath-{fp}.txt"
    if cache.exists():
        return cache.read_text().strip()
    log("building (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline",
               GRAFTBENCH_TARGET=str(BUILD / "graftbench" / "target"))
    repos = Path.home() / ".sbt" / "repositories"
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
           if repos.exists() else []))
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, capture_output=True, text=True,
                         stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in res.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(lines[-1])
    return lines[-1]


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs",
              "java.base/sun.security.action", "java.base/sun.util.calendar"]


# engine JVM heap per workload, fixed (initial = max) so heap growth
# decisions do not differ from run to run
HEAP = {"catalog": "3g", "stream": "3g"}


STARTED = []


@atexit.register
def _reap():
    """No engine process outlives this one, whatever the exit path."""
    for p in STARTED:
        if p.poll() is None:
            p.kill()
            p.wait()


def launch(cp, work, cores, workload, args):
    """Starts the engine JVM; every file it makes stays in `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap = HEAP[workload]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--work", str(work), "--cores", str(cores),
              "--workload", workload]
           + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT)
    STARTED.append(proc)
    return proc


def finish(proc, work, timeout):
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        fail(f"engine process exited with {code}")


# ---------------------------------------------------------------- inputs

def testdata_dir(sf):
    """The sf tables' directory as the repository documents it
    (TESTDATA.md), unless GRAFTBENCH_TESTDATA names another root."""
    if os.environ.get("GRAFTBENCH_TESTDATA"):
        d = Path(os.environ["GRAFTBENCH_TESTDATA"]) / f"sf{sf}"
    else:
        doc = ROOT / "TESTDATA.md"
        if not doc.exists():
            fail("TESTDATA.md not found: run from the repository root")
        m = re.search(rf"\|\s*{re.escape(sf)}\s*\|\s*`([^`]+)`", doc.read_text())
        if not m:
            fail(f"TESTDATA.md does not list sf{sf}")
        d = Path(m.group(1))
    if not (d / "documents.parquet").exists():
        fail(f"test tables not found at {d}")
    return d


class Events:
    """Seeded event files for the stream workload, pre-rendered, with the
    exact expected count and decimal sum per (window, key)."""

    def __init__(self, seed, live_files):
        s = STREAM
        rnd = random.Random(seed)
        weights = [1.0 / (k + 1) ** s["zipf"] for k in range(s["keys"])]
        cum = list(itertools.accumulate(weights))
        keys = [f"k{k:05d}" for k in range(s["keys"])]
        jitter_max = s["grace_s"] * 1000 // 2
        step_ms = 1000.0 / s["files_per_s"]

        def render(nfiles, first_offset_ms, rnd, tally):
            files = []
            for f in range(nfiles):
                t_ms = s["base_ms"] + int(first_offset_ms + f * step_ms)
                lines = []
                for k in rnd.choices(keys, cum_weights=cum, k=s["events_per_file"]):
                    cents = rnd.randint(1, 99_999)
                    ts = t_ms - rnd.randint(0, jitter_max)
                    lines.append(f'{{"key":"{k}","amount":{cents // 100}.{cents % 100:02d},"ts_ms":{ts}}}')
                    w = ts // (s["window_s"] * 1000) * s["window_s"]
                    e = tally.setdefault((w, k), [0, 0])
                    e[0] += 1
                    e[1] += cents
                files.append(("\n".join(lines) + "\n").encode())
            return files

        self.tally = {}
        self.backlog = render(s["backlog_files"], 0.0, rnd, self.tally)
        self.live = render(live_files, s["backlog_files"] * step_ms, rnd, self.tally)
        self.warm = render(s["warm_files"], 0.0, random.Random(seed + 7919), {})
        self.backlog_rows = len(self.backlog) * s["events_per_file"]
        self.total_rows = self.backlog_rows + len(self.live) * s["events_per_file"]


def write_files(files, dest, tmp, prefix):
    dest.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    for i, data in enumerate(files):
        p = tmp / f"{prefix}-{i:06d}.json"
        p.write_bytes(data)
        os.rename(p, dest / p.name)


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


# ---------------------------------------------------------------- workloads

def catalog(a, cp, work, cores):
    data = testdata_dir("0.01")
    pins = json.loads((ROOT / "CORRECTNESS_r18.json").read_text())
    names = CATALOG
    launch_ms = time.time() * 1000
    proc = launch(cp, work, cores, "catalog", [
        "--seed", a.seed, "--trace", a.trace, "--data", data,
        "--warm_data", testdata_dir("0.001"), "--queries", ",".join(names),
        "--passes", max(1, round(float(a.seconds) / CATALOG_PASS_S))])
    finish(proc, work, 170)
    jvm = json.loads((work / "jvm.json").read_text())
    checked = [("pass", p["queries"]) for p in jvm["passes"]]
    if "traced_pass" in jvm:
        checked.append(("traced", jvm["traced_pass"]["queries"]))
        checked.append(("untraced", jvm["traced_pass"]["untraced"]))
    failures = []
    attempted = 0
    for kind, qs in checked:
        for n in names:
            attempted += 1
            r = qs[n]
            want = pins[n]["spark_rows"]
            why = r["err"] or (f"rows {r['rows']} != pinned {want}" if r["rows"] != want else None)
            if why:
                failures.append({"pass": kind, "query": n, "why": why})
    passes = [p["queries"] for p in jvm["passes"]]
    e2e, detail = None, {}
    if passes:
        per_q = {n: median([p[n]["wall_s"] for p in passes]) for n in names}
        walls = [sum(p[n]["wall_s"] for n in names) for p in passes]
        # result rows per second of action time (DataFrame construction
        # left out, so this moves apart from wall_s)
        rows = [sum(max(0, p[n]["rows"]) for n in names) / sum(p[n]["action_s"] for n in names)
                for p in passes]
        # interpolated, so the percentiles of a few dozen queries do not
        # jump from one query's wall to the next one's
        q20 = statistics.quantiles([v * 1000 for v in per_q.values()], n=20, method="inclusive")
        e2e = {
            "setup_s": (jvm["setup_end_ms"] - launch_ms) / 1000,
            "wall_s": median(walls),
            "geomean_query_s": geomean(list(per_q.values())),
            "latency_p50_ms": q20[9],
            "latency_p95_ms": q20[18],
            "catchup_rows_per_s": median(rows),
            "peak_rss_mb": jvm["peak_rss_mb"],
        }
        detail = {"per_query_median_wall_s": per_q, "pass_walls_s": walls,
                  "n_passes": len(passes)}
    per_layer = None
    if "layers" in jvm:
        per_layer = dict(jvm["layers"])
        per_layer.update(layers.streaming(jvm["progress"], windows=jvm["traced_windows_ms"]))
        per_layer["generator.late_ms_max"] = 0.0
        tp = jvm["traced_pass"]
        traced = sum(r["wall_s"] for r in tp["queries"].values())
        untraced = sum(r["wall_s"] for r in tp["untraced"].values())
        detail["tracing_overhead"] = {"untraced_wall_s": untraced, "traced_wall_s": traced,
                                      "ratio": traced / untraced}
    return e2e, per_layer, attempted, failures, jvm, detail


def stream(a, cp, work, cores):
    s = STREAM
    seconds = float(a.seconds)
    live_files = int(seconds * s["files_per_s"])
    prep = []
    for i in range(3):
        t0 = time.perf_counter()
        ev = Events(int(a.seed), live_files)
        shutil.rmtree(work / "in", ignore_errors=True)
        shutil.rmtree(work / "warm", ignore_errors=True)
        write_files(ev.backlog, work / "in", work / "gen_tmp", "backlog")
        write_files(ev.warm, work / "warm", work / "gen_tmp", "warm")
        prep.append(time.perf_counter() - t0)
    launch_ms = time.time() * 1000
    proc = launch(cp, work, cores, "stream", [
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
        "--in", work / "in", "--warm", work / "warm", "--state", work / "state",
        "--backlog_rows", ev.backlog_rows,
        "--warm_rows", len(ev.warm) * s["events_per_file"],
        "--grace", s["grace_s"], "--window", s["window_s"], "--max_files", s["max_files"],
        "--warm_max_files", s["warm_max_files"]])

    # open-loop live phase: the schedule is fixed when the backlog has
    # drained and never waits on the engine
    go = work / "live.go"
    while not go.exists():
        if proc.poll() is not None:
            finish(proc, work, 1)
        time.sleep(0.005)
    # each file is stamped with the wall time it was due, so a late
    # generator adds to latency instead of hiding it
    step = 1.0 / s["files_per_s"]
    t0, wall0 = time.monotonic(), time.time() * 1000
    created, late = {}, []
    for k, data in enumerate(ev.live):
        target = t0 + k * step
        now = time.monotonic()
        if now < target:
            time.sleep(target - now)
        late.append((time.monotonic() - target) * 1000)
        name = f"live-{k:06d}.json"
        (work / "gen_tmp" / name).write_bytes(data)
        os.rename(work / "gen_tmp" / name, work / "in" / name)
        created[name] = wall0 + k * step * 1000
    tmp = work / "gen.done.tmp"
    tmp.write_text(str(ev.total_rows))
    os.rename(tmp, work / "gen.done")
    finish(proc, work, seconds + 150)

    jvm = json.loads((work / "jvm.json").read_text())
    prog = [p for p in jvm["progress"] if p["name"] == "graft-job-bench"]
    batches = layers.file_batches(Path(jvm["checkpoint"]), prog)
    commit = {p["batch"]: p["start_ms"] + p["durations"].get("triggerExecution", 0) for p in prog}

    # correctness: final state against the generator's tally
    # (a missing entry misses all its events; a wrong one counts its
    # count difference, at least one event when only the sum is wrong)
    got = {(w, k): (n, Decimal(total)) for w, k, n, total
           in json.loads((work / "final_state.json").read_text())}
    failed = 0
    for key, (n, cents) in ev.tally.items():
        g = got.pop(key, None)
        if g is None:
            failed += n
        elif g != (n, Decimal(cents) / 100):
            failed += max(abs(g[0] - n), 1)
    failed += sum(g[0] for g in got.values())

    # latency: file due time -> commit of the first batch covering it;
    # never covered counts as infinite. The first second of the live
    # schedule is the hand-over from catch-up and is left out.
    skip = s["files_per_s"]
    lat = []
    for k in range(skip, live_files):
        name = f"live-{k:06d}.json"
        b = batches.get(name)
        lat.append(commit[b] - created[name] if b in commit else math.inf)
    drained = min((b for b in sorted(commit)
                   if sum(p["rows"] for p in prog if p["batch"] <= b) >= ev.backlog_rows),
                  default=None)
    catchup_s = (commit[drained] - jvm["job_start_ms"]) / 1000 if drained is not None else math.nan
    catchup_add_s = sum(p["durations"].get("addBatch", 0) for p in prog
                        if drained is not None and p["batch"] <= drained) / 1000
    first_live = min((batches[n] for n in created if n in batches), default=None)
    live = [p for p in prog if first_live is not None and p["batch"] >= first_live and p["rows"] > 0]
    e2e = {
        "setup_s": median(prep) + (jvm["job_start_ms"] - launch_ms) / 1000,
        "wall_s": catchup_s,
        "geomean_query_s": geomean([p["durations"].get("triggerExecution", 0) / 1000 for p in live]),
        "latency_p50_ms": pct(lat, 0.50),
        "latency_p95_ms": pct(lat, 0.95),
        # per second of the catch-up batches' processing (addBatch): the
        # job start and every batch's offset, planning and commit work are
        # left out, so this moves apart from wall_s
        "catchup_rows_per_s": ev.backlog_rows / catchup_add_s,
        "peak_rss_mb": jvm["peak_rss_mb"],
    }
    detail = {"input_prep_s": prep, "live_files": live_files, "events": ev.total_rows,
              "files": {n: [t, batches.get(n)] for n, t in created.items()},
              "latency_samples": len(lat), "catchup_s": catchup_s,
              "catchup_add_batch_s": catchup_add_s,
              "uncovered_files": sum(1 for x in lat if math.isinf(x))}
    per_layer = None
    if "layers" in jvm:
        per_layer = dict(jvm["layers"])
        per_layer["entry.build_s"] = per_layer["entry.build_jobs"] = per_layer["entry.build_share"] = 0.0
        per_layer["sql.dialect_build_s"] = 0.0
        per_layer["sql.job_start_s"] = jvm["sql.job_start_s"]
        per_layer["sql.job_stop_s"] = jvm["sql.job_stop_s"]
        per_layer.update(layers.streaming(prog, live=first_live, live_ms=jvm["live_ms"],
                                          created=created, batches=batches))
        per_layer["generator.late_ms_max"] = max(late)
        wins = jvm["traced_windows_ms"]
        on = [any(w[0] <= created[f"live-{k:06d}.json"] < w[1] for w in wins)
              for k in range(skip, live_files)]
        unt = [x for x, t in zip(lat, on) if not t]
        trc = [x for x, t in zip(lat, on) if t]
        detail["tracing_overhead"] = {"untraced_latency_p50_ms": pct(unt, 0.5),
                                      "traced_latency_p50_ms": pct(trc, 0.5),
                                      "ratio": pct(trc, 0.5) / pct(unt, 0.5)}
    detail["generator_late_ms_max"] = max(late)
    return e2e, per_layer, ev.total_rows, [{"failed_events": failed}] if failed else [], jvm, detail


WORKLOADS = {"catalog": catalog, "stream": stream}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail("engine sources not found: run from the repository root")
    cores = len(os.sched_getaffinity(0))
    cp = classpath()
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    e2e, per_layer, attempted, failures, jvm, detail = WORKLOADS[a.workload](a, cp, work, cores)

    n_failed = sum(f.get("failed_events", 1) for f in failures)
    probes = jvm.get("sentinel_during", []) + jvm["sentinel_after"]
    speed = SENTINEL_REF_S / median(probes)
    raw = e2e
    if e2e and a.workload == "catalog":
        e2e = {k: v if k == "peak_rss_mb" else v / speed if k == "catchup_rows_per_s"
               else v * speed for k, v in raw.items()}
    # the metric names and units are the ones BENCHMARK.json declares
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = per_layer if a.trace == "1" else e2e
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if a.trace == "1" else "end_to_end"]}
    result = {"correct": not failures, "attempted": attempted, "failed": n_failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    artifact = {
        "workload": a.workload, "seed": int(a.seed), "seconds": float(a.seconds),
        "trace": int(a.trace), "cores": cores, "end_to_end": e2e, "end_to_end_unscaled": raw,
        "per_layer": per_layer, "fail_ratio": n_failed / attempted, "failures": failures[:50],
        "detail": detail,
        "sentinel": {"before": jvm["sentinel_before"], "during": jvm.get("sentinel_during", []),
                     "after": jvm["sentinel_after"], "median": median(probes), "speed": speed,
                     "scaled": raw is not e2e},
        "jvm": {k: v for k, v in jvm.items() if not k.startswith("sentinel_")},
    }
    adir = BUILD / "artifacts"
    adir.mkdir(parents=True, exist_ok=True)
    apath = adir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    apath.write_text(json.dumps(artifact))
    log(f"artifact {apath}")
    shutil.rmtree(work, ignore_errors=True)
    bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
    if bad:
        fail(f"no finite value for {', '.join(bad)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
