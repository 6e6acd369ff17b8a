"""The streaming layer's metrics, computed from the engine's
StreamingQueryProgress records, and the file-to-batch mapping the stream
workload's latency needs."""
import json
import math
from pathlib import Path

PHASES = {"latest_offset": "latestOffset", "get_batch": "getBatch",
          "query_planning": "queryPlanning", "add_batch": "addBatch",
          "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}


def pct(xs, q, empty=float("nan")):
    """Nearest-rank percentile; inf samples sort last."""
    if not xs:
        return empty
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])


def _p(xs, q):
    return pct(xs, q, empty=0.0)


def streaming(prog, live=None, windows=None, live_ms=None, created=None, batches=None):
    """`prog`: progress records of the measured query/queries, optionally
    only those that started inside `windows` ([start, end] ms pairs). For
    the stream job, `live` is the first live batch id (earlier batches
    are the catch-up); without it every batch with input counts as both
    (the catalog's one-shot streaming queries)."""
    if windows:
        prog = [p for p in prog if any(w[0] <= p["start_ms"] <= w[1] for w in windows)]
    data = [p for p in prog if p["rows"] > 0]
    live_b = [p for p in data if live is None or p["batch"] >= live]
    catchup = [p for p in data if live is None or p["batch"] < live]

    def d(p, k):
        return p["durations"].get(k, 0)
    m = {
        "streaming.batches": float(len(prog)),
        "streaming.rows_per_batch_p50": _p([p["rows"] for p in live_b], 0.5),
        "streaming.trigger_ms_p50": _p([d(p, "triggerExecution") for p in live_b], 0.5),
        "streaming.trigger_ms_p95": _p([d(p, "triggerExecution") for p in live_b], 0.95),
        "streaming.state_commit_ms_p50": _p([p["state_commit_ms"] for p in live_b], 0.5),
        "streaming.state_rows": float(max([p["state_rows"] for p in live_b], default=0)),
        "streaming.state_mem_bytes": float(max([p["state_mem_bytes"] for p in live_b], default=0)),
        "streaming.catchup_add_batch_s": sum(d(p, "addBatch") for p in catchup) / 1000,
    }
    for short, key in PHASES.items():
        m[f"streaming.{short}_ms_p50"] = _p([d(p, key) for p in live_b], 0.5)
    busy = sum(d(p, "triggerExecution") for p in live_b)
    span = live_ms or sum(w[1] - w[0] for w in windows or [])
    m["streaming.busy_frac"] = busy / span if span else 0.0
    m["streaming.backlog_files_max"] = 0.0
    if created and batches:
        # files visible at a live batch's start but not yet taken by an
        # earlier batch
        taken = {}
        for f, b in batches.items():
            taken[b] = taken.get(b, 0) + 1
        worst = 0
        for p in live_b:
            visible = sum(1 for t in created.values() if t <= p["start_ms"])
            before = sum(n for b, n in taken.items() if live <= b < p["batch"])
            worst = max(worst, visible - before)
        m["streaming.backlog_files_max"] = float(worst)
    return m


def file_batches(job_root: Path, prog):
    """File name -> id of the micro-batch that read it. The file source's
    metadata log in the job's checkpoint lists each file under a source
    log offset (one JSON entry per file after a version line; compacted
    logs repeat earlier entries); a micro-batch covers the log offsets up
    to its progress report's end offset. The two counters differ once a
    batch runs without new files."""
    by_offset = {}
    for log in sorted(job_root.glob("ckpt-*/sources/0/*")):
        if log.name.startswith(".") or log.name.endswith((".tmp", ".crc")):
            continue
        for line in log.read_text().splitlines()[1:]:
            if line.startswith("{"):
                e = json.loads(line)
                by_offset[e["path"].rsplit("/", 1)[-1]] = e["batchId"]
    ends = sorted((json.loads(p["end_offset"])["logOffset"], p["batch"])
                  for p in prog if p.get("end_offset"))
    out = {}
    for name, off in by_offset.items():
        out[name] = next((b for end, b in ends if end >= off), None)
    return out
