"""Metric and check helpers for the benchmark (pure functions, unit-tested
in test_lib.py)."""

import hashlib
import os
import statistics
from collections import Counter, defaultdict


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, beyond=10):
    """The highest percentile of `values` that still has at least `beyond`
    samples above it: returns (value, percentile, samples, samples_beyond).
    With fewer than beyond+1 samples it falls back to the maximum, with
    the count of samples beyond it (0) stated."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100.0, n, 0
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, n, beyond


def covered(intervals, lo, hi):
    """Length of the part of [lo, hi] that the union of `intervals` covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def rows_digest(rows):
    """Order-insensitive digest of stringified rows."""
    h = hashlib.sha256()
    for r in sorted("\x1f".join(map(str, row)) for row in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def read_output_lines(out_dir):
    """All lines of the data files (not `_`/`.`-prefixed) of an output dir."""
    lines = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def check_kv_output(lines, expected):
    """Compare a job's "key value" output lines with its expected result.
    `expected` is {key: value} (each key once) or a sorted list of lines
    (a map-only job, keys repeat). Returns None or a one-line mismatch."""
    if isinstance(expected, list):
        got = sorted(lines)
        if got == expected:
            return None
        diff = (Counter(got) - Counter(expected)) + (Counter(expected) - Counter(got))
        return f"{len(got)} lines vs {len(expected)} expected; e.g. {next(iter(diff), None)!r}"
    got = {}
    for line in lines:
        key, _, value = line.partition(" ")
        if key in got:
            return f"key {key!r} emitted twice"
        got[key] = value
    if got == expected:
        return None
    bad = [k for k in set(got) | set(expected) if got.get(k) != expected.get(k)]
    k = sorted(bad)[0]
    return f"{len(bad)} keys differ; e.g. {k!r}: got {got.get(k)!r}, want {expected.get(k)!r}"


def compare_frames(got, want):
    """The correctness gate's compare rule: columns sorted by name, values
    stringified, rows sorted, exact equality. Returns None or a mismatch."""
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    if list(g.columns) != list(w.columns):
        return f"schema {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if len(g) == 0:
        return None
    g = g.astype(str).sort_values(by=list(g.columns)).reset_index(drop=True)
    w = w.astype(str).sort_values(by=list(w.columns)).reset_index(drop=True)
    neq = (g != w).any(axis=1)
    if neq.any():
        i = neq[neq].index[0]
        return f"{int(neq.sum())}/{len(g)} rows differ; e.g. {g.loc[i].to_dict()} vs {w.loc[i].to_dict()}"
    return None


def layer_records(spans, tasks, attempts):
    """One record per traced job attempt: each phase's wall and self time
    (minus the Spark jobs inside it), Spark jobs/stages/tasks per phase,
    task time split, shuffle bytes and the phase time no task was running."""
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    tasks_by_stage = defaultdict(list)
    for t in tasks:
        tasks_by_stage[t["stage"]].append(t)
    records = []
    for a in attempts:
        if not a["traced"]:
            continue
        # the attempt's timed root span, and the untimed probe root if any
        roots = [s for s in kids[0] if s["attempt"] == a["id"]]
        if not roots:
            continue
        rec = {"attempt": a["id"], "pass": a["pass"], "job": a["job"], "wall_s": a["wall_s"],
               "build_s": a["build_s"], "error": a["error"], "phases": {}}
        for ph in (p for root in roots for p in kids[root["id"]]):
            jobs = [j for j in kids[ph["id"]] if j["name"] == "spark_job"]
            stages = [st for j in jobs for st in kids[j["id"]]]
            ts = [t for st in stages for t in tasks_by_stage[st["id"]]]
            busy = [(t["launch_ms"] * 1e6, t["finish_ms"] * 1e6) for t in ts]
            rec["phases"][ph["name"]] = {
                "wall_s": (ph["end"] - ph["start"]) / 1e9,
                "self_s": self_time(ph, jobs) / 1e9,
                "idle_s": ((ph["end"] - ph["start"]) - covered(busy, ph["start"], ph["end"])) / 1e9,
                "spark_jobs": len(jobs),
                "stages": len(stages),
                "tasks": len(ts),
                "task_run_s": sum(t.get("run_ms", 0) for t in ts) / 1e3,
                "task_cpu_s": sum(t.get("cpu_ns", 0) for t in ts) / 1e9,
                "gc_s": sum(t.get("gc_ms", 0) for t in ts) / 1e3,
                "shuffle_read_mb": sum(t.get("sr_bytes", 0) for t in ts) / 2**20,
                "shuffle_write_mb": sum(t.get("sw_bytes", 0) for t in ts) / 2**20,
                "last_task_end_ms": max((t["finish_ms"] for t in ts), default=None),
                "end_ms": ph["end"] / 1e6,
            }
        records.append(rec)
    return records
