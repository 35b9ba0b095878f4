#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client at local[N].

    python3 perfbench/run.py --workload dedup_text|mapreduce_batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt and generates the fixed analytics tables;
later runs reuse both while the sources are unchanged. Every run empties its
own warehouse, Spark local and output dirs first.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a traced run, whose spans,
task records and per-attempt layer records are left in
perfbench/.work/run/out/. The line before it is a detail object (the
contaminated flag, error rate, build seconds, tail percentile, failures).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lib  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
SF = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# A fixed slice of the dedup pack's headline queries, sized so one run
# (set-up, a cold pass, four warm passes and the output check) stays near
# a minute at local[4]. q_dedup_threshold_sweep runs the near-dup core on
# every execution: word shingles, the shingle-df window (one partition per
# shingle's posting list) and the candidate self-join. The others are the
# simhash kernel, line-level dedup shuffles, exact-hash dedup, and the
# cleaning pipeline, whose cold pass builds the near-dup flags into the
# warehouse once; its warm passes are an anti-join against them.
DEDUP_TEXT = ["q_dedup_simhash", "q_dedup_lines", "q_dedup_exact", "q_pipeline_clean",
              "q_dedup_threshold_sweep"]


def mapreduce_groups(corpus, out):
    """The batch jobs, grouped so that a job reading another's output runs
    right after it whatever the pass order."""
    def engine(name, input_dir, map_ops, reduce_ops, r_num, split_count=None):
        spec = {"map_ops": map_ops, "reduce_ops": reduce_ops, "input_id": input_dir,
                "final_dest_dir_id": f"{out}/{name}", "r_num": r_num}
        if split_count is not None:
            spec["split_count"] = split_count
        return {"name": name, "kind": "engine", "spec": spec}
    return [
        [engine("wordcount", corpus["text"], ["tokenize"], ["sum_ints"], 4)],
        [engine("lower_count", corpus["text"], ["lowercase", "tokenize"], ["count"], 4)],
        [engine("identity", corpus["kv"], ["identity"], [], 4),
         {"name": "chained_max", "kind": "kv_max", "input": f"{out}/identity",
          "output": f"{out}/chained_max"}],
        [engine("split_count", corpus["text"], ["lowercase", "tokenize"], ["count"], 4,
                split_count=8)],
        [engine("concat_sorted", corpus["kv_bounded"], ["identity"], ["concat_sorted"], 4)],
    ]


WORKLOADS = ["dedup_text", "mapreduce_batch"]

# Passes after the cold first one: (warm-up, least measured). The JIT is
# still compiling the jobs' hot code through the first warm passes (about
# 10 s of compile-thread CPU in pass 2, falling to ~1-2 s a pass later), so
# pass 2 runs 20-40% slower than later ones, by an amount that depends on
# how much CPU the host leaves the compiler threads. mapreduce_batch runs it
# as a warm-up pass, left out of the warm metrics, then measures five: its
# jobs' warm times fall in clusters (about 0.3, 0.45, 0.7 and 0.9 s), and
# with 30 samples the tail percentile's sample sits inside one cluster.
# dedup_text measures pass 2 on: a per-job median of four passes already
# sheds it, and a run with one more 5 s pass would not fit the time that
# all the benchmark's runs may take together.
WARM_PASSES = {"dedup_text": (0, 4), "mapreduce_batch": (1, 5)}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(base)
                           for f in fs if "target" not in os.path.relpath(d, base).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          cwd=HERE, capture_output=True, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def tables():
    """The fixed analytics tables (seed 42), generated once per checkout."""
    d = os.path.join(WORK, f"data-sf{SF}")
    stamp = tree_hash([os.path.join(HERE, "gen.py")])
    if not os.path.exists(os.path.join(d, "stamp")) or open(os.path.join(d, "stamp")).read() != stamp:
        shutil.rmtree(d, ignore_errors=True)
        gen.make_tables(d, SF, seed=42)
        with open(os.path.join(d, "stamp"), "w") as fh:
            fh.write(stamp)
    return d


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(cp, args, data, jobs_file, n, timeout):
    out = os.path.join(RUN, "out")
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={RUN}/tmp",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + JAVA_OPTS +
           ["-cp", cp, "perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", data,
            "--jobs", jobs_file, "--work", RUN, "--out", out, "--cpus", str(n)])
    log = open(os.path.join(WORK, "harness.log"), "w")
    proc = subprocess.Popen(cmd, cwd=RUN, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness exceeded {timeout:.0f} s (log: {log.name})")
    finally:
        log.close()
    if rc != 0:
        fail(f"harness exited {rc} (log: {log.name})")
    with open(os.path.join(out, "raw.json")) as fh:
        return json.load(fh), out


def oracle_result(con, sql, data):
    """The oracle's rows, computed once per (oracle SQL, tables) and cached in
    the work dir: the tables are fixed, and some oracles take seconds."""
    import pandas
    key = hashlib.sha256((sql + open(os.path.join(data, "stamp")).read()).encode()).hexdigest()
    path = os.path.join(WORK, "oracle-cache", key + ".pkl")
    if os.path.exists(path):
        return pandas.read_pickle(path)
    df = con.execute(sql).fetch_df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_queries(raw, data):
    """Failures of the query outputs: oracle compare in DuckDB, else rows > 0
    and an equal digest over two executions."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    results = os.path.join(RUN, "results")
    failures = {}
    for name in sorted({a["job"] for a in raw["attempts"]}):
        if name in raw["check_errors"]:
            failures[name] = raw["check_errors"][name]
            continue
        try:
            got = con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'").fetch_df()
            if name in raw["oracles"]:
                bad = lib.compare_frames(got, oracle_result(con, raw["oracles"][name], data))
            else:
                again = con.execute(f"SELECT * FROM '{results}/{name}.2/*.parquet'").fetch_df()
                digest = lib.rows_digest(got.astype(str).itertuples(index=False))
                bad = ("no rows" if len(got) == 0 else
                       "digest differs between executions"
                       if digest != lib.rows_digest(again.astype(str).itertuples(index=False))
                       else None)
        except Exception as e:  # noqa: BLE001 - any failure to read is a failed check
            bad = f"{type(e).__name__}: {e}"
        if bad:
            failures[name] = bad
    return failures


def check_mapreduce(expected, out):
    failures = {}
    for name, want in expected.items():
        try:
            bad = lib.check_kv_output(lib.read_output_lines(f"{out}/{name}"), want)
        except OSError as e:
            bad = str(e)
        if bad:
            failures[name] = bad
    return failures


def measured(raw):
    """The first pass whose attempts count toward the warm metrics."""
    return 2 + raw["warmup_passes"]


def job_medians(attempts, first):
    """Each job's median wall time over the measured warm passes (pass >= first)."""
    by_job = {}
    for a in attempts:
        if a["pass"] >= first and a["error"] is None:
            by_job.setdefault(a["job"], []).append(a["wall_s"])
    return [lib.median(v) for v in by_job.values()]


def warm_total(attempts, first):
    return sum(job_medians(attempts, first))


def e2e_metrics(raw):
    att = [a for a in raw["attempts"] if not a["traced"]]
    ok = [a for a in att if a["error"] is None]
    warm = [a["wall_s"] for a in ok if a["pass"] >= measured(raw)]
    tail, pct, n, beyond = lib.tail_percentile(warm)
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "total_s": (warm_total(att, measured(raw)), "s"),
        # the median job: the median of the per-job medians. Job times form
        # one cluster per job, and the median of the pooled attempts falls
        # in the gap between two clusters, where it jumps from run to run.
        "job_p50_s": (lib.median(job_medians(att, measured(raw))), "s"),
        "job_tail_s": (tail, "s"),
        "first_pass_s": (sum(a["wall_s"] for a in ok if a["pass"] == 1), "s"),
    }
    detail = {"jvm_boot_s": raw["jvm_boot_s"],
              "job_tail_percentile": round(pct, 2), "job_tail_samples": n,
              "job_tail_samples_beyond": beyond,
              "passes": len({a["pass"] for a in att}),
              "warmup_passes": raw["warmup_passes"],
              "build_s": sum(a["build_s"] for a in raw["attempts"])}
    return metrics, detail


def layer_metrics(raw, out, mr_emitted, n):
    spans = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl"))]
    tasks = [json.loads(l) for l in open(os.path.join(out, "tasks.jsonl"))]
    records = lib.layer_records(spans, tasks, raw["attempts"])
    with open(os.path.join(out, "layers.jsonl"), "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")
    warm_passes = [p for p in raw["passes"] if p["traced"] and p["pass"] >= measured(raw)]
    k = len(warm_passes)
    warm_ids = {p["pass"] for p in warm_passes}
    recs = [r for r in records if r["pass"] in warm_ids]
    warm_attempts = {r["attempt"] for r in recs}
    phase_names = {"execute", "run"}

    def phases(names=None):
        return [p for r in recs for nm, p in r["phases"].items() if names is None or nm in names]

    def per_pass(x):
        return x / k

    engine_recs = [r for r in recs if "run" in r["phases"]]
    all_ph = phases()
    exec_ph = phases(phase_names)
    wt = [t for t in tasks if t["attempt"] in warm_attempts]
    stage_read = {}
    for t in wt:
        s = stage_read.setdefault(t["stage"], [])
        s.append(t.get("sr_bytes", 0))
    shares = [(sum(v), max(v) / sum(v)) for v in stage_read.values() if sum(v) > 0]
    exec_wall = sum(p["wall_s"] for p in exec_ph)
    task_run = sum(p["task_run_s"] for p in all_ph)
    run_ph = [r["phases"]["run"] for r in engine_recs]
    sw_rows = {}
    for t in wt:
        sw_rows[t["attempt"]] = sw_rows.get(t["attempt"], 0) + t.get("sw_rows", 0)
    combine_num = sum(sw_rows.get(r["attempt"], 0) for r in engine_recs if mr_emitted.get(r["job"]))
    combine_den = sum(mr_emitted[r["job"]] for r in engine_recs if mr_emitted.get(r["job"]))
    untraced_total = warm_total([a for a in raw["attempts"] if not a["traced"]], measured(raw))
    traced_total = warm_total([a for a in raw["attempts"] if a["traced"]], measured(raw))
    outputs = os.path.join(RUN, "mr-out")
    out_files = sum(1 for d, _, fs in os.walk(outputs) for f in fs
                    if not f.startswith(("_", "."))) if os.path.isdir(outputs) else 0
    kern = raw["kernels_ns_row"]
    m = {
        "operators.construct_s": (per_pass(sum(p["wall_s"] for p in phases({"construct"}))), "s"),
        "operators.construct_jobs": (per_pass(sum(p["spark_jobs"] for p in phases({"construct"}))),
                                     "count"),
        "catalyst.plan_s": (per_pass(sum(r["phases"]["plan"]["wall_s"] for r in recs
                                         if "execute" in r["phases"] and "plan" in r["phases"])), "s"),
        "catalyst.executions": (per_pass(sum(p["executions"] for p in warm_passes)), "count"),
        "codegen.compiles": (per_pass(sum(p["compiles"] for p in warm_passes)), "count"),
        "codegen.compile_s": (per_pass(sum(p["compile_s"] for p in warm_passes)), "s"),
        "codegen.first_pass_compiles": (raw["passes"][0]["compiles"], "count"),
        "scheduler.jobs": (per_pass(sum(p["spark_jobs"] for p in all_ph)), "count"),
        "scheduler.stages": (per_pass(sum(p["stages"] for p in all_ph)), "count"),
        "scheduler.tasks": (per_pass(sum(p["tasks"] for p in all_ph)), "count"),
        "scheduler.tasks_per_stage": (sum(p["tasks"] for p in all_ph) /
                                      max(1, sum(p["stages"] for p in all_ph)), "ratio"),
        "scheduler.idle_s": (per_pass(sum(p["idle_s"] for p in exec_ph)), "s"),
        "scheduler.task_retry_ratio": (sum(1 for t in wt if t["failed"] or t["speculative"]) /
                                       max(1, len(wt)), "ratio"),
        "exec.task_run_s": (per_pass(task_run), "s"),
        "exec.task_cpu_s": (per_pass(sum(p["task_cpu_s"] for p in all_ph)), "s"),
        "exec.gc_s": (per_pass(sum(p["gc_s"] for p in all_ph)), "s"),
        "exec.core_util": (sum(p["task_run_s"] for p in exec_ph) / max(1e-9, exec_wall * n),
                           "ratio"),
        "shuffle.write_mb": (per_pass(sum(t.get("sw_bytes", 0) for t in wt) / 2**20), "MiB"),
        "shuffle.read_mb": (per_pass(sum(t.get("sr_bytes", 0) for t in wt) / 2**20), "MiB"),
        "shuffle.fetch_wait_s": (per_pass(sum(t.get("sr_wait_ms", 0) for t in wt) / 1e3), "s"),
        "shuffle.spill_mb": (per_pass(sum(t.get("spill_bytes", 0) for t in wt) / 2**20), "MiB"),
        "shuffle.max_task_share": (sum(w * s for w, s in shares) / max(1, sum(w for w, _ in shares)),
                                   "ratio"),
        "sources.scan_mb": (per_pass(sum(t.get("in_bytes", 0) for t in wt) / 2**20), "MiB"),
        "sources.scan_rows": (per_pass(sum(t.get("in_rows", 0) for t in wt)), "count"),
        "sources.warehouse_builds": (sum(len(p["builds"]) for p in raw["passes"]), "count"),
        "sources.warehouse_build_s": (sum(a["build_s"] for a in raw["attempts"]), "s"),
        "sources.output_mb": (per_pass(sum(t.get("out_bytes", 0) for t in wt) / 2**20), "MiB"),
        "sources.output_files": (out_files, "count"),
        "engine.parse_s": (per_pass(sum(r["phases"]["parse"]["wall_s"] for r in engine_recs
                                        if "parse" in r["phases"])), "s"),
        "engine.plan_s": (per_pass(sum(r["phases"]["plan"]["wall_s"] for r in engine_recs
                                       if "plan" in r["phases"])), "s"),
        "engine.run_s": (per_pass(sum(p["wall_s"] for p in run_ph)), "s"),
        "engine.records_in": (per_pass(sum(t.get("in_rows", 0) for t in wt
                                           if t["attempt"] in {r["attempt"] for r in engine_recs})),
                              "count"),
        "engine.commit_s": (per_pass(sum(p["end_ms"] / 1e3 - p["last_task_end_ms"] / 1e3
                                         for p in run_ph if p["last_task_end_ms"])), "s"),
        "engine.combine_ratio": (combine_num / combine_den if combine_den else 0.0, "ratio"),
        "functions.tokens_ns_row": (kern.get("tokens", 0.0), "ns"),
        "functions.word_shingles_ns_row": (kern.get("word_shingles", 0.0), "ns"),
        "functions.minhash_ns_row": (kern.get("minhash", 0.0), "ns"),
        "functions.simhash_ns_row": (kern.get("simhash", 0.0), "ns"),
        "functions.cosine_ns_row": (kern.get("cosine", 0.0), "ns"),
        "jvm.peak_rss_mb": (raw["peak_rss_mb"], "MiB"),
        "trace.overhead_pct": (100.0 * (traced_total / untraced_total - 1)
                               if untraced_total else 0.0, "%"),
    }
    return m


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def contamination(raw, n, steal_share):
    """Reasons this run's timings should not be trusted (empty: clean)."""
    reasons = []
    if steal_share > 0.02:
        reasons.append(f"host steal: {100 * steal_share:.1f}% of CPU time was stolen")
    load = max(r for _, r in raw["probes"])
    if load > 1.8:
        reasons.append(f"host load: {n}-thread probe ratio {load:.2f} > 1.8")
    passes = raw["passes"]
    first = passes[0]["compiles"]
    warm = [p["compiles"] for p in passes[1:]]
    if first and warm and max(warm) >= 0.5 * first:
        reasons.append(f"codegen thrash: a warm pass compiled {max(warm)} classes, "
                       f"pass 1 compiled {first}")
    rebuilt = sorted({b for p in passes[1:] for b in p["builds"]})
    if rebuilt:
        reasons.append("warehouse rebuilt in a warm pass: " + ", ".join(rebuilt))
    return reasons


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")

    t0 = time.time()
    cp = build()
    data = tables()
    t_start = time.time()
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("warehouse", "local", "tmp", "results", "out"):
        os.makedirs(os.path.join(RUN, d))
    n = cpus()
    if args.workload == "mapreduce_batch":
        corpus, expected, emitted = gen.make_corpus(os.path.join(RUN, "corpus"), args.seed)
        groups = mapreduce_groups(corpus, os.path.join(RUN, "mr-out"))
    else:
        groups = [[{"name": q, "kind": "query"}] for q in DEDUP_TEXT]
        expected, emitted = None, {}
    jobs_file = os.path.join(RUN, "jobs.json")
    with open(jobs_file, "w") as fh:
        warmup, warm = WARM_PASSES[args.workload]
        json.dump({"groups": groups, "warmup_passes": warmup, "warm_passes": warm}, fh)

    steal0 = cpu_ticks()
    t_jvm = time.time()
    # traced runs alternate traced and untraced passes, and take longer
    raw, out = run_harness(cp, args, data, jobs_file, n, timeout=120 + 3 * args.seconds)
    steal1 = cpu_ticks()
    t_checks = time.time()
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    # every timed attempt and every output check is one operation
    failures = {f"{a['job']}#{a['id']}": a["error"] for a in raw["attempts"] if a["error"]}
    if expected is not None:
        checked = expected
        failures.update(check_mapreduce(expected, os.path.join(RUN, "mr-out")))
    else:
        checked = DEDUP_TEXT
        failures.update(check_queries(raw, data))
    attempted = len(raw["attempts"]) + len(checked)
    failed = len(failures)

    metrics, detail = e2e_metrics(raw)
    if args.trace:
        metrics = layer_metrics(raw, out, emitted, n)
    reasons = contamination(raw, n, steal_share)
    detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "cpus": n, "contaminated": bool(reasons), "contaminated_reasons": reasons,
                   "error_rate": failed / attempted, "failures": failures,
                   "load_probe": raw["probes"], "steal_share": steal_share,
                   "wall_s": {"build_and_tables": t_start - t0, "inputs": t_jvm - t_start,
                              "harness": t_checks - t_jvm, "checks": time.time() - t_checks}})
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
