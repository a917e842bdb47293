#!/usr/bin/env python3
"""Layered benchmark of the movie-ETL upsert path and the query catalogue.

Run from the repository root:

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Builds the program from source (once per checkout, into .bench_build/),
generates the inputs from the seed, runs one JVM that sets up, measures
and writes its raw records, checks the outputs, and prints one JSON line
with `correct`, `attempted`, `failed` and `metrics` last. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics of a
traced run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build, feed, oracle, stats, tables  # noqa: E402

BUILD_DIR = ".bench_build"
CPUS = 4
HEAP = "3g"
SETUP_REPS = 3
JVM_TIMEOUT_S = 160  # keeps a hung run under the 180 s limit

# q223_balanced_pq is left out: on some seeded inputs its balanced total_err
# differs from the oracle in the sixth decimal (seed 14: 403.054226 vs
# 403.054231), so the workload could not pass its gate on every seed.
DRIVER_PROGRAMS = ("q100_pretraining_pipeline", "q216_hamming_recall", "q186_merge_evolve")
# min_days counts days including the cold day 1; min_passes counts the
# timed warm passes that follow the cold pass and one untimed settle pass.
WORKLOADS = {
    "etl_upsert": {"seed_rows": 25_000, "pages": 50, "days": 8, "min_days": 4},
    "driver_programs": {"queries": DRIVER_PROGRAMS, "sf": 0.01, "min_passes": 4},
}
END_TO_END = (("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("rows_per_s", "1/s"), ("first_pass_s", "s"))
PER_LAYER = (
    ("sources.ingest_s", "s"), ("sources.fetch_s", "s"), ("sources.pages", "count"),
    ("sources.rows", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("sinks.write_s", "s"), ("sinks.jobs", "count"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"), ("sinks.write_amp", "ratio"),
    ("pipeline.wall_s", "s"), ("pipeline.busy_s", "s"), ("pipeline.overlap", "ratio"),
    ("pipeline.retries", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("queries.exec_s", "s"),
    ("queries.exec_jobs", "count"),
    ("artifacts.build_s", "s"), ("artifacts.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.plan_kb", "KiB"),
    ("execution.jobs", "count"), ("execution.tasks", "count"), ("execution.jobsum_s", "s"),
    ("execution.driver_gap_s", "s"), ("execution.shuffle_read_mb", "MiB"),
    ("execution.shuffle_write_mb", "MiB"), ("execution.spill_mb", "MiB"),
    ("execution.failed_tasks", "count"),
    ("storage.persisted_rdds", "count"), ("storage.cache_held_mb", "MiB"),
    ("storage.tmp_leak_mb", "MiB"),
    ("check.failed_ratio", "ratio"), ("check.repeat_type_change_fails", "count"),
    ("trace.overhead_s", "s"), ("trace.max_residual_s", "s"),
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def write_plan(work, entries):
    with open(os.path.join(work, "plan.properties"), "w") as fh:
        for k, v in entries.items():
            fh.write(f"{k}={v}\n")


def prepare(workload, seed, seconds, trace, work):
    """Generate the inputs and the JVM's plan; return what the check needs."""
    cfg = WORKLOADS[workload]
    plan = {"workload": workload, "seconds": seconds, "trace": trace, "cpus": CPUS,
            "reps": SETUP_REPS}
    if workload == "etl_upsert":
        f = feed.Feed(seed, cfg["seed_rows"], cfg["pages"])
        seed_dir = os.path.join(work, "input", "seed")
        pages_dir = os.path.join(work, "input", "pages")
        os.makedirs(seed_dir)
        import pyarrow.parquet as pq
        for e in feed.ENDPOINTS:
            pq.write_table(f.seed_table(e), os.path.join(seed_dir, f"{e}.parquet"))
        for d in range(1, cfg["days"] + 1):
            os.makedirs(os.path.join(pages_dir, f"d{d}"))
            for e, pages in f.next_day().items():
                with open(os.path.join(pages_dir, f"d{d}", f"{e}.txt"), "w") as fh:
                    fh.writelines(f"{n}\t{body}\n" for n, body in pages)
        plan.update(endpoints=",".join(feed.ENDPOINTS), days=cfg["days"],
                    min_days=cfg["min_days"], add_col_day=f.add_col_day,
                    type_change_day=f.type_change_day, base_date=feed.BASE_DATE.isoformat(),
                    seed_dir=seed_dir, pages_dir=pages_dir, dest_dir=os.path.join(work, "dest"))
    else:
        data = os.path.join(work, "input", "data")
        tables.generate(data, seed, cfg["sf"])
        plan.update(queries=",".join(cfg["queries"]), data_dir=data,
                    min_passes=cfg["min_passes"])
    write_plan(work, plan)
    return plan


def dir_bytes(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def replay(seed, days):
    """The feed after `days` days, and per day the rows it inserted or changed."""
    cfg = WORKLOADS["etl_upsert"]
    f = feed.Feed(seed, cfg["seed_rows"], cfg["pages"])
    changed = {}
    for d in range(1, days + 1):
        f.next_day(render=False)
        changed[d] = sum(f.changed[(d, e)] for e in feed.ENDPOINTS)
    return f, changed


def check(workload, plan, work, expected):
    """{name: (ok, rows, detail)} for every checked output; `expected` is
    the replayed feed for etl_upsert."""
    if workload == "etl_upsert":
        root = os.path.join(plan["dest_dir"], f"rep{SETUP_REPS}")
        return {e: oracle.check_table(os.path.join(root, e), expected, e) for e in feed.ENDPOINTS}
    names = WORKLOADS[workload]["queries"]
    return oracle.check_queries(plan["data_dir"], os.path.join(work, "out"),
                                os.path.join(work, "oracle_sql.json"), names)


def secs(a, b):
    return (b - a) / 1e6


def timed(items):
    """Timed passes or ops: every day but the first, and the warm query passes."""
    return [x for x in items if x["kind"] == "warm" or (x["kind"] == "day" and x["pass"] > 1)]


def end_to_end(workload, rec, checks, gen_start_us):
    ops = timed(rec["ops"])
    passes = timed(rec["passes"])
    lat = [secs(o["t0"], o["t1"]) for o in ops]
    tail, pct, beyond = stats.tail(lat)
    if workload == "etl_upsert":
        rows = sum(d["rows"] for d in rec["days"] if d["day"] > 1)
        first = next(p for p in rec["passes"] if p["kind"] == "day" and p["pass"] == 1)
    else:
        rows = sum(checks[o["name"]][1] for o in ops)
        first = next(p for p in rec["passes"] if p["kind"] == "cold")
    values = {
        "setup_s": secs(gen_start_us, rec["session_us"]) + stats.median(rec["setup_reps"]),
        "run_s": stats.median([secs(p["t0"], p["t1"]) for p in passes]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "rows_per_s": rows / sum(secs(p["t0"], p["t1"]) for p in passes),
        "first_pass_s": secs(first["t0"], first["t1"]),
    }
    detail = {"op_tail_percentile": round(pct, 2), "op_tail_samples_beyond": beyond,
              "ops": len(ops), "passes": len(passes)}
    return values, detail


def _by_op(items):
    out = {}
    for x in items:
        out.setdefault(x["op"], []).append(x)
    return out


def per_layer(workload, rec, checks, tmp_leak_bytes):
    """Per-layer metrics of the traced passes, each summed over a pass and
    reported as the median over traced passes."""
    spans_by_op, jobs_by_op, sql_by_op = (_by_op(rec["spans"]), _by_op(rec["jobs"]),
                                          _by_op(rec["sql"]))
    span_by_id = {s["id"]: s for s in rec["spans"]}
    traced = [p for p in timed(rec["passes"]) if p["traced"]]
    untraced = [p for p in timed(rec["passes"]) if not p["traced"]]
    per_pass, residuals, accounts = [], [], []
    for p in traced:
        m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        ops = [o for o in rec["ops"] if o["pass"] == p["pass"] and o["span"]]
        for o in ops:
            root = span_by_id[o["span"]]
            spans = spans_by_op.get(o["span"], [])
            jobs = [j for j in jobs_by_op.get(o["span"], []) if j["t1"]]
            acc = stats.account(root, spans, jobs)
            acc["op"] = f"{o['name']}#{o['pass']}"
            accounts.append(acc)
            residuals.append(abs(acc["residual"]) / 1e6)
            m["execution.driver_gap_s"] += acc["gap"] / 1e6
            for s in spans:
                dur = secs(s["t0"], s["t1"])
                own = [j for j in jobs if j["span"] == s["id"]]
                key = f"{s['layer']}.{s['name']}"
                if key == "sources.ingest":
                    m["sources.ingest_s"] += dur
                elif s["layer"] == "operators":
                    m["operators.build_s"] += dur
                    m["operators.build_jobs"] += len(own)
                elif s["layer"] == "sinks":
                    m["sinks.jobs"] += len(own)
                    if s["name"] == "write":
                        m["sinks.write_s"] += dur
                elif key == "queries.build":
                    m["queries.build_s"] += dur
                    m["queries.build_jobs"] += len(own)
                elif key == "queries.exec":
                    m["queries.exec_s"] += dur
                    m["queries.exec_jobs"] += len(own)
            for j in jobs:
                m["execution.jobs"] += 1
                m["execution.tasks"] += j["tasks"]
                m["execution.jobsum_s"] += secs(j["t0"], j["t1"])
                m["execution.shuffle_read_mb"] += j["shuffle_read"] / 2**20
                m["execution.shuffle_write_mb"] += j["shuffle_write"] / 2**20
                m["execution.spill_mb"] += j["spill"] / 2**20
                m["execution.failed_tasks"] += j["failed_tasks"]
            execs = sql_by_op.get(o["span"], [])
            m["catalyst.analysis_s"] += sum(x["analysis_ms"] for x in execs) / 1e3
            m["catalyst.optimization_s"] += sum(x["optimization_ms"] for x in execs) / 1e3
            m["catalyst.planning_s"] += sum(x["planning_ms"] for x in execs) / 1e3
            m["catalyst.plan_kb"] += max((x["plan_chars"] for x in execs), default=0) / 1024
        if workload == "etl_upsert":
            day = next(d for d in rec["days"] if d["day"] == p["pass"])
            m["sources.fetch_s"] = day["fetch_us"] / 1e6
            m["sources.pages"] = day["pages"]
            m["sources.rows"] = day["rows"]
            m["sinks.bytes_written"] = day["bytes_written"]
            m["sinks.files_written"] = day["files_written"]
            # Bytes written over bytes of the rows new or changed that day,
            # at the bytes per row measured on the seeded tables.
            row_bytes = rec["seed_bytes"] / (WORKLOADS["etl_upsert"]["seed_rows"] * len(feed.ENDPOINTS))
            m["sinks.write_amp"] = day["bytes_written"] / (max(1, rec["changed_rows"][p["pass"]]) * row_bytes)
            m["pipeline.wall_s"] = secs(p["t0"], p["t1"])
            m["pipeline.busy_s"] = sum(secs(o["t0"], o["t1"]) for o in ops)
            m["pipeline.overlap"] = m["pipeline.busy_s"] / (m["pipeline.wall_s"] * len(feed.ENDPOINTS))
            attempts = [o for o in rec["ops"] if o["pass"] == p["pass"]]
            m["pipeline.retries"] = len(attempts) - len({o["name"] for o in attempts})
        m["storage.persisted_rdds"] = p["persisted_rdds"]
        per_pass.append(m)
    out = {n: stats.median([m[n] for m in per_pass]) for n, _ in PER_LAYER}
    if workload != "etl_upsert":
        out.update(artifact_builds(rec))
    out["storage.cache_held_mb"] = rec["cache_held_bytes"] / 2**20
    out["storage.tmp_leak_mb"] = tmp_leak_bytes / 2**20
    out["check.failed_ratio"] = sum(not c[0] for c in checks.values()) / len(checks)
    out["check.repeat_type_change_fails"] = int(rec.get("repeat_type_change", "ok") != "ok")
    wall = lambda ps: stats.median([secs(p["t0"], p["t1"]) for p in ps])  # noqa: E731
    out["trace.overhead_s"] = wall(traced) - wall(untraced) if untraced else 0.0
    out["trace.max_residual_s"] = max(residuals, default=0.0)
    ok = all(stats.within_tolerance(a) for a in accounts)
    return out, accounts, ok


def per_query(rec):
    """{query: {build_s, build_jobs, exec_s, exec_jobs}} over its traced warm ops."""
    spans, jobs = _by_op(rec["spans"]), _by_op(rec["jobs"])
    rows = {}
    for o in rec["ops"]:
        if o["kind"] != "warm" or not o["span"]:
            continue
        r = rows.setdefault(o["name"], [])
        x = {}
        for s in spans.get(o["span"], []):
            if s["layer"] == "queries":
                x[f"{s['name']}_s"] = secs(s["t0"], s["t1"])
                x[f"{s['name']}_jobs"] = sum(j["span"] == s["id"] for j in jobs.get(o["span"], []))
        r.append(x)
    return {q: {k: stats.median([x.get(k, 0) for x in xs]) for k in
                ("build_s", "build_jobs", "exec_s", "exec_jobs")} for q, xs in rows.items()}


def write_trace(root, workload, seed, rec, accounts, values):
    out = os.path.join(root, BUILD_DIR, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump({"record": rec, "accounts": accounts, "metrics": values}, fh)
    return path


def artifact_builds(rec):
    """First call of each query in a fresh JVM minus its median warm call."""
    first, warm = {}, {}
    for o in rec["ops"]:
        if o["kind"] == "cold":
            first[o["name"]] = o
        elif o["kind"] == "warm":
            warm.setdefault(o["name"], []).append(o)
    jobs = _by_op(rec["jobs"])
    build_s = sum(max(0.0, secs(o["t0"], o["t1"]) -
                      stats.median([secs(w["t0"], w["t1"]) for w in warm.get(q, [])]))
                  for q, o in first.items())
    traced_warm = {q: [w for w in ws if w["span"]] for q, ws in warm.items()}
    build_jobs = 0
    for q, o in first.items():
        if o["span"] and traced_warm.get(q):
            cold_jobs = len(jobs.get(o["span"], []))
            warm_jobs = stats.median([len(jobs.get(w["span"], [])) for w in traced_warm[q]])
            build_jobs += max(0, cold_jobs - warm_jobs)
    return {"artifacts.build_s": build_s, "artifacts.build_jobs": build_jobs}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classes = build.build(root, os.path.join(root, BUILD_DIR))
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    os.makedirs(os.path.join(root, BUILD_DIR, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(root, BUILD_DIR, "work"))
    try:
        gen_start_us = time.time() * 1e6
        plan = prepare(a.workload, a.seed, a.seconds, a.trace, work)
        tmpdir = os.path.join(work, "tmp")
        os.makedirs(tmpdir)
        with open(os.path.join(work, "jvm.log"), "w") as err:
            proc = subprocess.run(build.java_cmd(root, classes, HEAP, tmpdir) + ["perfbench.Main", work],
                                  stdout=err, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-3000:])
            log(f"JVM exited with {proc.returncode}")
            return 3
        tmp_leak = dir_bytes(tmpdir)
        with open(os.path.join(work, "jvm.json")) as fh:
            rec = json.load(fh)
        expected = None
        if a.workload == "etl_upsert":
            expected, rec["changed_rows"] = replay(a.seed, len(rec["days"]))
        checks = check(a.workload, plan, work, expected)
        for name, (ok, rows, detail) in sorted(checks.items()):
            log(f"check {'PASS' if ok else 'FAIL'} {name} rows={rows} {detail}")
        if "repeat_type_change" in rec:
            log(f"probe repeat_type_change: {rec['repeat_type_change']}")
        attempted = len(checks)
        failed = sum(not c[0] for c in checks.values())
        if a.trace:
            values, accounts, acc_ok = per_layer(a.workload, rec, checks, tmp_leak)
            for acc in accounts:
                log("account {op}: wall={w:.3f}s gap={g:.3f}s residual={r:.4f}s {ls}".format(
                    op=acc["op"], w=acc["wall"] / 1e6, g=acc["gap"] / 1e6,
                    r=acc["residual"] / 1e6,
                    ls=" ".join(f"{k}={v / 1e6:.3f}s" for k, v in sorted(acc["layers"].items()))))
            if not acc_ok:
                log("span accounting outside tolerance")
            log("persisted_rdds by pass " + json.dumps(
                [[p["kind"], p["pass"], p["persisted_rdds"]] for p in rec["passes"]]))
            if a.workload != "etl_upsert":
                for q, x in per_query(rec).items():
                    log(f"query {q} " + " ".join(f"{k}={v:.4g}" for k, v in x.items()))
            log("trace written to " + write_trace(root, a.workload, a.seed, rec, accounts, values))
            units = dict(PER_LAYER)
            correct = failed == 0 and acc_ok
        else:
            values, detail = end_to_end(a.workload, rec, checks, gen_start_us)
            log("detail " + json.dumps(detail))
            units = dict(END_TO_END)
            correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": values[k], "unit": units[k]}
                                      for k in units}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
