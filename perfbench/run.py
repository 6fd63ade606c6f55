"""One benchmark run: build, generate the seeded inputs, drive one
workload through the engine in one JVM, check its outputs, print the
metrics.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

Run it from the repository root. Human-readable lines go to stderr; the
last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics untraced, the
per-layer metrics with `--trace 1`). The full artifact of the run — op
log, checks, host context, per-layer metrics, spans — is written to
.bench_results/<workload>-seed<seed>-trace<0|1>.json.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("warehouse", "arrival")
# a run must end within 180 s; keep margin for the checks after the JVM
JVM_DEADLINE_S = 165
ARRIVAL_DOCS = 100
ARRIVAL_QUERIES = 200
# the arrival schedule: one batch due every ARRIVAL_INTERVAL_MS, a
# retention pass after every ARRIVAL_COMPACT_EVERY-th batch
ARRIVAL_INTERVAL_MS = 9000
ARRIVAL_COMPACT_EVERY = 3
# set-up lands this many chunks before the timed batches (Arrival.scala)
ARRIVAL_WARM = 2
# expected arrival corpus digests, by seed and batch count
DIGESTS = Path(__file__).resolve().parent / "digests.json"

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "capacity_ops_per_s": "ops/s", "read_p50_ms": "ms",
    "write_amp": "ratio", "space_amp": "ratio",
}

# Measured in traced arrival runs, after the timed window, by a one-shot
# corpus build over the run's documents; no gated metric depends on it.
REFERENCE = "none gated (one-shot reference build, traced arrival run)"

# per-layer metric -> (unit, the end-to-end metric it should move)
PER_LAYER = {
    "spark.plan_ms": ("ms", "op_p50_ms on warehouse"),
    "spark.driver_gap_ms": ("ms", "op_p50_ms on warehouse; "
                            "capacity_ops_per_s on arrival"),
    "spark.jobs": ("count", "capacity_ops_per_s on arrival; "
                   "op_p50_ms on warehouse"),
    "spark.stages": ("count", "capacity_ops_per_s on arrival; "
                     "op_p50_ms on warehouse"),
    "spark.tasks": ("count", "capacity_ops_per_s on arrival; "
                    "op_p50_ms on warehouse"),
    "spark.executor_run_ms": ("ms", "op_tail_ms on both"),
    "spark.executor_cpu_ms": ("ms", "op_tail_ms on both"),
    "spark.executor_gc_ms": ("ms", "op_tail_ms on both"),
    "spark.task_skew": ("ratio", "op_tail_ms on both"),
    "spark.shuffle_write_bytes": ("bytes", "op_p50_ms on warehouse"),
    "spark.shuffle_read_bytes": ("bytes", "op_p50_ms on warehouse"),
    "spark.spill_bytes": ("bytes", "op_tail_ms on both"),
    "spark.shuffle_fetch_wait_ms": ("ms", "op_p50_ms on warehouse"),
    "spark.scan_bytes": ("bytes", "op_p50_ms on warehouse"),
    "spark.output_bytes": ("bytes", "write_amp on arrival"),
    "spark.output_files": ("count", "write_amp on arrival"),
    "GraftSession.start_ms": ("ms", "setup_s on both"),
    "sources.CsvReader.decode_ms": ("ms", "op_p50_ms on arrival"),
    "sources.VersionedLake.stage_ms": ("ms", "op_p50_ms on arrival"),
    "sources.VersionedLake.publish_ms": ("ms", "op_p50_ms on arrival"),
    "sources.VersionedLake.read_ms": ("ms", "read_p50_ms on arrival"),
    "sources.VersionedLake.vacuum_ms": ("ms", "space_amp on arrival"),
    "sources.VersionedLake.files_written": ("count", "write_amp on arrival"),
    "sources.VersionedLake.bytes_written": ("bytes", "write_amp on arrival"),
    "flows.TrainingCorpus.apply_batch_ms": ("ms", "capacity_ops_per_s on "
                                            "arrival"),
    "flows.TrainingCorpus.jobs_per_batch": ("count", "capacity_ops_per_s on "
                                            "arrival"),
    "flows.TrainingCorpus.build_ms": ("ms", REFERENCE),
    "flows.StreamingRetention.compact_ms": ("ms", "op_tail_ms on arrival"),
    "flows.StreamingRetention.bytes_rewritten": ("bytes", "space_amp on "
                                                 "arrival"),
    "flows.AnnIndex.build_ms": ("ms", REFERENCE),
    "flows.AnnIndex.search_ms": ("ms", REFERENCE),
    "operators.Dedup.pair_precision": ("ratio", REFERENCE),
    "operators.Relational.join_ms": ("ms", "op_p50_ms on warehouse"),
    "operators.Relational.agg_ms": ("ms", "op_p50_ms on warehouse"),
    "operators.Relational.window_ms": ("ms", "op_p50_ms on warehouse"),
    "plans.TopKPerKey.op_ms": ("ms", "op_p50_ms on warehouse"),
    "flows.ModelRunner.build_ms": ("ms", "op_p50_ms on warehouse"),
    "arrival.queue_wait_ms": ("ms", "op_tail_ms on arrival"),
    "jvm.gc_ms": ("ms", "op_tail_ms on both"),
    "jvm.heap_after_gc_mb": ("MiB", "none gated (heap is reported only)"),
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def arrival_batches(seconds: int) -> int:
    """Timed batches: whole retention cycles that fall due within
    `seconds`, at least one cycle."""
    per_cycle = ARRIVAL_INTERVAL_MS * ARRIVAL_COMPACT_EVERY
    return ARRIVAL_COMPACT_EVERY * max(1, seconds * 1000 // per_cycle)


def run_jvm(classes_cp: str, args: list, work: Path, deadline: float) -> None:
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            "-XX:G1PeriodicGCInterval=20000", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [a for p in JDK_OPENS for a in
              ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes_cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    (work / "jvm.log").replace(results_dir() / f"{work.name}.log")
    if code != 0:
        tail = (results_dir() / f"{work.name}.log").read_text(
            errors="replace")[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM exited with {code}")


def results_dir() -> Path:
    d = ROOT / ".bench_results"
    d.mkdir(exist_ok=True)
    return d


def oracle_check(inputs: Path, work: Path) -> list:
    """DuckDB replay of each warehouse query's oracle SQL over the same
    parquet, compared the way tools/check_oracle.py compares."""
    import duckdb
    import pandas as pd

    def canon(df):
        return df[sorted(df.columns)].reset_index(drop=True)

    def cell_eq(a, b):
        if a is None and b is None:
            return True
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        try:
            if pd.isna(a) and pd.isna(b):
                return True
        except (TypeError, ValueError):
            pass
        return str(a) == str(b)

    con = duckdb.connect()
    for t in sorted(inputs.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    oracle = json.loads((work / "oracle_sql.json").read_text())
    checks = []
    for name, sql in sorted(oracle.items()):
        dump = work / "dump" / name
        try:
            mine = canon(pd.read_parquet(dump))
            ref = canon(con.execute(sql).fetchdf())
            if list(mine.columns) != list(ref.columns):
                bad = f"columns {list(mine.columns)} != {list(ref.columns)}"
            elif len(mine) != len(ref):
                bad = f"rows {len(mine)} != {len(ref)}"
            else:
                cols = [(c, mine[c].tolist(), ref[c].tolist())
                        for c in mine.columns]
                # equal lists compare in C; only a differing column (or
                # one holding NaN) is walked cell by cell
                bad = next((f"{c} row {i}: {a!r} != {b!r}"
                            for c, m, r in cols if m != r
                            for i, (a, b) in enumerate(zip(m, r))
                            if not cell_eq(a, b)), None)
        except Exception as e:  # a missing dump or an oracle error fails
            bad = f"{type(e).__name__}: {e}"
        checks.append({"name": f"oracle {name}", "ok": bad is None,
                       "detail": bad or f"{len(mine)} rows",
                       "fails_ops": [name]})
    return checks


def tail(xs: list) -> tuple:
    """The highest percentile that leaves at least ten samples beyond it,
    as (value, percentile). Below 20 samples that percentile would sit at
    or under the median, so the tail is the maximum (percentile 100)."""
    n = len(xs)
    if n < 20:
        return max(xs), 100.0
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def finite(v: float) -> float:
    # a failed op has infinite latency; JSON cannot carry inf
    return v if math.isfinite(v) else 1e12


def metrics(res: dict, failed_names: set) -> tuple:
    ops = res["ops"]
    for o in ops:
        o["failed"] = "error" in o or o["name"] in failed_names
        o["lat"] = math.inf if o["failed"] else o["end_ms"] - o["due_ms"]
    main = [o for o in ops if o["kind"] != "read"]
    reads = [o for o in ops if o["kind"] == "read"] or main
    lat = [o["lat"] for o in main]
    wall = (max(o["end_ms"] for o in ops) - min(o["due_ms"] for o in ops)) / 1e3
    ok = [o for o in main if not o["failed"]]
    if res["workload"] == "arrival":
        busy = sum(o["end_ms"] - o["start_ms"] for o in main) / 1e3
    else:
        busy = wall
    t, pct = tail(lat)
    m = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "op_p50_ms": finite(statistics.median(lat)),
        "op_tail_ms": finite(t),
        "capacity_ops_per_s": len(ok) / busy,
        "read_p50_ms": finite(statistics.median(o["lat"] for o in reads)),
        "write_amp": res["bytes_written"] / res["input_bytes"],
        "space_amp": res["live_bytes"] / res["live_input_bytes"],
    }
    # reported, not gated: its spread across seeds exceeds any bound
    extra = {"peak_heap_mb": res["peak_heap_mb"],
             "op_tail_percentile": pct, "ops": len(main),
             "read_ops": len(reads), "failed_frac":
             sum(o["failed"] for o in ops) / len(ops)}
    return m, extra


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", type=Path, help="warehouse only: run on "
                    "this directory of sf0.1 tables instead of generating "
                    "them (the seed then sets only the query order)")
    a = ap.parse_args()
    if a.tables and a.workload != "warehouse":
        ap.error("--tables applies to the warehouse workload only")
    build.build()
    deadline = time.time() + JVM_DEADLINE_S
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = a.tables.resolve() if a.tables else work / "inputs"
    args = [a.workload, str(inputs), str(work), str(a.seed), str(a.seconds),
            str(a.trace), str(cores()), str(work / "result.json")]
    batches = arrival_batches(a.seconds)
    try:
        t = time.time()
        if a.workload == "arrival":
            gen.arrival(str(inputs), a.seed, ARRIVAL_WARM + batches,
                        ARRIVAL_DOCS, ARRIVAL_QUERIES)
            args += [str(batches), str(ARRIVAL_INTERVAL_MS),
                     str(ARRIVAL_COMPACT_EVERY)]
        elif not a.tables:
            gen.warehouse(str(inputs), a.seed)
        gen_s = time.time() - t
        run_jvm(build.classpath(), args, work, deadline)
        out = work / "result.json"
        res = json.loads(out.read_text())
        checks = res["checks"]
        if a.workload == "warehouse":
            checks += oracle_check(inputs, work)
        else:
            checks.append(digest_check(a.seed, batches, res))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed_names = {n for c in checks if not c["ok"] for n in c["fails_ops"]}
    e2e, extra = metrics(res, failed_names)
    attempted = len(res["ops"])
    failed = sum(o["failed"] for o in res["ops"])
    correct = failed == 0 and all(c["ok"] for c in checks)
    if a.trace:
        shown = {k: (res["layers"].get(k, 0.0), u)
                 for k, (u, _) in PER_LAYER.items()}
    else:
        shown = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    for k, (v, u) in shown.items():
        log(f"{a.workload:12s} {k:42s} {v:14.4f} {u}")
    log(f"{a.workload:12s} failed_frac {extra['failed_frac']:.4f} over "
        f"{attempted} ops; tail = p{extra['op_tail_percentile']:.1f} of "
        f"{extra['ops']}; gen {gen_s:.2f} s; host_factor "
        f"{res['host']['host_factor']:.3f}")
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED: {c['name']}: {c['detail']}")
    artifact = dict(res, checks=checks, end_to_end=e2e, extra=extra,
                    gen_s=gen_s, correct=correct,
                    layer_moves={k: mv for k, (_, mv) in PER_LAYER.items()})
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    (results_dir() / f"{name}{'-tables' if a.tables else ''}.json").write_text(
        json.dumps(artifact, indent=1))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in shown.items()}}))
    return 0


def digest_check(seed: int, batches: int, res: dict) -> dict:
    """The corpus digest of a seed must not change between runs. The
    digests of the default and held-out seeds at the default run length
    are committed in digests.json; for any other seed or length the first
    run in this checkout records the digest and later runs compare."""
    digest = res["facts"]["digest"]
    key = f"seed{seed}-batches{batches}"
    want = json.loads(DIGESTS.read_text()).get(key)
    if want is None:
        rec = results_dir() / f"arrival-digest-{key}.txt"
        if digest and not rec.exists():
            rec.write_text(digest)
        want = rec.read_text() if rec.exists() else None
    return {"name": "digest matches the expected digest of this seed",
            "ok": bool(digest) and want == digest,
            "detail": f"{digest} vs expected {want}",
            "fails_ops": [o["name"] for o in res["ops"]]}


if __name__ == "__main__":
    sys.exit(main())
