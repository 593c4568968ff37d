"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ref_queries --seed 1 --seconds 5 --trace 0

Workloads (see README.md for why each was chosen):

- ``ref_queries``: the 30 reference queries of ``plans/reference.py`` over
  generated sf0.01-shaped parquet tables, noop sink, one seeded query
  order per pass.
- ``hhek_ingest``: a seed-generated hhek SQLite database converted
  SQLite -> Parquet -> SQLite with ``sources.sqlite_io.convert``, and its
  ledger streamed one parquet file per micro-batch into SQLite through
  ``streaming.sink.stream_to_sqlite``.

Each run starts the engine in fresh interpreters at ``local[nproc]``: a
set-up-only process and the process that runs the workload, started
together. Inside the workload process untimed passes check every output
and warm the JIT, then whole passes are timed until ``--seconds`` have
elapsed. ``--trace 1`` runs the same workload with job groups, call
timers and a Spark event log, and reports per-layer numbers instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the context (versions, nproc, load average,
sample counts, per-query numbers, errors).
"""

from __future__ import annotations

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

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ref_queries", "hhek_ingest")
SETUP_SAMPLES = 2  # fresh session starts per run, the workload process included
DEADLINE_S = 170.0  # the whole run, set-up samples included

HHEK_TRANSACTIONS = 10_000
STREAM_FILES = 10

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.parquet.load_s": "s",
    "sources.parquet.footer_jobs": "count",
    "operators.release_s": "s",
    "operators.released_checkpoints": "count",
    "operators.leaked_rdds": "count",
    "operators.cached_relations": "count",
    "sqlite_io.read_table_s": "s",
    "sqlite_io.rows_read": "count",
    "sqlite_io.parquet_bytes": "bytes",
    "sqlite_io.write_table_s": "s",
    "sqlite_io.rows_written": "count",
    "sqlite_io.db_bytes": "bytes",
    "streaming.sink.write_s": "s",
    "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "streaming.batches": "count",
    "ingest.import_s": "s",
    "ingest.export_s": "s",
    "ingest.microbatch_p50_s": "s",
    "oracle.duckdb_geomean_s": "s",
    "oracle.spark_over_duckdb_geomean": "ratio",
    "trace.pass_s": "s",
    "process.peak_rss_mb": "MB",
}


class RunError(RuntimeError):
    pass


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float] | None:
    """The slowest value that still has at least ten samples above it,
    with the percentile it sits at; None when that would not lie above
    the median (fewer than 21 samples)."""
    if len(xs) < 21:
        return None
    s = sorted(xs)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def prepare_tpch(root: str) -> str:
    """Generate the query tables once per checkout; the marker file is
    written last, so an interrupted generation is redone."""
    from datagen import TPCH_SEED, write_tpch

    out = os.path.join(root, f"tpch-{TPCH_SEED}")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write_tpch(out)
        open(marker, "w").close()
    return out


def prepare_hhek(work: str, seed: int) -> None:
    """The seed's hhek database, plus its ledger split into parquet files
    (one micro-batch each) for the streaming leg."""
    import sqlite3
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datagen import write_hhek

    from hhek2sqlite_spark.schema.registry import HHEK_TABLES

    db = os.path.join(work, "hhek_src.db")
    write_hhek(db, seed, HHEK_TRANSACTIONS)
    spec = HHEK_TABLES["Transaktioner"]
    cols = [c.name for c in spec.columns]
    collist = ", ".join(f'"{c}"' for c in cols)
    con = sqlite3.connect(db)
    try:
        rows = con.execute(f'SELECT {collist} FROM "Transaktioner" ORDER BY "Löpnr"').fetchall()
    finally:
        con.close()
    q4 = Decimal("0.0001")
    arrow_type = {"counter": pa.int64(), "money": pa.decimal128(19, 4), "bool": pa.bool_(), "text": pa.string()}
    out = os.path.join(work, "stream_in")
    os.makedirs(out)
    per_file = -(-len(rows) // STREAM_FILES)
    for i in range(STREAM_FILES):
        chunk = rows[i * per_file:(i + 1) * per_file]
        arrays = []
        for j, c in enumerate(spec.columns):
            vals = [r[j] for r in chunk]
            if c.logical == "money":
                vals = [None if v is None else Decimal(str(v)).quantize(q4) for v in vals]
            elif c.logical == "bool":
                vals = [bool(v) for v in vals]
            arrays.append(pa.array(vals, type=arrow_type[c.logical]))
        pq.write_table(pa.table(arrays, names=cols), os.path.join(out, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process left in the worker's session and wait until the
    group is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    for _ in range(300):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RunError(f"processes of group {proc.pid} did not exit")


class Worker:
    """One worker process in a fresh interpreter and its own session."""

    def __init__(self, mode: str, work: str, env: dict, extra=()):
        self.mode = mode
        self.out = os.path.join(work, f"{mode}-{id(self)}.json")
        self.log = os.path.join(work, f"{mode}-{id(self)}.log")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode, "--out", self.out, *extra]
        with open(self.log, "wb") as fh:
            self.t_spawn = time.time()
            self.proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )

    def result(self, deadline: float) -> dict:
        """Wait for the worker, stop whatever it left behind, and return its
        result with ``setup_s`` = spawn to ready session."""
        try:
            code = self.proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            _stop_group(self.proc)
            raise RunError(f"worker {self.mode} ran past the deadline; log: {self.log}") from None
        _stop_group(self.proc)
        if code != 0 or not os.path.exists(self.out):
            with open(self.log, encoding="utf-8", errors="replace") as fh:
                raise RunError(f"worker {self.mode} exited {code}:\n{fh.read()[-2000:]}")
        with open(self.out, encoding="utf-8") as fh:
            res = json.load(fh)
        res["setup_s"] = res["ready_at"] - self.t_spawn
        return res

    def kill(self) -> None:
        if self.proc.poll() is None:
            _stop_group(self.proc)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(main: dict, setups: list[float]) -> tuple[dict, dict]:
    samples = main["samples"]
    every = [x for xs in samples.values() for x in xs]
    if not every or not main["info"].get("passes"):
        raise RunError(f"no timed operation succeeded: {main['errors'][:3]}")
    values = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(main["info"]["passes"]),
        "op_geomean_s": geomean(statistics.median(xs) for xs in samples.values()),
    }
    context = {
        "op_p50_s": statistics.median(every),
        "setup_samples_s": setups,
        "passes_s": main["info"]["passes"],
        "op_samples": len(every),
        "op_tail_s_and_percentile": tail(every),
        "samples_per_op": {k: len(v) for k, v in samples.items()},
        "op_median_s": {k: statistics.median(v) for k, v in samples.items()},
        "rss_mb": main["info"]["rss_mb"],
    }
    return values, context


def oracle_times(data_dir: str, threads: int, reps: int = 3) -> dict[str, float]:
    """Median DuckDB wall time of each reference query's oracle SQL on the
    same files (context for the traced run, not an end-to-end metric)."""
    import duckdb

    from hhek2sqlite_spark.plans.reference import ORACLE_SQL

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        for f in os.listdir(data_dir):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in ORACLE_SQL.items():
            con.execute(sql).fetchall()
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                times.append(time.perf_counter() - t0)
            out[name] = statistics.median(times)
        return out
    finally:
        con.close()


def per_layer(main: dict, setups: list[dict], events_dir: str, workload: str, data_dir: str) -> tuple[dict, dict]:
    from tracing import task_totals

    info = main["info"]
    passes = len(info["passes"])
    tot = info["totals"]
    jobs = info["job_ids"]
    every_job = [j for ids in jobs.values() for j in ids]
    tasks = task_totals(events_dir, every_job)
    samples = main["samples"]

    def per_pass(x):
        return x / passes

    exec_layers = ("execute",) if workload == "ref_queries" else ("import", "export", "stream")
    if workload == "ref_queries":
        execute_s = tot.get("execute_s", 0.0)
    else:
        execute_s = sum(x for xs in samples.values() for x in xs)
    v = {
        "session.get_spark_s": statistics.median(s["get_spark_s"] for s in setups),
        "session.first_job_s": statistics.median(s["first_job_s"] for s in setups),
        "plans.construct_s": per_pass(tot.get("construct_s", 0.0)),
        "plans.construct_jobs": per_pass(len(jobs.get("construct", ()))),
        "exec.execute_s": per_pass(execute_s),
        "exec.jobs": per_pass(sum(len(jobs.get(k, ())) for k in exec_layers)),
        "exec.stages": per_pass(tasks["stages"]),
        "exec.tasks": per_pass(tasks["tasks"]),
        "exec.task_run_s": per_pass(tasks["task_run_s"]),
        "exec.jvm_cpu_s": per_pass(tasks["jvm_cpu_s"]),
        "exec.offcpu_s": per_pass(max(tasks["task_run_s"] - tasks["jvm_cpu_s"], 0.0)),
        "exec.gc_s": per_pass(tasks["gc_s"]),
        "exec.shuffle_read_bytes": per_pass(tasks["shuffle_read_bytes"]),
        "exec.shuffle_write_bytes": per_pass(tasks["shuffle_write_bytes"]),
        "exec.input_bytes": per_pass(tasks["input_bytes"]),
        "exec.spill_bytes": per_pass(tasks["spill_bytes"]),
        "sources.parquet.load_s": per_pass(tot.get("load_s", 0.0)),
        "sources.parquet.footer_jobs": per_pass(len(jobs.get("load", ()))),
        "operators.release_s": per_pass(tot.get("release_s", 0.0)),
        "operators.released_checkpoints": per_pass(tot.get("released_checkpoints", 0.0)),
        "operators.leaked_rdds": per_pass(tot.get("leaked_rdds", 0.0)),
        "operators.cached_relations": per_pass(tot.get("cached_relations", 0.0)),
        "sqlite_io.read_table_s": per_pass(tot.get("read_table_s", 0.0)),
        "sqlite_io.rows_read": per_pass(tot.get("rows_read", 0.0)),
        "sqlite_io.parquet_bytes": per_pass(tot.get("parquet_bytes", 0.0)),
        "sqlite_io.write_table_s": per_pass(tot.get("write_table_s", 0.0)),
        "sqlite_io.rows_written": per_pass(tot.get("rows_written", 0.0)),
        "sqlite_io.db_bytes": per_pass(tot.get("db_bytes", 0.0)),
        "streaming.sink.write_s": per_pass(tot.get("sink_write_s", 0.0)),
        "streaming.plan_s": per_pass(tot.get("plan_s", 0.0)),
        "streaming.wal_s": per_pass(tot.get("wal_s", 0.0)),
        "streaming.batches": per_pass(tot.get("batches", 0.0)),
        "ingest.import_s": statistics.median(samples.get("import", [0.0])),
        "ingest.export_s": statistics.median(samples.get("export", [0.0])),
        "ingest.microbatch_p50_s": statistics.median(samples.get("microbatch", [0.0])),
        "oracle.duckdb_geomean_s": 0.0,
        "oracle.spark_over_duckdb_geomean": 0.0,
        "trace.pass_s": statistics.median(info["passes"]),
        "process.peak_rss_mb": info["rss_mb"]["driver_py"] + info["rss_mb"]["jvm"],
    }
    context = {"jobs_per_layer": {k: len(ids) for k, ids in jobs.items()}}
    if workload == "ref_queries":
        duck = oracle_times(data_dir, nproc())
        spark_med = {k: statistics.median(xs) for k, xs in samples.items()}
        ratios = {k: spark_med[k] / duck[k] for k in spark_med if duck.get(k)}
        v["oracle.duckdb_geomean_s"] = geomean(duck.values())
        v["oracle.spark_over_duckdb_geomean"] = geomean(ratios.values())
        context["spark_over_duckdb"] = {k: round(r, 2) for k, r in sorted(ratios.items())}
    return v, context


# ---------------------------------------------------------------------------

def run(args) -> tuple[dict, dict]:
    deadline = time.monotonic() + DEADLINE_S
    root = os.path.join(HERE, "_work")
    work = os.path.join(root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    if args.workload == "ref_queries":
        data_dir = prepare_tpch(root)
    else:
        data_dir = ""
        prepare_hhek(work, args.seed)

    cpus = nproc()
    tmp = os.path.join(work, "tmp")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver) keeps its temp files in the
        # checkout; hsperfdata would otherwise go to /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_EXTRA_CONF="",
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    load_start = _loadavg()
    main_env = dict(env)
    if args.trace:
        from tracing import event_log_conf

        main_env["SPARK_GRAFT_EXTRA_CONF"] = event_log_conf(os.path.join(work, "events"))
    extra = ["--work", work, "--data", data_dir, "--seed", str(args.seed), "--seconds", str(args.seconds)]
    if args.trace:
        extra.append("--trace")
    # The set-up-only workers start together with the workload worker: each
    # start is one setup_s sample, taken under the same concurrency every
    # run, and the run does not pay for the extra starts one after another.
    workers = [Worker("setup", work, env) for _ in range(SETUP_SAMPLES - 1)]
    workers.append(Worker(args.workload, work, main_env, extra))
    try:
        setups = [w.result(deadline) for w in workers]
    finally:
        for w in workers:
            w.kill()
    main = setups[-1]
    setup_values = [s["setup_s"] for s in setups]

    from importlib.metadata import version

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "nproc": cpus,
        "spark": version("pyspark"),
        "duckdb": version("duckdb"),
        "python": sys.version.split()[0],
        "loadavg_start": load_start,
        "attempted": main["attempted"],
        "failed": main["failed"],
        "fail_ratio": main["failed"] / max(main["attempted"], 1),
        "errors": main["errors"],
    }
    e2e, e2e_ctx = end_to_end(main, setup_values)
    context.update(e2e_ctx)
    if args.trace:
        metrics, layer_ctx = per_layer(main, setups, os.path.join(work, "events"), args.workload, data_dir)
        context.update(layer_ctx)
        context["end_to_end_under_trace"] = e2e
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    context["loadavg_end"] = _loadavg()
    result = {
        "correct": main["failed"] == 0,
        "attempted": main["attempted"],
        "failed": main["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "hhek2sqlite_spark", "__init__.py")):
        print(f"error: the engine package hhek2sqlite_spark is not in {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    try:
        result, context = run(args)
    except RunError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(context, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
