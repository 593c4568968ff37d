"""One benchmark process: start a session, run one workload, write a JSON
result file. ``run.py`` spawns it as a fresh interpreter; it is not meant
to be run by hand.

    python3 perfbench/worker.py --mode setup   --out r.json
    python3 perfbench/worker.py --mode ref_queries --work DIR --seed N \
        --seconds S [--trace] --out r.json

``--mode setup`` stops after the session is ready (one ``setup_s``
sample). Timing wraps only calls into the engine's public functions; in
``--trace`` mode the same calls also run under Spark job groups and the
session writes an event log, which ``tracing.py`` turns into per-layer
totals once the session has stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

WARM_THREADS = 3
WARM_PASSES = 2
# ref_queries times at least this many passes and reports their median,
# so one pass slowed by a co-tenant does not move the run's figure
REF_MIN_PASSES = 3

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ops:
    """Timed operations of one run: every attempt, its wall time, and
    whether it failed."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {detail}"[:400])

    def add(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)


class Tracer:
    """Job groups and call timers for the traced run; a no-op otherwise."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = False  # set when the timed window opens
        self.groups: dict[str, list[str]] = {}  # layer -> job group ids
        self.totals: dict[str, float] = {}

    def group(self, layer: str, gid: str, *, set_group: bool = True) -> None:
        """Run the calling thread's next jobs under ``gid`` and count them
        to ``layer``; ``set_group=False`` only records a group that Spark
        set itself (a streaming query's runId)."""
        if self.enabled and self.active:
            if set_group:
                self.sc.setJobGroup(gid, layer, False)
            self.groups.setdefault(layer, []).append(gid)

    def add(self, key: str, value: float) -> None:
        if self.active:
            self.totals[key] = self.totals.get(key, 0.0) + value

    def job_ids(self, layer: str) -> list[int]:
        st = self.sc.statusTracker()
        return [j for g in dict.fromkeys(self.groups.get(layer, ())) for j in st.getJobIdsForGroup(g)]


# ---------------------------------------------------------------------------
# ref_queries
# ---------------------------------------------------------------------------

def run_ref_queries(spark, args, ops: Ops, tr: Tracer, info: dict) -> None:
    from checks import frame_digest

    import hhek2sqlite_spark.plans.reference as reference
    from hhek2sqlite_spark.operators.util import release_local_checkpoints
    from hhek2sqlite_spark.plans import QUERIES

    data_dir = args.data
    with open(os.path.join(HERE, "expected_digests.json"), encoding="utf-8") as fh:
        expected = json.load(fh)
    names = sorted(reference.QUERIES)
    rng = random.Random(args.seed)
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    current = {"gid": ""}
    if tr.enabled:
        load = reference.load_table

        def timed_load(spark_, sf_dir, name):
            gid = current["gid"]
            tr.group("load", f"{gid}:load")
            t0 = time.perf_counter()
            try:
                return load(spark_, sf_dir, name)
            finally:
                tr.add("load_s", time.perf_counter() - t0)
                if tr.active:
                    tr.sc.setJobGroup(f"{gid}:construct", "construct", False)

        reference.load_table = timed_load

    def check(name: str) -> str | None:
        try:
            df = QUERIES[name](spark, data_dir)
            try:
                got = frame_digest(df.toPandas())
            finally:
                release_local_checkpoints(df)
        except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
            return f"{type(exc).__name__}: {exc}"
        return None if got == expected.get(name) else f"digest {got} != expected {expected.get(name)}"

    def warm(name: str) -> str | None:
        try:
            df = QUERIES[name](spark, data_dir)
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                release_local_checkpoints(df)
        except Exception as exc:  # noqa: BLE001
            return f"{type(exc).__name__}: {exc}"
        return None

    # Untimed: one check pass (every result digest against the oracle's),
    # then WARM_PASSES noop passes. Query time only settles after about
    # three executions of each query (JIT), so the warm-up runs on
    # WARM_THREADS threads to come close to that point sooner.
    order = names[:]
    rng.shuffle(order)
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for name, err in zip(order, pool.map(check, order)):
            ops.attempted += 1
            if err:
                ops.fail(name, err)
        warm_order = order * WARM_PASSES
        for name, err in zip(warm_order, pool.map(warm, warm_order)):
            ops.attempted += 1
            if err:
                ops.fail(name, err)

    passes: list[float] = []
    tr.active = True
    t_window = time.perf_counter()
    while len(passes) < REF_MIN_PASSES or time.perf_counter() - t_window < args.seconds:
        p = len(passes)
        order = names[:]
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            ops.attempted += 1
            gid = current["gid"] = f"p{p}:{name}"
            rdds_before = jsc.getPersistentRDDs().size() if tr.enabled else 0
            try:
                tr.group("construct", f"{gid}:construct")
                t0 = time.perf_counter()
                df = QUERIES[name](spark, data_dir)
                t1 = time.perf_counter()
                tr.group("execute", f"{gid}:execute")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                tr.group("release", f"{gid}:release")
                released = release_local_checkpoints(df)
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001
                ops.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            ops.add(name, t3 - t0)
            if tr.enabled:
                del df
                tr.add("construct_s", t1 - t0)
                tr.add("execute_s", t2 - t1)
                tr.add("release_s", t3 - t2)
                tr.add("released_checkpoints", released)
                tr.add("leaked_rdds", max(jsc.getPersistentRDDs().size() - rdds_before, 0))
                tr.add("cached_relations", 0 if cache_manager.isEmpty() else _cached_count(cache_manager))
        passes.append(time.perf_counter() - t_pass)
    if tr.enabled:
        reference.load_table = load
        tr.sc.setJobGroup("idle", "idle", False)
    info["passes"] = passes


def _cached_count(cache_manager) -> int:
    """Number of CacheManager entries. ``cachedData`` is private, so read
    it by reflection; report 1 (non-empty) if that fails."""
    try:
        field = cache_manager.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cache_manager).size())
    except Exception:  # noqa: BLE001 - the count is best-effort
        return 1


# ---------------------------------------------------------------------------
# hhek_ingest
# ---------------------------------------------------------------------------

def run_hhek_ingest(spark, args, ops: Ops, tr: Tracer, info: dict) -> None:
    from checks import distinct_count, table_digest

    from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES
    from hhek2sqlite_spark.sources import sqlite_io
    from hhek2sqlite_spark.streaming import sink

    src_db = os.path.join(args.work, "hhek_src.db")
    stream_in = os.path.join(args.work, "stream_in")
    n_files = len([f for f in os.listdir(stream_in) if f.endswith(".parquet")])
    expected = {t: table_digest(src_db, t) for t in COPY_ORDER}
    schema = HHEK_TABLES["Transaktioner"].spark_schema()

    def path(name: str) -> str:
        return os.path.join(args.work, name)  # the work dir is new each run

    def convert_leg(tag: str) -> dict:
        """SQLite -> Parquet -> SQLite; the exported database is compared
        with the source table by table after the timed calls."""
        pq_dir, out_db = path(f"{tag}_parquet"), path(f"{tag}_out.db")
        got: dict = {"samples": {}, "errors": [], "attempted": 2}
        try:
            tr.group("import", f"{tag}:import")
            t0 = time.perf_counter()
            counts = sqlite_io.convert(spark, src_db, pq_dir)
            got["samples"]["import"] = [time.perf_counter() - t0]
            tr.group("export", f"{tag}:export")
            t0 = time.perf_counter()
            sqlite_io.convert(spark, pq_dir, out_db)
            got["samples"]["export"] = [time.perf_counter() - t0]
        except Exception as exc:  # noqa: BLE001 - a failing op is counted, not fatal
            step = "export" if "import" in got["samples"] else "import"
            got["errors"].append((step, f"{type(exc).__name__}: {exc}"))
            return got
        t_check = time.perf_counter()
        bad = [t for t in COPY_ORDER if table_digest(out_db, t) != expected[t]]
        if bad:
            got["errors"].append(("export", f"tables differ from source: {bad}"))
        if tr.active:
            got["layer"] = {"rows_read": sum(counts.values()), "parquet_bytes": _tree_bytes(pq_dir),
                            "db_bytes": os.path.getsize(out_db)}
        got["check_s"] = time.perf_counter() - t_check
        return got

    def stream_leg(tag: str) -> dict:
        """The ledger, one parquet file per micro-batch, into SQLite; the
        sink must then hold every source row exactly once."""
        sink_db, ckpt = path(f"{tag}_sink.db"), path(f"{tag}_ckpt")
        got: dict = {"samples": {}, "errors": [], "attempted": n_files}
        try:
            sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stream_in)
            q = sink.stream_to_sqlite(sdf, db_path=sink_db, table="Transaktioner", checkpoint_dir=ckpt)
            q.awaitTermination()
            tr.group("stream", str(q.runId), set_group=False)  # micro-batch jobs run under the runId
            progress = [p.durationMs for p in q.recentProgress if p.numInputRows > 0]
        except Exception as exc:  # noqa: BLE001
            got["errors"].append(("microbatch", f"{type(exc).__name__}: {exc}"))
            return got
        got["samples"]["microbatch"] = [d.get("triggerExecution", 0) / 1000.0 for d in progress]
        t_check = time.perf_counter()
        sunk = table_digest(sink_db, "Transaktioner")
        distinct = distinct_count(sink_db, "Transaktioner", "Löpnr")
        want = expected["Transaktioner"]
        if len(progress) != n_files:
            got["errors"].append(("microbatch", f"{len(progress)} non-empty batches for {n_files} files"))
        elif sunk != want or distinct != want["rows"]:
            got["errors"].append(("microbatch", f"sink {sunk} distinct={distinct} != source {want}"))
        got["layer"] = {
            "plan_s": sum(d.get("queryPlanning", 0) for d in progress) / 1000.0,
            "wal_s": sum(d.get("walCommit", 0) for d in progress) / 1000.0,
            "batches": len(progress),
        }
        got["check_s"] = time.perf_counter() - t_check
        return got

    def account(leg: dict, timed: bool) -> None:
        ops.attempted += leg["attempted"]
        for what, detail in leg["errors"]:
            ops.fail(what, detail)
        if timed:
            for name, xs in leg["samples"].items():
                for x in xs:
                    ops.add(name, x)
            for key, value in leg.get("layer", {}).items():
                tr.add(key, value)

    orig = {"read_table": sqlite_io.read_table, "write_table": sqlite_io.write_table,
            "write_batch": sink.write_batch_idempotent}
    if tr.enabled:
        def timed(key, fn, rows_key=None):
            def call(*a, **kw):
                t0 = time.perf_counter()
                try:
                    n = fn(*a, **kw)
                    if rows_key:
                        tr.add(rows_key, n)
                    return n
                finally:
                    tr.add(key, time.perf_counter() - t0)
            return call

        sqlite_io.read_table = timed("read_table_s", orig["read_table"])
        sqlite_io.write_table = timed("write_table_s", orig["write_table"], "rows_written")
        sink.write_batch_idempotent = timed("sink_write_s", orig["write_batch"])

    # Untimed warm-up: one whole rep, outputs checked. Rep times settle
    # after it (first timed rep within about 5% of later ones).
    account(convert_leg("warm"), timed=False)
    account(stream_leg("warm"), timed=False)

    # Timed: whole reps (convert leg, then stream leg) until --seconds
    # have elapsed; the checks inside each leg run after its timed calls.
    reps: list[float] = []
    tr.active = True
    t_window = time.perf_counter()
    while not reps or time.perf_counter() - t_window < args.seconds:
        tag = f"r{len(reps)}"
        t0 = time.perf_counter()
        conv = convert_leg(tag)
        strm = stream_leg(tag)
        reps.append(time.perf_counter() - t0 - conv.get("check_s", 0.0) - strm.get("check_s", 0.0))
        account(conv, timed=True)
        account(strm, timed=True)
    sqlite_io.read_table = orig["read_table"]
    sqlite_io.write_table = orig["write_table"]
    sink.write_batch_idempotent = orig["write_batch"]
    if tr.enabled:
        tr.sc.setJobGroup("idle", "idle", False)
    info["passes"] = reps


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


WORKLOADS = {"ref_queries": run_ref_queries, "hhek_ingest": run_hhek_ingest}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True, choices=["setup", *WORKLOADS])
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", default="")
    ap.add_argument("--data", default="")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    # --- setup: fresh interpreter to a ready session -----------------------
    t0 = time.perf_counter()
    from hhek2sqlite_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    result = {"ready_at": time.time(), "get_spark_s": t1 - t0, "first_job_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    info: dict = {}
    if args.mode != "setup":
        ops = Ops()
        tr = Tracer(spark.sparkContext, args.trace)
        try:
            WORKLOADS[args.mode](spark, args, ops, tr, info)
        except Exception:  # noqa: BLE001 - report the crash as a failed run
            ops.fail("workload", traceback.format_exc())
        info["rss_mb"] = {"driver_py": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm.pid)}
        if tr.enabled:
            info["job_ids"] = {layer: tr.job_ids(layer) for layer in tr.groups}
            info["totals"] = tr.totals
        result.update(
            attempted=ops.attempted, failed=ops.failed, errors=ops.errors,
            samples=ops.samples, info=info,
        )
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
