"""SparkSession builder tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the
same conf is what we would ship to a 1000-executor cluster — every knob
below is a scale decision, not a test convenience:

- AQE on (runtime coalescing + skew-join splitting) so shuffle partition
  counts self-tune as data grows 1000x.
- ``spark.sql.shuffle.partitions`` is only the AQE *upper bound* seed; at
  cluster scale you raise it to ~2-3x total cores and AQE coalesces down.
- Arrow enabled for the few Pandas-UDF extension paths (similarity /
  multimodal); the core uses none.
- Decimal ops keep full precision (the reference's correctness bar is
  exact-decimal compare, /root/reference/db_test.go:262-267).

Session start. A fresh driver JVM maps pre-parsed, pre-verified Spark,
Catalyst, Hadoop and Parquet classes from one JDK 17 dynamic AppCDS
(class-data sharing) archive instead of loading them from ~290 jars,
which cuts both the gateway launch and the first job by ~40%. The
archive is amortized state, like ``SESSION_MEMO``'s entries: one file in
``${XDG_CACHE_HOME:-~/.cache}/hhek2sqlite_spark/cds/``, keyed on the
``(path, size, mtime)`` of the ``java`` binary, the JDK's ``lib/modules``
and every ``$SPARK_HOME/jars/*.jar``.

- The first start of a key takes ``<key>.lock`` and runs with
  ``-XX:ArchiveClassesAtExit``; the JVM writes the candidate at its own
  exit, after Python has gone. A later start promotes it to
  ``<key>.jsa`` (its ``-Xlog:cds`` file to ``<key>.log``) once the
  lock's processes are dead and the candidate is as long as that log
  says (a truncated archive crashes the JVM that maps it), then deletes
  every other key's files.
- Later starts re-check the archive against ``<key>.log`` (an archive
  cut short after promotion is deleted and recreated; one without a log
  is mapped as is) and pass ``-XX:SharedArchiveFile``; ``-Xshare:auto``
  falls back silently on a mismatch, so the start's log is read back and
  a refused archive is deleted for the next start to recreate.
- Skipped (a plain start) when a JVM is already up, the caller set
  ``spark.driver.defaultJavaOptions``, ``$SPARK_CONF_DIR`` holds real
  files (CDS refuses a non-empty directory on the classpath; a
  templates-only conf dir is swapped for an empty one for the launch),
  or the cache directory raises ``OSError``. ``CDS_STATE`` records the
  case. Deleting the directory is always safe.

Streaming metadata. Without a native ``libhadoop.so``, Hadoop's local
file system runs a shell command for every ``setPermission``
(``chmod``) and every symlink-aware status call (``readlink``), ~3.4 ms
each from the driver JVM. Spark's default checkpoint file manager
renames through ``FileContext``, whose ``rename`` resolves symlinks with
``getFileLinkStatus``: ~25 ``readlink`` spawns per micro-batch across
the offsets, commits and file-source logs. ``_SQL_CONF`` therefore
names ``FileSystemBasedCheckpointFileManager``, which renames with
``File.renameTo``. It is as safe: its ``renameTempFile`` checks that the
target exists, then renames, the same check-then-rename that
``AbstractFileSystem.rename`` does on the local file system; on HDFS
``rename`` refuses an existing target, and the manager turns that into
``FileAlreadyExistsException``. Spark already uses this manager for
every store without ``FileContext`` support.

Generated-code cache. Spark compiles every whole-stage and projection
class with Janino and keeps the compiled classes in one JVM-wide LRU of
``spark.sql.codegen.cache.maxEntries`` entries, Spark's default 100.
One pass of the 30 reference queries needs ~288 distinct classes, and
an LRU over a cyclic working set larger than itself misses on every
lookup: each class is evicted before its next use, so every pass
recompiled ~285 classes (~1,900 over the whole registry). The bound,
``CODEGEN_CACHE_ENTRIES``, is the next power of two at or above 1.25x
the distinct classes of one pass over all 130 registered queries,
counted as the first pass's compiles with the cache unbounded: 1,506 at
sf0.01 and 1,502 at sf0.1, so 2,048. A second registry pass at sf0.01
then compiles 22 classes instead of 1,902, and JVM metaspace holds
~12 MB more (66 -> 78 MB). The conf is static: a session built
elsewhere (the one ``__spark_entry__.entry`` is handed, tuned by
``tune_existing``) keeps Spark's 100 and recompiles as before.

Session memo. ``SESSION_MEMO`` is the only derived state that outlives
a call: the Parquet schemas ``load_table`` infers, the IVF centroids and
index behind ``similarity_ivf``, and the semdedup store routers. An
entry is keyed on a kind plus the relation's leaf signature
(``leaf_signature``), is valid only in the SparkContext that built it,
and is checked with ``sameResult`` where its value depends on the plan.
It is bounded (LRU, ``MEMO_BOUND`` entries); an entry for the same
leaves at another version is replaced, and evicting a Spark-held value
(the IVF index) unpersists it.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import threading
from collections import Counter, OrderedDict
from urllib.parse import urlparse

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# How the driver JVM of the latest ``get_spark`` call started: "mapped",
# "created", "refused" or "skipped:<reason>". A record, not an option.
CDS_STATE = ""

# SQL confs both ``get_spark`` and ``tune_existing`` set; every value is
# a scale decision (see the module docstring), not a test convenience.
_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce/repartition stages that sit on top of a cached
    # plan (the loop-scoped caches of neardup_clusters, pagerank and the
    # IVF index); without this a cached plan pins its pre-AQE partition
    # count for every consumer
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # runtime bloom-filter join pruning: a selective filter on one join
    # side builds a bloom filter that prunes the other side's scan — at
    # 100 TB this skips whole row groups of the fact table
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and normalize in sources.parquet.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # streaming metadata logs rename through FileSystem, not FileContext
    # (no readlink per rename; see "Streaming metadata" above)
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
}

# ``spark.sql.codegen.cache.maxEntries``: the JVM-wide LRU of compiled
# generated classes (see "Generated-code cache" above). A static conf,
# so only the session builder sets it; ``SPARK_GRAFT_EXTRA_CONF`` overrides it.
CODEGEN_CACHE_ENTRIES = 2048

_REGION = re.compile(r"Shared file region \((\w+) *\) +\d+: +(\d+) bytes, .* file offset (0x[0-9a-f]+)")


def get_spark(app_name: str = "hhek2sqlite_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster pass ~2-3x total executor cores and let AQE coalesce.
    """
    cpus = DEFAULT_CPUS
    parts = shuffle_partitions if shuffle_partitions is not None else int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config(map=_SQL_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no \r-progress bars in captured stdout/stderr — bench artifacts
        # embed the process tail and the bars are non-reproducible noise
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # layout-matched scan tuning, e.g. the multi-row-group fixture run
    # (scripts/make_multirg.py) lowers maxPartitionBytes/openCostInBytes
    # so a many-small-files layout actually yields one task per file:
    #   SPARK_GRAFT_EXTRA_CONF="spark.sql.files.maxPartitionBytes=1048576,..."
    extra = {}
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(",")):
        k, _, v = kv.partition("=")
        extra[k.strip()] = v.strip()
    for k, v in extra.items():
        builder = builder.config(k, v)
    global CDS_STATE
    jvm_up = SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    CDS_STATE, opts, base = _cds_plan(jvm_up, extra)
    if not opts:
        return _local_worker_path(builder.getOrCreate())
    # the launcher puts the conf dir first on the classpath; it holds
    # nothing but templates (checked in _cds_plan), so an empty one stands in
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(base), "conf")
    try:
        spark = builder.config("spark.driver.defaultJavaOptions", opts).getOrCreate()
    except PySparkRuntimeError:  # JAVA_GATEWAY_EXITED
        if CDS_STATE != "mapped":
            raise
        # damaged past what -Xshare:auto and <key>.log check: the JVM
        # died mapping it, so drop it and start plain
        _rm(base + ".jsa", base + ".log", f"{base}.{os.getpid()}.log")
        CDS_STATE, opts = "refused", ""
        spark = builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if opts:
        CDS_STATE = _cds_started(CDS_STATE, base, SparkContext._gateway.proc.pid)
    return _local_worker_path(spark)


def _cds_plan(jvm_up: bool, conf: dict) -> tuple[str, str, str]:
    """How the next driver JVM starts -> (state, driver java options,
    ``<cache dir>/<key>``); no options means a plain start."""
    if jvm_up:
        return "skipped:running-jvm", "", ""
    if "spark.driver.defaultJavaOptions" in conf:
        return "skipped:java-options", "", ""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(OSError):
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return "skipped:conf-dir", "", ""
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "hhek2sqlite_spark", "cds")
    if not re.fullmatch(r"[\w./-]+", cache):  # goes unquoted into the java options
        return "skipped:cache-path", "", ""
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        base = os.path.join(cache, _cds_key(spark_home))
        _promote(base)
        if os.path.exists(base + ".log") and not _complete(base):
            _rm(base + ".jsa", base + ".log")  # cut short since promotion
        log = f"-Xlog:cds=off -Xlog:cds+dynamic=off -Xlog:cds=info:file={base}.{os.getpid()}.log"
        if not os.path.exists(base + ".jsa"):
            try:
                fd = os.open(base + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            except FileExistsError:
                return "skipped:being-created", "", ""
            with os.fdopen(fd, "w") as fh:
                fh.write(str(os.getpid()))
            if not os.path.exists(base + ".jsa"):  # not promoted meanwhile
                return "created", f"{log} -XX:ArchiveClassesAtExit={base}.{os.getpid()}.jsa", base
            os.remove(base + ".lock")
        return "mapped", f"{log} -XX:SharedArchiveFile={base}.jsa", base
    except OSError:
        return "skipped:os-error", "", ""


def _cds_key(spark_home: str) -> str:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else shutil.which("java")
    java = os.path.realpath(java or "java")
    jars = sorted(os.path.join(spark_home, "jars", n) for n in os.listdir(os.path.join(spark_home, "jars")) if n.endswith(".jar"))
    digest = hashlib.sha256()
    for path in (java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"), *jars):
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:  # an unreaped exited JVM is done writing
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rpartition(")")[2].split()[0] != "Z"
    except OSError:
        return True


def _complete(cand: str) -> bool:
    """The candidate ``cand.jsa`` holds every region its ``-Xlog:cds``
    file lists (each line is logged before its bytes are written)."""
    try:
        with open(cand + ".log", encoding="utf-8", errors="replace") as fh:
            ends = {name: int(off, 16) + int(n) for name, n, off in _REGION.findall(fh.read())}
        return set(ends) == {"rw", "ro", "bm"} and os.path.getsize(cand + ".jsa") >= max(ends.values())
    except OSError:
        return False


def _promote(base: str) -> None:
    """Settle a creation whose processes are gone: promote a complete
    candidate to ``base.jsa`` and delete every other key's files, delete
    an incomplete one, and clear the lock."""
    try:
        with open(base + ".lock", encoding="ascii") as fh:
            pids = [int(p) for p in fh.read().split() if p.isdigit()]
    except FileNotFoundError:
        return
    if any(_alive(p) for p in pids):
        return
    if pids:
        cand = f"{base}.{pids[0]}"
        if _complete(cand):  # a concurrent start may have promoted it already
            with contextlib.suppress(FileNotFoundError):
                os.replace(cand + ".jsa", base + ".jsa")
                os.replace(cand + ".log", base + ".log")
            cache, key = os.path.split(base)
            _rm(*(os.path.join(cache, n) for n in os.listdir(cache) if n != "conf" and not n.startswith(key + ".")))
        _rm(cand + ".jsa", cand + ".log")
    _rm(base + ".lock")


def _cds_started(state: str, base: str, jvm_pid: int) -> str:
    """Record the started JVM: a creator's pid joins the lock; a mapping
    start reads its log back and deletes an archive the JVM refused."""
    if state == "created":
        with contextlib.suppress(OSError), open(base + ".lock", "a", encoding="ascii") as fh:
            fh.write(f" {jvm_pid}")
        return state
    log, text = f"{base}.{os.getpid()}.log", ""
    with contextlib.suppress(OSError), open(log, encoding="utf-8", errors="replace") as fh:
        text = fh.read()
    _rm(log)
    if "Mapped dynamic region" in text:
        return state
    _rm(base + ".jsa", base + ".log")
    return "refused"


def _rm(*paths: str) -> None:
    for path in paths:
        with contextlib.suppress(OSError):
            os.remove(path)


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our conf to a session we did
    not build (the driver hands us one in ``__spark_entry__.entry``)."""
    try:
        cores = str(spark.sparkContext.defaultParallelism)
    except Exception:  # pragma: no cover
        cores = "32"
    # a vanilla session defaults to 200 shuffle partitions; on the
    # driver's local session that is 200 tiny tasks per shuffle stage.
    # Seed with the core count — AQE still coalesces below it.
    for k, v in {"spark.sql.shuffle.partitions": cores, **_SQL_CONF}.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    return _local_worker_path(spark)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far: each is a
    miss in the generated-code cache (``CODEGEN_CACHE_ENTRIES``)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _local_worker_path(spark: SparkSession) -> SparkSession:
    """Put the package's parent directory first on the Python workers'
    ``PYTHONPATH`` when the master is local, once. A worker's
    ``sys.path`` is Spark's own plus the cwd of the process that started
    the session, not that process's ``sys.path``, so without this the
    Arrow kernels (``mapInPandas``) of a session started outside the
    repo root fail with ``ModuleNotFoundError``. A non-local master needs the package
    shipped as a zip, which nothing does yet."""
    try:
        sc = spark.sparkContext
        local, env = sc.master.startswith("local"), sc.environment
    except (AttributeError, NotImplementedError):  # no classic SparkContext (Connect)
        return spark
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if local and root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([root, *paths])
    return spark


def plan_leaves(df: DataFrame) -> list:
    """The leaf nodes of ``df``'s analyzed plan, read over py4j once;
    empty where there is no JVM plan to read (Connect sessions)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    except Exception:  # noqa: BLE001 - no classic JVM plan
        return []
    return [leaves.apply(i) for i in range(leaves.size())]


def leaf_signature(df: DataFrame) -> tuple | None:
    """``df``'s content key: one ``(leaf, version)`` pair per plan leaf,
    ``(root path, sources.parquet._file_signature(root))`` for a local
    file-source relation and ``(RDD id, None)`` for an RDD leaf such as
    a local checkpoint. None when a leaf is neither (an in-memory
    relation, a non-local file system): such a frame is never memoized."""
    from .sources.parquet import _file_signature

    sig = []
    for leaf in plan_leaves(df):
        node = leaf.getClass().getSimpleName()
        if node == "LogicalRDD":
            sig.append((leaf.rdd().id(), None))
            continue
        if node != "LogicalRelation" or "HadoopFsRelation" not in leaf.relation().getClass().getName():
            return None
        for root in leaf.relation().location().rootPaths().mkString("\n").split("\n"):
            url = urlparse(root)
            if url.scheme not in ("", "file"):
                return None
            sig.append((url.path, _file_signature(url.path)))
    return tuple(sig) or None


# entries SESSION_MEMO keeps; the working set is the ten fixture tables'
# schemas, the IVF centroids and index, and a few store routers
MEMO_BOUND = 16


class SessionMemo:
    """Derived state keyed on content: ``(kind, sig)`` -> value, where
    ``sig`` is a leaf signature (see ``leaf_signature``). ``hits`` and
    ``misses`` count lookups per kind."""

    def __init__(self) -> None:
        self.hits: Counter = Counter()
        self.misses: Counter = Counter()
        self._entries: OrderedDict = OrderedDict()  # (kind, sig) -> (plan, value)
        self._sc = None
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, spark: SparkSession, kind: str, sig: tuple, build=None, plan=None):
        """The value recorded under ``(kind, sig)``; with ``plan`` (a JVM
        analyzed plan) only if the recorded plan has the same result. On
        a miss, ``build()``'s value is recorded and returned, or None
        without ``build``."""
        with self._lock:
            self._own(spark)
            entry = self._entries.get((kind, sig))
            if entry is not None and (plan is None or entry[0].sameResult(plan)):
                self._entries.move_to_end((kind, sig))
                self.hits[kind] += 1
                return entry[1]
            self.misses[kind] += 1
        if build is None:
            return None
        value = build()
        self.put(spark, kind, sig, value, plan)
        return value

    def put(self, spark: SparkSession, kind: str, sig: tuple, value, plan=None) -> None:
        """Record ``value``; it replaces the kind's entry for the same
        leaves at any version, then the least recently used entries go."""
        leaves = [leaf for leaf, _ in sig]
        with self._lock:
            self._own(spark)
            for key in [k for k in self._entries if k[0] == kind and [leaf for leaf, _ in k[1]] == leaves]:
                self._drop(key)
            self._entries[(kind, sig)] = (plan, value)
            while len(self._entries) > MEMO_BOUND:
                self._drop(next(iter(self._entries)))

    def forget(self, rdd_ids: set) -> None:
        """Drop the entries whose leaves include a released RDD: nothing
        can read those relations again."""
        with self._lock:
            for key in [k for k in self._entries if any(leaf in rdd_ids for leaf, _ in k[1])]:
                self._drop(key)

    def clear(self) -> None:
        with self._lock:
            for key in list(self._entries):
                self._drop(key)

    def _own(self, spark: SparkSession) -> None:
        if self._sc is not spark.sparkContext:
            self._entries.clear()  # a stopped context freed its Spark-held values
            self._sc = spark.sparkContext

    def _drop(self, key: tuple) -> None:
        _, value = self._entries.pop(key)
        if isinstance(value, DataFrame):
            value.unpersist()


SESSION_MEMO = SessionMemo()
