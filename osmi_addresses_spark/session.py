"""SparkSession factory for local[N] sessions launched from Python.

``get_spark`` starts the driver JVM through pyspark's launcher with the
program's settings (``DEFAULT_CONF``): AQE, Arrow transfers, a fixed
pre-touched heap plus off-heap execution memory, and shuffle partitions
sized for one host.

The driver JVM starts from a dynamic class-data-sharing archive (JDK
AppCDS, JEP 350) kept outside the repository in
``${XDG_CACHE_HOME:-~/.cache}/osmi_addresses_spark/cds/``. A cold JVM
otherwise loads and verifies the same ~14.5 k Spark classes from jars on
every run. When no archive exists for the ``java`` binary and the
``$SPARK_HOME/jars`` in use, the JVM writes a candidate when it exits. The
Python process waits for that at its own exit, checks the candidate in a
throwaway JVM and only then moves it onto the archive path; a candidate a
killed process left behind is checked or deleted by the next launch. The
launch is exactly the plain one when the cache cannot be written, when
``SPARK_CONF_DIR`` holds real conf files, or when anything else puts
entries on the driver classpath. Under ``spark-submit``
the JVM is already running and none of this applies.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import uuid
from dataclasses import dataclass
from typing import Mapping, MutableMapping

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Adaptive execution: runtime re-plan, skew-join splitting, coalescing
    # of small shuffle partitions — our backstop for hot (name, cell) groups.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for all pandas/Arrow UDF exchange (the parser hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 16k-row batches: smaller worker RSS spikes and better cache residency
    # for chained Arrow kernels than 64k (same throughput standalone).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
    # Sized for local runs; on a real cluster set via spark-submit.
    "spark.sql.shuffle.partitions": "32",
    # One 32 MB row group per scan partition: the heavy match stages run ON
    # the scan partitioning (the streets side broadcasts, so no shuffle
    # re-partitions the addr rows before the per-candidate distance work),
    # and 128 MB partitions left that stage as ~9 fat tasks per 12.5M addr
    # rows — two ragged waves at 8 cores, 70% idle cores at 32 (measured:
    # stage wall 27.1 s vs 17.8 s ideal at sf10/8c). Matches
    # parquet.block.size below so the granularity floor is one row group.
    "spark.sql.files.maxPartitionBytes": "33554432",
    # 32 MB parquet row groups: dynamic-partition writes keep one open
    # writer per partition per task, each buffering a full row group — with
    # 32 concurrent tasks the default 128 MB groups put ~8 GB of write
    # buffers on the heap and GC-stall the stage (measured 157 s GC on a
    # 16-task write with an 8 g heap). 32 MB keeps buffers bounded and give
    # finer min/max stats granularity for the cell-clustered layer files.
    "spark.hadoop.parquet.block.size": "33554432",
    # v2 file committer: task outputs move to the destination at task commit
    # instead of a serial driver-side rename pass at job commit — the rename
    # pass is pure driver-idle time between stages. Scratch-only: committed
    # tables (TableStore.write) override this per-write back to v1 so a
    # retried task attempt can never leak duplicate files into a table.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Parquet scan hygiene.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Broadcast threshold: dimension-sized sides (places at small SF) go
    # broadcast automatically; big fact-fact joins stay shuffle.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # Per-DataFrame-op call-site capture costs ~2 extra py4j round trips and
    # a Python stack walk per operation; run_all builds ~10k Column/DataFrame
    # ops, so this was ~40% of an 8 s pure-driver plan-construction phase
    # (part of the serial floor). Error messages lose the "DataFrame context"
    # pointer into user code; Python tracebacks are unaffected.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # deterministic timestamp semantics for the DuckDB oracle comparisons
    "spark.sql.session.timeZone": "UTC",
    # ParallelGC + a fully pre-touched, fixed-size heap: G1 commits and
    # uncommits heap regions continuously, and under virtualization every
    # commit/uncommit is kernel page work (EPT faults, TLB shootdown IPIs
    # across all vCPUs). Measured on the 32-core parse stage: G1/64g 156 s,
    # G1/16g 48 s, ParallelGC/16g pre-touched 20 s — all identical plans.
    "spark.driver.extraJavaOptions": (
        "-Djava.net.preferIPv6Addresses=false -XX:+UseParallelGC -XX:+AlwaysPreTouch"
    ),
}

# -- class-data sharing for the driver JVM -----------------------------------
# Measured at local[4] on 4 vCPU: get_spark 3.6–4.7 s → 1.9–3.0 s and
# warm_python_workers 3.4–4.6 s → 2.1–2.9 s with the archive. The launch that
# builds it starts 2–3 s slower, and its JVM exit takes ~10 s longer while it
# writes the ~179 MB archive.

# The dump prints ~1.4 k "[warning][cds] ..." lines on the JVM's stdout, which
# is this process's stdout.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# Each of these puts classpath entries the archive does not describe in front
# of the driver (a non-empty directory there stops a dumping JVM from
# starting), or means the driver JVM is launched by someone else.
_CDS_FOREIGN_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
)


@dataclass(frozen=True)
class CdsLaunch:
    """Class-data-sharing settings for one driver JVM launch."""

    java_options: str  # appended to spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty private dir
    cache_dir: str
    key: str  # cds_key of the java binary and jar set
    java: str
    dumping: bool  # the JVM writes a candidate archive when it exits


def cds_key(java: str, jars_dir: str) -> str:
    """Archive name for this ``java`` binary and Spark jar set: a JDK or Spark
    upgrade builds a fresh archive instead of silently ignoring the old one."""
    h = hashlib.sha256()
    real = os.path.realpath(java)
    st = os.stat(real)
    h.update(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def archive_accepted(java: str, archive: str, classpath: str) -> bool:
    """Whether a throwaway JVM (~0.2 s) maps ``archive`` with ``-Xshare:on``.
    A truncated archive passes the JVM's header checks and then kills the
    JVM that maps it with SIGBUS, so no candidate is used unchecked."""
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
           f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
           "-cp", classpath, "-version"]
    try:
        r = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return False
    return r.returncode == 0


def promote_candidates(cache_dir: str, key: str, java: str) -> bool:
    """Move a dumped candidate of ``key`` that ``archive_accepted`` onto the
    archive path and delete every other candidate. After a promotion the
    other keys' files go too: one archive per cache dir. Returns whether the
    archive exists."""
    archive = os.path.join(cache_dir, key + ".jsa")
    try:
        with open(os.path.join(cache_dir, key + ".classpath")) as f:
            classpath = f.read()
    except FileNotFoundError:
        classpath = None
    promoted = False
    for name in sorted(os.listdir(cache_dir)):
        if not (name.startswith(key + ".") and name.endswith(".dump")):
            continue
        path = os.path.join(cache_dir, name)
        if (classpath is not None and not os.path.exists(archive)
                and archive_accepted(java, path, classpath)):
            os.replace(path, archive)
            promoted = True
        else:
            # failed, redundant, or still being written by an exiting JVM
            # (the header goes in last, so a partial file never validates)
            os.remove(path)
    if promoted:
        for name in os.listdir(cache_dir):
            path = os.path.join(cache_dir, name)
            if not name.startswith(key + ".") and os.path.isfile(path):
                os.remove(path)
    return os.path.exists(archive)


def plan_cds_launch(env: Mapping[str, str]) -> CdsLaunch | None:
    """The class-data-sharing settings for the next driver launch, or None to
    launch without them."""
    from pyspark.find_spark_home import _find_spark_home

    if any(env.get(v) for v in _CDS_FOREIGN_ENV):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if env.get("JAVA_HOME"):
        java = os.path.join(env["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java", path=env.get("PATH"))
    cache = os.path.join(env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                         "osmi_addresses_spark", "cds")
    # the paths go into a space-separated option string
    if java is None or any(c.isspace() or c in "'\"\\" for c in cache):
        return None
    try:
        # The launcher puts SPARK_CONF_DIR first on the driver classpath.
        # Spark never reads *.template files, so a conf dir of only those is
        # swapped for an empty private one; real conf files keep today's launch.
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        private_conf = os.path.join(cache, "conf")
        os.makedirs(private_conf, exist_ok=True)
        if os.listdir(private_conf) or not os.access(cache, os.W_OK):
            return None
        key = cds_key(java, os.path.join(spark_home, "jars"))
        have_archive = promote_candidates(cache, key, java)
    except OSError:
        return None
    if have_archive:
        opts = f"-XX:SharedArchiveFile={os.path.join(cache, key + '.jsa')} -Xshare:auto"
    else:
        # a unique name: the JVM writes here at exit, and only a candidate
        # that validates is ever moved onto the archive path
        opts = f"-XX:ArchiveClassesAtExit={os.path.join(cache, f'{key}.{uuid.uuid4().hex}.dump')}"
    return CdsLaunch(f"{opts} {_CDS_QUIET}", private_conf, cache, key, java,
                     not have_archive)


def use_cds(conf: dict, env: MutableMapping[str, str]) -> CdsLaunch | None:
    """Add the class-data-sharing options to ``conf`` and point ``env``'s
    SPARK_CONF_DIR at the private empty conf dir when the next launch can
    use them; otherwise leave both exactly as they are."""
    if "spark.driver.extraClassPath" in conf:
        return None
    cds = plan_cds_launch(env)
    if cds is not None:
        env["SPARK_CONF_DIR"] = cds.conf_dir
        conf["spark.driver.extraJavaOptions"] = " ".join(
            filter(None, (conf.get("spark.driver.extraJavaOptions"), cds.java_options)))
    return cds


def _prepare_dump(spark: SparkSession, cds: CdsLaunch) -> None:
    """Record the dumping JVM's expanded classpath (checking its archive
    needs the exact same one), and make this process wait at exit for the
    JVM to write the candidate, then check and promote it, instead of
    leaving the JVM running on its own with its full heap."""
    classpath_file = os.path.join(cds.cache_dir, cds.key + ".classpath")
    try:
        tmp = f"{classpath_file}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(spark.sparkContext._jvm.System.getProperty("java.class.path"))
        os.replace(tmp, classpath_file)
    except OSError:
        pass  # without it the candidate is never promoted, only deleted
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        atexit.register(_finish_dump, proc, cds)


def _finish_dump(proc: subprocess.Popen, cds: CdsLaunch) -> None:
    if proc.poll() is None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            return  # still writing: the next launch deletes the candidate
    try:
        promote_candidates(cds.cache_dir, cds.key, cds.java)
    except OSError:
        pass  # e.g. a concurrent launch took the candidate first


def get_spark(
    app_name: str = "osmi-addresses-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers (and the JVM) inherit this process's environment in
    # local mode: pin per-worker BLAS/Arrow thread pools to 1 so k workers
    # use k cores, not k×ncpu threads — oversubscription measurably
    # anti-scales the Arrow parse stage at 16+ workers.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # jemalloc's page-return churn (madvise) is expensive under
    # virtualization; glibc holds the heap and refaults less.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    conf = dict(DEFAULT_CONF)
    # Modest fixed heap: every committed-then-touched heap page is kernel
    # work under virtualization, and larger heaps measurably slow identical
    # jobs here (pre-touched 8g ≈ 16g « 32g « 64g). 16g is sized for 32
    # concurrent tasks × 32MB parquet write buffers with headroom; shuffle
    # pressure beyond that spills to disk, which is cheaper than the
    # page-fault storms a bigger heap causes.
    try:
        ncores = int(cores)
    except (TypeError, ValueError):
        ncores = os.cpu_count() or 8
    conf["spark.driver.memory"] = f"{min(16, max(8, ncores))}g"
    # Tungsten execution + storage off-heap: cached intermediates and agg/
    # join buffers live outside the GC'd heap, so the collector only sees
    # small transient objects. A/B on the sf10 pipeline at 32 cores:
    # on-heap 141 s / DISK_ONLY 187 s / off-heap 108 s (min of 2 each).
    conf.setdefault("spark.memory.offHeap.enabled", "true")
    conf.setdefault("spark.memory.offHeap.size", f"{min(16, max(6, ncores // 2))}g")
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # getOrCreate launches a JVM only when there is no py4j gateway yet
    cds = use_cds(conf, os.environ) if SparkContext._gateway is None else None
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if cds is not None and cds.dumping:
        _prepare_dump(spark, cds)
    return spark


def warm_driver_plans(spark: SparkSession) -> None:
    """Pay the driver JVM's one-time analysis/codegen costs before timed
    work — the warm-driver analog of ``warm_python_workers`` for a
    long-running cluster. The first construction of the full layer DAG in a
    fresh JVM measures ~4× the warm cost (Catalyst analyzer/optimizer rule
    classloading, janino whole-stage-codegen compiler spin-up, Arrow serde
    classes); running the flagship plan once over a 2-row in-memory
    documents table loads all of it with negligible cluster work. A planet
    job amortizes this to nothing — the minutes-long bench jobs otherwise
    count it as serial floor at every parallelism level."""
    from .schemas import DOCUMENTS_SCHEMA

    ts = "2020-01-01T00:00:00Z"

    def doc(doc_id, spans):
        return (doc_id, [(k, t, m, i) for i, (k, t, m) in enumerate(spans)])

    docs = spark.createDataFrame(
        [
            doc("n1", [("header", f"node 1 47.0 8.0 {ts}", ""),
                       ("tag", "addr:street=A", "")]),
            doc("n2", [("header", f"node 2 47.0 8.001 {ts}", "")]),
            doc("n3", [("header", f"node 3 47.001 8.0 {ts}", "")]),
            doc("w4", [("header", f"way 4 {ts}", ""),
                       ("tag", "highway=residential", ""), ("tag", "name=A", ""),
                       ("ref", "2", ""), ("ref", "3", "")]),
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    import logging
    import shutil
    import tempfile

    from .io.table import TableStore
    from .plans.pipeline import run_all as _run_all
    from .plans.pipeline import track_persists

    tmp = tempfile.mkdtemp(prefix="osmi_warm_")
    with track_persists() as warm_persists:
        try:
            # store path: exercises the mapInArrow parse of a documents
            # parquet, write_once committer classes, and TableStore
            # read-back — the exact classes the timed run's first phase loads
            docs_pq = f"{tmp}/documents.parquet"
            docs.write.parquet(docs_pq)
            layers = _run_all(
                spark,
                spark.read.parquet(docs_pq),
                store=TableStore(f"{tmp}/store"),
                source_path=tmp,
            )
            layers["nodes_with_addresses"].count()
            layers["connection_line"].count()
        except Exception:
            # warm-up is best-effort — the real run surfaces real errors —
            # but a broken environment should be visible here, not minutes
            # later.
            logging.getLogger(__name__).warning(
                "warm_driver_plans: warm-up failed (continuing; the timed run "
                "will surface any real error)", exc_info=True
            )
        finally:
            # release only the caches the warm run itself made, also when it
            # failed partway — a caller invoking this mid-session keeps its
            # unrelated caches
            for df in warm_persists:
                try:
                    df.unpersist()
                except Exception:
                    pass
            shutil.rmtree(tmp, ignore_errors=True)


def warm_python_workers(spark: SparkSession, parallelism: int) -> None:
    """Pre-fork one Python worker per core and pay the numpy/pyarrow import
    cost before timed work (the warm-executor-pool analog of a long-running
    cluster). Measured ~6 s first-parse penalty at 16 workers otherwise."""

    def _warm(batches):
        try:
            import osmi_addresses_spark.functions.geom_np  # noqa: F401
            import osmi_addresses_spark.sources.parser  # noqa: F401
        except ImportError:
            import numpy  # noqa: F401
            import pyarrow.compute  # noqa: F401
        yield from batches

    spark.range(parallelism, numPartitions=parallelism).mapInArrow(
        _warm, "id long"
    ).count()
