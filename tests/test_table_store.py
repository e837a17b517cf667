"""Iceberg-lite TableStore: atomic commit, lineage, resumable write_once."""

import os

from osmi_addresses_spark.io.table import TableStore


def test_write_read_manifest(spark, tmp_path):
    store = TableStore(str(tmp_path / "warehouse"))
    df = spark.range(100).selectExpr("id", "id % 4 AS part")
    store.write("t1", df, partition_by=["part"])
    m = store.manifest("t1")
    assert m["partition_by"] == ["part"]
    assert len([p for p in m["partitions"] if p.startswith("part=")]) == 4
    back = store.read(spark, "t1")
    assert back.count() == 100


def test_write_once_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    store = TableStore(str(tmp_path / "warehouse"))
    calls = []

    def factory():
        calls.append(1)
        return spark.read.parquet(src)

    store.write_once("t2", factory, source_path=src)
    store.write_once("t2", factory, source_path=src)  # skipped: same lineage
    assert len(calls) == 1
    # source changed -> recompute
    spark.range(5).write.mode("append").parquet(src)
    store.write_once("t2", factory, source_path=src)
    assert len(calls) == 2
    assert store.read(spark, "t2").count() == 15


def test_write_once_sees_nested_input_change(spark, tmp_path):
    """A partitioned input keeps its data files in subdirectories; growing
    one of them must change the lineage, so the next write_once
    recomputes instead of reusing the stale table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    nested = src / "region=a" / "part-0.parquet"
    nested.parent.mkdir(parents=True)
    pq.write_table(pa.table({"id": list(range(10))}), nested)
    store = TableStore(str(tmp_path / "warehouse"))
    calls = []

    def factory():
        calls.append(1)
        return spark.read.parquet(str(src))

    store.write_once("t", factory, source_path=str(src))
    pq.write_table(pa.table({"id": list(range(15))}), nested)
    store.write_once("t", factory, source_path=str(src))
    assert len(calls) == 2
    assert store.read(spark, "t").count() == 15


def test_crash_leaves_no_manifest(spark, tmp_path):
    store = TableStore(str(tmp_path / "warehouse"))
    df = spark.range(10)
    store.write("t3", df)
    # simulate torn write: data dir exists but manifest removed
    os.remove(store._manifest_path("t3"))
    assert not store.exists("t3")


def test_write_layers_end_to_end(spark, small_docs, tmp_path):
    """The concurrent sinks commit every requested layer, with each
    manifest's row count equal to its layer's, and return the paths in
    the requested order."""
    from osmi_addresses_spark.plans.pipeline import run_all, write_layers
    from osmi_addresses_spark.schemas import LAYER_NAMES

    store = TableStore(str(tmp_path / "wh"))
    layers = run_all(spark, small_docs, store=store)
    names = list(reversed(LAYER_NAMES))
    paths = write_layers(layers, store, layer_names=names)
    assert list(paths) == names
    for name in names:
        m = store.manifest(f"layer_{name}")
        assert paths[name].endswith(m["version_dir"])
        rows = sum(p["rows"] for p in m["partitions"].values())
        assert rows == layers[name].count() == store.read(spark, f"layer_{name}").count(), name


def test_write_layers_failure_propagates_and_others_commit(spark, small_docs, tmp_path):
    """One failing sink raises out of write_layers; the other sinks, which
    ran concurrently with it, are still committed and readable."""
    import pytest

    from osmi_addresses_spark.plans.pipeline import run_all, write_layers

    class FailingStore(TableStore):
        def write(self, name, df, *args, **kwargs):
            if name == "layer_entrances":
                raise RuntimeError("disk full")
            return super().write(name, df, *args, **kwargs)

    store = FailingStore(str(tmp_path / "wh"))
    layers = run_all(spark, small_docs, store=store)
    names = ["nearest_points", "entrances", "ways_with_addresses"]
    with pytest.raises(RuntimeError, match="disk full"):
        write_layers(layers, store, layer_names=names)
    assert store.manifest("layer_entrances") is None
    for name in ("nearest_points", "ways_with_addresses"):
        assert store.read(spark, f"layer_{name}").count() == layers[name].count()


def _persistent_rdds(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {e.getKey() for e in jmap.entrySet().toArray()}


def test_tracked_pipeline_leaves_no_persistent_rdd(spark, small_docs, tmp_path):
    """Every cache run_all + write_layers create goes through
    track_persists, so unpersisting the tracked list releases them all."""
    from osmi_addresses_spark.plans.pipeline import run_all, track_persists, write_layers

    before = _persistent_rdds(spark)
    store = TableStore(str(tmp_path / "wh"))
    with track_persists() as tracked:
        write_layers(run_all(spark, small_docs, store=store), store)
    for df in tracked:
        df.unpersist()
    assert _persistent_rdds(spark) - before == set()


def test_warm_driver_plans_leaves_no_persistent_rdd(spark):
    """The warm-up releases every cache its pipeline run made and nothing
    else: the session's persistent RDDs are exactly as it found them."""
    from osmi_addresses_spark.session import warm_driver_plans

    before = _persistent_rdds(spark)
    warm_driver_plans(spark)
    assert _persistent_rdds(spark) == before


def test_run_all_checkpoints_follow_each_input(spark, small_docs, tmp_path):
    """Two different inputs through one store with no source_path: the
    second run checkpoints and reads its own entities and way geometries,
    not the first input's committed tables."""
    from pyspark.sql import functions as F

    from osmi_addresses_spark.plans.pipeline import run_all

    store = TableStore(str(tmp_path / "wh"))
    first = run_all(spark, small_docs, store=store)
    assert first["entities"].count() == small_docs.count()
    nodes_only = small_docs.filter(F.col("doc_id").startswith("n"))
    second = run_all(spark, nodes_only, store=store)
    assert second["entities"].count() == nodes_only.count() < small_docs.count()
    assert second["ways_geo"].count() == 0


def test_versioned_snapshots_time_travel(spark, tmp_path):
    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.range(5).toDF("id"))
    store.write("t", spark.range(100, 103).toDF("id"))
    assert store.versions("t") == [1, 2]
    assert {r["id"] for r in store.read(spark, "t").collect()} == {100, 101, 102}
    assert {r["id"] for r in store.read(spark, "t", version=1).collect()} == set(range(5))
    import pytest

    with pytest.raises(KeyError, match="no snapshot v9"):
        store.read(spark, "t", version=9)


def test_crashed_write_leaves_previous_snapshot_readable(spark, tmp_path):
    """The durability property the old flat layout lacked: a writer dying
    mid-write (data dir half-written, pointer manifest not flipped) leaves
    the prior committed snapshot untouched and current."""
    import os

    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.range(7).toDF("id"))
    # simulate a crashed v2 attempt: orphan dir, no manifest flip
    orphan = os.path.join(store._snapdir("t"), "v00002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert store.read(spark, "t").count() == 7  # still v1
    assert store.manifest("t")["version"] == 1
    # the next real write reclaims the orphan and commits v2 cleanly
    store.write("t", spark.range(2).toDF("id"))
    assert store.manifest("t")["version"] == 2
    assert store.read(spark, "t").count() == 2
    assert store.read(spark, "t", version=1).count() == 7


def test_vacuum_retires_old_snapshots(spark, tmp_path):
    import os

    import pytest

    store = TableStore(str(tmp_path / "wh"))
    for n in (4, 5, 6):
        store.write("t", spark.range(n).toDF("id"))
    d1 = store._dir("t", 1)
    assert store.vacuum("t", keep=1) == [1, 2]
    assert store.versions("t") == [3]
    assert not os.path.exists(d1)
    assert store.read(spark, "t").count() == 6
    with pytest.raises(KeyError):
        store.read(spark, "t", version=1)
    assert store.vacuum("t", keep=1) == []  # idempotent


def test_vacuum_sweeps_orphan_version_dirs(spark, tmp_path):
    """A half-written version dir from a crashed writer (never committed to
    the manifest) is reclaimed by vacuum's orphan sweep — even when no
    committed snapshot is old enough to retire."""
    import os

    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.range(5).toDF("id"))
    orphan = os.path.join(store._snapdir("t"), "v00009")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"junk")
    assert store.vacuum("t", keep=1) == []  # nothing committed to retire
    assert not os.path.exists(orphan)  # ...but the orphan is gone
    assert store.read(spark, "t").count() == 5
