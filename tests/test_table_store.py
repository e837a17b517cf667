"""Iceberg-lite TableStore: atomic commit, lineage, resumable write_once."""

import json
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
    layers = run_all(spark, small_docs)
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
    layers = run_all(spark, small_docs)
    names = ["nearest_points", "entrances", "ways_with_addresses"]
    with pytest.raises(RuntimeError, match="disk full"):
        write_layers(layers, store, layer_names=names)
    assert store.manifest("layer_entrances") is None
    for name in ("nearest_points", "ways_with_addresses"):
        assert store.read(spark, f"layer_{name}").count() == layers[name].count()


def test_tracked_pipeline_leaves_no_persistent_rdd(spark, small_docs, tmp_path):
    """Every cache run_all + write_layers create goes through
    track_persists, so unpersisting the tracked list releases them all."""
    from osmi_addresses_spark.plans.pipeline import run_all, track_persists, write_layers

    def persistent_rdds():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {e.getKey() for e in jmap.entrySet().toArray()}

    before = persistent_rdds()
    store = TableStore(str(tmp_path / "wh"))
    with track_persists() as tracked:
        write_layers(run_all(spark, small_docs, store=store), store)
    for df in tracked:
        df.unpersist()
    assert persistent_rdds() - before == set()


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


def test_compact_preserves_rows_and_write_once_skip(spark, tmp_path):
    src = tmp_path / "src"
    df = spark.range(1000).toDF("id")
    df.write.parquet(str(src))
    store = TableStore(str(tmp_path / "wh"))
    store.write_once(
        "t", lambda: spark.read.parquet(str(src)).repartition(16),
        source_path=str(src),
    )
    m1 = store.manifest("t")
    assert sum(p["files"] for p in m1["partitions"].values()) == 16
    store.compact(spark, "t", target_bytes=1 << 30)
    m2 = store.manifest("t")
    assert m2["version"] == m1["version"] + 1
    assert sum(p["files"] for p in m2["partitions"].values()) == 1
    got = sorted(r["id"] for r in store.read(spark, "t").collect())
    assert got == list(range(1000))
    # lineage carried over: a re-run's write_once still skips (no rewrite)
    store.write_once(
        "t", lambda: spark.read.parquet(str(src)).repartition(16),
        source_path=str(src),
    )
    assert store.manifest("t")["version"] == m2["version"]


def test_legacy_flat_layout_upgrades_in_place(spark, tmp_path):
    """A table committed by the pre-versioning layout (files directly under
    root/<name>, manifest without `version`) stays readable, and the next
    write migrates it: new snapshot dir, superseded flat files retired
    after the commit."""
    import json
    import os
    import shutil

    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.range(9).toDF("id"))
    # devolve to the legacy layout: move the snapshot's files to root/t,
    # strip the version keys from the manifest
    tdir = os.path.join(store.root, "t")
    os.makedirs(tdir)
    vdir = os.path.join(store._snapdir("t"), "v00001")
    for f in os.listdir(vdir):
        shutil.move(os.path.join(vdir, f), os.path.join(tdir, f))
    os.rmdir(vdir)
    mp = store._manifest_path("t")
    with open(mp) as f:
        m = json.load(f)
    for k in ("version", "version_dir", "snapshots"):
        m.pop(k)
    with open(mp, "w") as f:
        json.dump(m, f)
    assert store.read(spark, "t").count() == 9  # legacy resolve
    import pytest

    with pytest.raises(KeyError):  # explicit time travel on legacy: loud
        store.read(spark, "t", version=1)
    store.write("t", spark.range(3).toDF("id"))
    assert store.read(spark, "t").count() == 3
    assert store.versions("t") == [1]
    # the superseded flat dir is retired post-commit; snapshots are
    # siblings, so the legacy dir was never mixed with version dirs
    assert not os.path.exists(tdir)
    assert os.path.isdir(os.path.join(store._snapdir("t"), "v00001"))


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


def test_merge_upserts_and_deletes_as_new_snapshot(spark, tmp_path):
    import pytest

    store = TableStore(str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    store.write("t", base)
    # upsert: replace k=2, insert k=4; delete k=3
    ups = spark.createDataFrame([(2, "B", 200), (4, "d", 40)], ["k", "name", "v"])
    dels = spark.createDataFrame([(3,)], ["k"])
    store.merge(spark, "t", ups, ["k"], deletes=dels)
    got = {(r["k"], r["name"], r["v"]) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a", 10), (2, "B", 200), (4, "d", 40)}
    # time travel: the pre-merge snapshot is untouched
    v1 = {(r["k"], r["name"], r["v"]) for r in store.read(spark, "t", version=1).collect()}
    assert v1 == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
    assert store.versions("t") == [1, 2]
    m = store.manifest("t")
    assert m["lineage"]["last_merge"] == {"keys": ["k"], "deletes": True}
    # a row present in BOTH updates and deletes is deleted, not resurrected
    store.merge(
        spark, "t",
        spark.createDataFrame([(4, "dd", 44)], ["k", "name", "v"]),
        ["k"],
        deletes=spark.createDataFrame([(4,)], ["k"]),
    )
    got3 = {r["k"] for r in store.read(spark, "t").collect()}
    assert got3 == {1, 2}
    # first merge into a missing table is a plain write; deleting from a
    # missing table is an error
    store.merge(spark, "fresh", base, ["k"])
    assert store.read(spark, "fresh").count() == 3
    with pytest.raises(KeyError):
        store.merge(spark, "nope", ups, ["k"], deletes=dels)
    with pytest.raises(ValueError):
        store.merge(spark, "t", ups.selectExpr("k AS kk", "name", "v"), ["kk"])


def test_merge_carries_partitioning_and_options(spark, tmp_path):
    store = TableStore(str(tmp_path / "wh"))
    base = spark.range(40).selectExpr("id AS k", "id % 4 AS part", "id * 2 AS v")
    store.write("t", base, partition_by=["part"], options={"parquet.block.size": str(1 << 20)})
    ups = spark.createDataFrame([(1, 1, 999)], ["k", "part", "v"])
    store.merge(spark, "t", ups, ["k"])
    m = store.manifest("t")
    assert m["partition_by"] == ["part"]
    assert m["write_options"] == {"parquet.block.size": str(1 << 20)}
    assert any(p.startswith("part=") for p in m["partitions"])
    got = {r["v"] for r in store.read(spark, "t").filter("k = 1").collect()}
    assert got == {999}


def test_merge_rejects_bad_updates(spark, tmp_path):
    import pytest

    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.createDataFrame([(1, "a")], ["k", "name"]))
    with pytest.raises(ValueError, match="duplicate"):
        store.merge(
            spark, "t",
            spark.createDataFrame([(2, "b"), (2, "c")], ["k", "name"]), ["k"],
        )
    with pytest.raises(ValueError, match="NULL"):
        store.merge(
            spark, "t",
            spark.createDataFrame([(None, "b")], "k int, name string"), ["k"],
        )
    # first-write degenerate path records the merge lineage too
    store.merge(spark, "fresh2", spark.createDataFrame([(1, "a")], ["k", "name"]), ["k"])
    m = store.manifest("fresh2")
    assert m["lineage"]["last_merge"] == {"keys": ["k"], "deletes": False}


def test_merge_rejects_update_columns_the_table_lacks(spark, tmp_path):
    import pytest

    store = TableStore(str(tmp_path / "wh"))
    store.write("t", spark.createDataFrame([(1, "a")], ["k", "name"]))
    ups = spark.createDataFrame([(1, "A", 9)], ["k", "name", "extra"])
    with pytest.raises(ValueError, match="extra"):
        store.merge(spark, "t", ups, ["k"])
    assert store.versions("t") == [1]
