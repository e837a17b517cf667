"""spark-submit packaging: zip build + end-to-end job run + resume."""

import json
import subprocess
import sys
import zipfile


def test_package_zip():
    from package import build

    p = build()
    names = zipfile.ZipFile(p).namelist()
    assert "osmi_addresses_spark/plans/pipeline.py" in names
    assert not any("__pycache__" in n for n in names)


def test_spark_submit_runs_and_resumes(tmp_path):
    """Run the real spark-submit with --py-files against the sf0.001 fixture."""
    from package import build

    zip_path = build()
    fx = "/root/repo/fixtures/osm_sf0.001_v3/documents.parquet"
    out = str(tmp_path / "warehouse")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "/root/repo/submit_job.py",
        "--input", fx,
        "--output", out,
        "--layers", "entrances,nodes_with_addresses",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    written = json.loads([ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
    assert "entrances" in written["written"]
    # resume: second run must skip the completed entity/geometry checkpoints
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    manifest = json.load(open(f"{out}/entities.manifest.json"))
    assert manifest["lineage"]["source"] == fx


def test_submit_main_from_pbf(tmp_path, spark, small_world):
    """--format auto routes a .osm.pbf input through the native reader and
    the same resumable warehouse path (direct main() call — the
    spark-submit wrapper is covered above). Also drives the snapshot
    maintenance flags: --compact-target-mb rewrites the layer as version 2
    (cluster expr re-applied) and --vacuum-keep 1 retires version 1."""
    import submit_job
    from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

    pbf = write_osm_pbf(
        str(tmp_path / "world.osm.pbf"), small_world.nodes, small_world.ways
    )
    out = str(tmp_path / "wh_pbf")
    sl_dir = str(tmp_path / "spatialite")
    submit_job.main(
        ["--input", pbf, "--output", out, "--layers", "entrances",
         "--spatialite", sl_dir,
         "--compact-target-mb", "64", "--vacuum-keep", "1"]
    )
    lm = json.load(open(f"{out}/layer_entrances.manifest.json"))
    assert lm["version"] == 2  # compaction committed a second snapshot
    assert sorted(int(k) for k in lm["snapshots"]) == [2]  # v1 vacuumed
    # --spatialite also emits the reference's file contract for the layer
    import sqlite3

    con = sqlite3.connect(f"{sl_dir}/osmi_addresses_entrances.sqlite")
    n_sl = con.execute("SELECT COUNT(*) FROM osmi_addresses_entrances").fetchone()[0]
    con.close()
    manifest = json.load(open(f"{out}/layer_entrances.manifest.json"))
    total = sum(p["rows"] for p in manifest["partitions"].values())
    assert total > 0
    assert n_sl == total
    ents_manifest = json.load(open(f"{out}/entities.manifest.json"))
    assert ents_manifest["lineage"]["source"] == pbf


def test_submit_main_spatialite_sharded(tmp_path, spark, small_world):
    """--spatialite-shards N: executors write N shards per layer, the
    driver ATTACH-merges them into the same single-file contract."""
    import os
    import sqlite3

    import submit_job
    from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

    pbf = write_osm_pbf(
        str(tmp_path / "world.osm.pbf"), small_world.nodes, small_world.ways
    )
    out = str(tmp_path / "wh_sharded")
    sl_dir = str(tmp_path / "spatialite_sharded")
    submit_job.main(
        ["--input", pbf, "--output", out, "--layers", "entrances",
         "--spatialite", sl_dir, "--spatialite-shards", "3"]
    )
    shard_dir = f"{sl_dir}/osmi_addresses_entrances"
    assert len([f for f in os.listdir(shard_dir) if f.endswith(".sqlite")]) == 3
    con = sqlite3.connect(f"{sl_dir}/osmi_addresses_entrances.sqlite")
    n_sl = con.execute("SELECT COUNT(*) FROM osmi_addresses_entrances").fetchone()[0]
    con.close()
    manifest = json.load(open(f"{out}/layer_entrances.manifest.json"))
    assert n_sl == sum(p["rows"] for p in manifest["partitions"].values()) > 0


def test_submit_compact_all_layers_default(tmp_path, spark, small_world):
    """--compact-target-mb with NO --layers must compact exactly the
    tables write_layers wrote (regression: iterating run_all's dict also
    reached derived frames with no committed table and crashed on read)."""
    import os

    import submit_job
    from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

    pbf = write_osm_pbf(
        str(tmp_path / "world.osm.pbf"), small_world.nodes, small_world.ways
    )
    out = str(tmp_path / "wh_all")
    submit_job.main(
        ["--input", pbf, "--output", out,
         "--compact-target-mb", "64", "--vacuum-keep", "1"]
    )
    manifests = [f for f in os.listdir(out) if f.startswith("layer_")
                 and f.endswith(".manifest.json")]
    assert len(manifests) >= 11
    for mf in manifests:
        m = json.load(open(os.path.join(out, mf)))
        assert m["version"] == 2, mf  # compacted
        assert sorted(int(k) for k in m["snapshots"]) == [2], mf  # vacuumed


def test_submit_merge_mode(spark, tmp_path):
    import json

    from osmi_addresses_spark.io.table import TableStore

    wh = str(tmp_path / "wh")
    store = TableStore(wh)
    store.write(
        "users",
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"]),
    )
    ups = str(tmp_path / "ups")
    spark.createDataFrame([(2, "B"), (3, "c")], ["k", "name"]).write.parquet(ups)
    dels = str(tmp_path / "dels")
    spark.createDataFrame([(1,)], ["k"]).write.parquet(dels)
    import submit_job

    rc = submit_job.main([
        "--input", ups, "--output", wh,
        "--merge-into", "users", "--merge-keys", "k",
        "--merge-deletes", dels,
    ])
    assert not rc
    got = {(r["k"], r["name"]) for r in store.read(spark, "users").collect()}
    assert got == {(2, "B"), (3, "c")}
    assert store.versions("users") == [1, 2]


def test_submit_merge_keys_strip_whitespace(spark, tmp_path):
    from osmi_addresses_spark.io.table import TableStore

    wh = str(tmp_path / "wh")
    store = TableStore(wh)
    store.write(
        "pairs",
        spark.createDataFrame([(1, 1, "a"), (1, 2, "b")], ["k", "j", "name"]),
    )
    ups = str(tmp_path / "ups")
    spark.createDataFrame([(1, 2, "B")], ["k", "j", "name"]).write.parquet(ups)
    import submit_job

    rc = submit_job.main([
        "--input", ups, "--output", wh,
        "--merge-into", "pairs", "--merge-keys", "k, j",
    ])
    assert not rc
    got = {(r["k"], r["j"], r["name"]) for r in store.read(spark, "pairs").collect()}
    assert got == {(1, 1, "a"), (1, 2, "B")}
    assert store.manifest("pairs")["lineage"]["last_merge"]["keys"] == ["k", "j"]
