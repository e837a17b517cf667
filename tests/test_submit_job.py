"""spark-submit packaging: zip build + end-to-end job run + resume."""

import json
import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    fx = os.path.join(REPO, "fixtures/osm_sf0.001_v4/documents.parquet")
    out = str(tmp_path / "warehouse")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "submit_job.py"),
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
    spark-submit wrapper is covered above)."""
    import submit_job
    from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

    pbf = write_osm_pbf(
        str(tmp_path / "world.osm.pbf"), small_world.nodes, small_world.ways
    )
    out = str(tmp_path / "wh_pbf")
    sl_dir = str(tmp_path / "spatialite")
    submit_job.main(
        ["--input", pbf, "--output", out, "--layers", "entrances",
         "--spatialite", sl_dir]
    )
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


def test_submit_vacuum_all_layers_default(tmp_path, spark, small_world):
    """--vacuum-keep with NO --layers must vacuum exactly the tables
    write_layers wrote (regression: iterating run_all's dict also reached
    derived frames with no committed layer table and crashed). A re-run
    into the same --output commits each layer as version 2; the vacuum
    retires version 1."""
    import submit_job
    from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

    pbf = write_osm_pbf(
        str(tmp_path / "world.osm.pbf"), small_world.nodes, small_world.ways
    )
    out = str(tmp_path / "wh_all")
    submit_job.main(["--input", pbf, "--output", out])
    submit_job.main(["--input", pbf, "--output", out, "--vacuum-keep", "1"])
    manifests = [f for f in os.listdir(out) if f.startswith("layer_")
                 and f.endswith(".manifest.json")]
    assert len(manifests) >= 11
    for mf in manifests:
        m = json.load(open(os.path.join(out, mf)))
        assert m["version"] == 2, mf  # the re-run's snapshot
        assert sorted(int(k) for k in m["snapshots"]) == [2], mf  # v1 vacuumed
