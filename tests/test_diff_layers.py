"""tools/diff_layers.py — the regression-diff analog of the reference's
compare_sqlite.sh: a resumed run must be row-identical to a clean run, and
injected differences must be reported."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_addresses_spark.io.table import TableStore  # noqa: E402
from osmi_addresses_spark.plans.pipeline import run_all, write_layers  # noqa: E402
from tools.diff_layers import diff_stores, is_clean  # noqa: E402

LAYERS = ["entrances", "ways_with_postal_code"]


def _run(spark, docs, root):
    store = TableStore(root)
    layers = run_all(spark, docs, store=store)
    write_layers(layers, store, LAYERS)
    return store


def test_resumed_run_matches_clean_run(spark, small_docs, tmp_path):
    s1 = _run(spark, small_docs, str(tmp_path / "clean"))
    s2 = _run(spark, small_docs, str(tmp_path / "resume"))
    # simulate a crash after the ways_geo data landed but before commit:
    # no manifest → table reads as absent → the re-run recomputes it
    os.remove(s2._manifest_path("ways_geo"))
    assert not s2.exists("ways_geo")
    layers = run_all(spark, small_docs, store=s2)
    write_layers(layers, s2, LAYERS)

    report = diff_stores(spark, s1.root, s2.root)
    assert is_clean(report), report
    assert {f"layer_{n}" for n in LAYERS} <= set(report)


def test_diff_reports_injected_difference(spark, small_docs, tmp_path):
    s1 = _run(spark, small_docs, str(tmp_path / "a"))
    s2 = _run(spark, small_docs, str(tmp_path / "b"))
    full = s1.read(spark, "layer_entrances")
    n = full.count()
    assert n > 1
    # drop one row from b's entrances
    import shutil

    shutil.rmtree(s2._dir("layer_entrances"))
    os.remove(s2._manifest_path("layer_entrances"))
    s2.write("layer_entrances", full.limit(n - 1))

    report = diff_stores(spark, s1.root, s2.root, tables=["layer_entrances"])
    e = report["layer_entrances"]
    assert e["only_a"] == 1 and e["only_b"] == 0
    assert e["sample_only_a"]
    assert not is_clean(report)


def test_diff_missing_table(spark, small_docs, tmp_path):
    s1 = _run(spark, small_docs, str(tmp_path / "a2"))
    s2 = TableStore(str(tmp_path / "b2"))
    report = diff_stores(spark, s1.root, s2.root, tables=["layer_entrances"])
    e = report["layer_entrances"]
    assert e["missing_in"] == "b" and e["only_a"] > 0


def test_sqlite_diff_catches_row_and_geometry_change(spark, small_docs, tmp_path):
    """SpatiaLite-export diff (VERDICT r3 missing item 2): deleting one row
    and perturbing one geometry in an exported .sqlite dir are both caught,
    with compare_sqlite.sh's added/deleted semantics."""
    import sqlite3
    import struct

    from osmi_addresses_spark.io.spatialite import export_layer

    layers = run_all(spark, small_docs, store=TableStore(str(tmp_path / "store")))
    for n in LAYERS:
        export_layer(layers[n], n, str(tmp_path / "xa"))
        export_layer(layers[n], n, str(tmp_path / "xb"))

    clean = diff_stores(spark, str(tmp_path / "xa"), str(tmp_path / "xb"))
    assert is_clean(clean), clean
    assert set(clean) == set(LAYERS)

    con = sqlite3.connect(str(tmp_path / "xb" / "osmi_addresses_entrances.sqlite"))
    # 1-row change: delete the first row
    con.execute(
        "DELETE FROM osmi_addresses_entrances WHERE OGC_FID = "
        "(SELECT MIN(OGC_FID) FROM osmi_addresses_entrances)"
    )
    # 1-geometry change: nudge another row's point lon by rewriting the blob
    fid, blob = con.execute(
        "SELECT OGC_FID, GEOMETRY FROM osmi_addresses_entrances "
        "ORDER BY OGC_FID DESC LIMIT 1"
    ).fetchone()
    blob = bytearray(blob)
    (lon,) = struct.unpack_from("<d", blob, 43)
    struct.pack_into("<d", blob, 43, lon + 0.5)
    con.execute(
        "UPDATE osmi_addresses_entrances SET GEOMETRY = ? WHERE OGC_FID = ?",
        (bytes(blob), fid),
    )
    con.commit()
    con.close()

    report = diff_stores(spark, str(tmp_path / "xa"), str(tmp_path / "xb"))
    e = report["entrances"]
    # deleted row → only_a; geometry change → one row on each side
    assert e["only_a"] == 2 and e["only_b"] == 1, e
    assert not is_clean(report)
    assert report["ways_with_postal_code"]["only_a"] == 0


def test_sqlite_diff_table_in_neither_dir(spark, small_docs, tmp_path):
    """An explicitly-requested table present in neither export dir must be
    reported as missing-in-both — not opened (sqlite3.connect would create a
    stray empty .sqlite inside the compared dir; ADVICE r4)."""
    from osmi_addresses_spark.io.spatialite import export_layer

    layers = run_all(spark, small_docs, store=TableStore(str(tmp_path / "store")))
    export_layer(layers["entrances"], "entrances", str(tmp_path / "na"))
    export_layer(layers["entrances"], "entrances", str(tmp_path / "nb"))

    report = diff_stores(
        spark, str(tmp_path / "na"), str(tmp_path / "nb"),
        tables=["entrances", "no_such_layer"],
    )
    e = report["no_such_layer"]
    assert e["missing_in"] == "both" and not e["schema_match"]
    assert not is_clean(report)
    # no stray file was created in either dir
    for d in ("na", "nb"):
        assert not os.path.exists(
            str(tmp_path / d / "osmi_addresses_no_such_layer.sqlite")
        )


def test_serial_floor_metrics_no_app_start(tmp_path):
    """serial_floor_metrics with neither ApplicationStart nor an explicit
    window anchors at the first job's submission (ADVICE r4: t0=None used to
    TypeError in max(s, None)). serial_floor_violations passes its 3 s gap
    and trips on one 12 s gap."""
    import json as _json

    from tools.stage_report import serial_floor_metrics, serial_floor_violations

    def write_log(name, second_job_at_ms):
        log = tmp_path / name
        log.mkdir()
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
            {"Event": "SparkListenerJobStart", "Job ID": 1,
             "Submission Time": second_job_at_ms},
            {"Event": "SparkListenerJobEnd", "Job ID": 1,
             "Completion Time": second_job_at_ms + 2000},
        ]
        with open(log / "events_app", "w") as f:
            for ev in events:
                f.write(_json.dumps(ev) + "\n")
        return str(log)

    m = serial_floor_metrics(write_log("evlog", 6000))
    assert m["n_jobs"] == 2
    assert m["span_s"] == 7.0  # 1000..8000 anchored at first submission
    assert m["total_gap_s"] == 3.0  # 3000..6000
    assert serial_floor_violations(m) == []
    # one 12 s gap (3000..15000) breaks the single-gap budget, not the total
    slow = serial_floor_metrics(write_log("evlog_slow", 15000))
    viol = serial_floor_violations(slow)
    assert len(viol) == 1
    assert "12.0s" in viol[0] and "gap" in viol[0]
    # and the empty-log case stays total-zero, not an exception
    empty = tmp_path / "evlog2"
    empty.mkdir()
    (empty / "events_app").write_text("")
    m2 = serial_floor_metrics(str(empty))
    assert m2["n_jobs"] == 0


def test_diff_two_versions_of_one_store(spark, tmp_path):
    """Same store dir on both sides + version-a/version-b: the snapshot
    diff — v1 vs v2 reports exactly the changed rows, v2 vs v2 is clean,
    and a vacuumed version raises loudly instead of diffing nothing."""
    import pytest

    from osmi_addresses_spark.io.table import TableStore

    wh = str(tmp_path / "wh")
    store = TableStore(wh)
    store.write("layer_t", spark.range(10).toDF("id"))
    store.write("layer_t", spark.range(2, 13).toDF("id"))  # drop 0,1; add 10-12

    r = diff_stores(spark, wh, wh, tables=["layer_t"], version_a=1, version_b=2)
    assert r["layer_t"]["only_a"] == 2 and r["layer_t"]["only_b"] == 3

    r2 = diff_stores(spark, wh, wh, tables=["layer_t"], version_a=2, version_b=2)
    assert is_clean(r2)

    store.vacuum("layer_t", keep=1)
    with pytest.raises(KeyError, match="no snapshot v1"):
        diff_stores(spark, wh, wh, tables=["layer_t"], version_a=1, version_b=2)
