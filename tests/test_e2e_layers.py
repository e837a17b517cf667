"""E2E golden test: full Spark pipeline vs the pure-python oracle,
row-for-row per layer (order-insensitive), mirroring the reference's
test/run_tests.sh strategy but at row granularity.
"""

import pytest

from osmi_addresses_spark.io.table import TableStore
from osmi_addresses_spark.plans.pipeline import run_all
from tests.oracle.engine import run_reference

LAYERS = [
    "entrances",
    "ways_with_postal_code",
    "addrx_on_nonclosed_way",
    "ways_with_addresses",
    "buildings",
    "interpolation",
    "nearest_points",
    "nearest_roads",
    "nearest_areas",
    "connection_line",
    "nodes_with_addresses",
]


def _norm_val(v, float_digits=12):
    if isinstance(v, float):
        return round(v, float_digits)
    return v


def _norm_geom(g):
    if g is None:
        return None
    if isinstance(g, (list, tuple)) and g and isinstance(g[0], (list, tuple)):
        return tuple((_norm_val(p[0]), _norm_val(p[1])) for p in g)
    if isinstance(g, (list, tuple)):
        return (_norm_val(g[0]), _norm_val(g[1]))
    return g


def spark_rows(df):
    cols = df.columns
    out = []
    for r in df.collect():
        row = []
        for c in cols:
            v = r[c]
            if c == "geom":
                if v is None:
                    row.append(None)
                elif hasattr(v, "lon"):
                    row.append(_norm_geom((v["lon"], v["lat"])))
                else:
                    row.append(_norm_geom([(p["lon"], p["lat"]) for p in v]))
            else:
                row.append(_norm_val(v))
        out.append(tuple(row))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def oracle_rows(rows, cols):
    out = []
    for r in rows:
        row = []
        for c in cols:
            v = r[c]
            if c == "geom":
                row.append(_norm_geom(v))
            else:
                row.append(_norm_val(v))
        out.append(tuple(row))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.fixture(scope="module")
def outputs(spark, small_docs, tmp_path_factory):
    store = TableStore(str(tmp_path_factory.mktemp("e2e_store")))
    return run_all(spark, small_docs, store=store)


@pytest.fixture(scope="module")
def golden(small_world):
    return run_reference(small_world)


@pytest.mark.parametrize("layer", LAYERS)
def test_layer_rows_match(outputs, golden, layer):
    df = outputs[layer]
    got = spark_rows(df)
    want = oracle_rows(golden[layer], df.columns)
    assert len(got) == len(want), (
        f"{layer}: row count {len(got)} != oracle {len(want)}"
    )
    only_got = [r for r in got if r not in set(want)]
    only_want = [r for r in want if r not in set(got)]
    assert got == want, (
        f"{layer}: mismatch\n engine-only (first 3): {only_got[:3]}\n"
        f" oracle-only (first 3): {only_want[:3]}"
    )


def test_fixture_exercises_all_paths(golden):
    """The small world must cover every outcome class (FIXTURES.md §3)."""
    errs = {r["error"] for r in golden["interpolation"]}
    for e in [
        None,
        "unknown interpolation type",
        "endpoint has wrong format",
        "range too large",
        "needless interpolation",
        "interpolation even but number odd",
        "interpolation odd but number even",
        "different tags on endpoints",
        "interpolation is a closed way",
        "no alphabetic part in addr:housenumber",
        "numeric parts of housenumbers not identical",
    ]:
        assert e in errs, f"missing interpolation outcome {e!r}"
    nwa = golden["nodes_with_addresses"]
    assert any(r["is_ip"] == 1 and r["road_id"] for r in nwa)
    assert any(r["is_ip"] == 1 and not r["road_id"] for r in nwa)
    assert any(r["nody_place_id"] for r in nwa)
    assert any(r["wayy_place_id"] for r in nwa)
    assert any(r["is_ip"] == 0 and r["street"] and not r["road_id"] for r in nwa)
    assert len(golden["nearest_areas"]) >= 1
    assert len(golden["entrances"]) >= 6
