import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_addresses_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmi-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_world():
    from osmi_addresses_spark.fixtures.generator import generate_world

    # 1 town, trimmed mass addrs: every code path, fast to run
    return generate_world(0.001, n_mass_per_town=60)


@pytest.fixture(scope="session")
def small_docs(spark, small_world, tmp_path_factory):
    import pyarrow.parquet as pq

    from osmi_addresses_spark.fixtures.generator import world_to_documents

    d = tmp_path_factory.mktemp("docs")
    pq.write_table(world_to_documents(small_world), str(d / "documents.parquet"))
    return spark.read.parquet(str(d))
