import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spark_schema_guard.session import build_session

    spark = build_session(app_name="schema-guard-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# Differential testing: the reference implementation, imported read-only,
# drives behavior-parity assertions.  It is used ONLY in tests — the engine
# itself never touches it.  Where it is not importable, every test that
# takes this fixture skips: such a skip means "oracle absent", never
# "parity shown".
@pytest.fixture(scope="session")
def reference():
    sys.path.insert(0, "/root/reference")
    return pytest.importorskip(
        "fastjsonschema",
        reason="reference oracle absent: fastjsonschema is neither "
               f"installed nor importable from {sys.path[0]}")
