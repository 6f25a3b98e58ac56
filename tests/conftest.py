from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

# Default sf0.001 keeps the suite fast; override for the heavier
# sweeps (e.g. SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 replicates the
# oracle comparison at bench scale — the three-scale parity evidence).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from streamlit_flink_demo_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def fork_census():
    """tools/fork_census.py (tools/ is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "fork_census",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "tools", "fork_census.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
