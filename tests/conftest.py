import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Catalog queries call tune(spark), which re-sizes shuffle partitions from
# this env var (cores otherwise — right for perf runs, 8x too wide for
# sf0.001 tests). Pinning it here keeps the whole suite at 4 even after
# a test drives a registered query.
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# get_spark's default driver heap (48g) lets the one test JVM grow past the
# memory of a small host over a full run (one run on a 16 GB, 4-vCPU host
# was killed by the kernel at 15.8 GB resident; another peaked at 7.9 GB).
# The sf0.001 tests need far less; a bounded heap makes the JVM collect
# instead of growing.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    # Tests run on sf0.001 (hundreds of rows): 4 shuffle partitions cuts
    # per-stage task-launch overhead ~19% on the action-heavy tests
    # (measured round 9) without touching any plan-shape assertion. The
    # production default stays cores-sized in session.tune().
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
