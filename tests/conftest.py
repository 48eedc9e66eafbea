import io
import os
import sys
from contextlib import contextmanager, redirect_stdout
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from stl_decomp_4j_spark.plans.session import build_session

    spark = build_session(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def plan_of():
    """df -> its formatted physical plan, the text plan checks assert on."""

    def plan_of(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return plan_of


@pytest.fixture
def arrow_batch_rows(spark):
    """``with arrow_batch_rows(n):`` runs a block at n-row Arrow batches, so
    a small n makes every key run of a sorted Arrow map span several
    batches (the carried-over last run is exercised on every batch)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    @contextmanager
    def rows(n: int):
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return rows
