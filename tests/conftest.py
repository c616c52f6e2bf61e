from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, "/root/repo")

from metadata_driven_etl_spark.session import get_local_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_local_spark(
        cpus=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": warehouse,
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# hypothesis-compatible alias (function-scoped health check suppressed)
@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


@pytest.fixture
def durable_checkpoints(spark, tmp_path):
    """Context-manager factory: inside ``with durable_checkpoints() as d``
    the shared session has checkpoint dir ``d``, so every
    ``materialize`` takes the durable path; on exit the dir is unset
    again. PySpark has no public unset, hence the JVM setter. A dir left
    set would silently switch every later test to reliable checkpoints."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "an earlier test left a dir set"

    @contextmanager
    def durable():
        ckpt = str(tmp_path / "ckpt")
        sc.setCheckpointDir(ckpt)
        try:
            yield ckpt
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )

    yield durable
    assert sc.getCheckpointDir() is None
