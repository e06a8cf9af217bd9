from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simplir_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # cores=None honours $SPARK_GRAFT_CPUS (all cores when unset); shuffle
    # partitions then follow the session's core count
    s = get_spark("simplir_spark_tests", cores=None)
    yield s


@pytest.fixture(scope="session")
def corpus_small(spark):
    from simplir_spark.sources.corpus import load_corpus

    return load_corpus(spark, SF_SMOKE)
