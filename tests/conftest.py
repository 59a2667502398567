from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usda_food_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def persistent_rdd_ids(spark):
    """``ids(checkpointed_only=False)``: ids of the RDDs now holding
    storage blocks — persisted, or only local checkpoints."""

    def ids(checkpointed_only: bool = False) -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        out = set()
        for rid in jmap.keySet().toArray():
            handle = jmap.get(rid)  # None once the context cleaner got there
            if handle is not None and (
                not checkpointed_only or handle.rdd().isLocallyCheckpointed()
            ):
                out.add(rid)
        return out

    return ids


@pytest.fixture
def next_query(spark):
    """Open the next registered query's scope, which releases everything
    the open scope holds (what ``registry.queries()[name]`` does first)."""
    from usda_food_data_pipeline_spark.scope import scoped

    return lambda: scoped(lambda spark, sf_dir: None)(spark, "")
