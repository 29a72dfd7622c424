from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from aurora_mito_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="aurora-mito-etl-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def counting_stub_classifier(spark):
    """(factory, items): `llm.stub_classifier` wrapped so every item it
    classifies adds 1 to the `items` accumulator, summed across Python
    workers — how many times the model would have been paid per row."""
    from aurora_mito_etl_spark.operators import llm

    items = spark.sparkContext.accumulator(0)

    def make():
        classify = llm.stub_classifier()

        def counted(batch):
            items.add(len(batch))
            return classify(batch)

        return counted

    return make, items
