from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trackintel_spark.session import get_spark  # noqa: E402

# tests/data of a checkout of the reference trackintel repository. Its
# goldens (ArcGIS-verified filters, checked-in CSV fixtures, GeoLife
# corpora) are not shipped in this repository.
REFERENCE_DATA = "/root/reference/tests/data"


def requires_reference(*paths):
    """Mark a test that checks goldens under ``REFERENCE_DATA``; it
    skips, naming the missing golden, when one of ``paths`` is absent."""
    return pytest.mark.requires_reference(*paths)


def pytest_collection_modifyitems(config, items):
    for item in items:
        for mark in item.iter_markers("requires_reference"):
            missing = [p for p in mark.args if not os.path.exists(os.path.join(REFERENCE_DATA, p))]
            if missing:
                item.add_marker(pytest.mark.skip(reason=f"reference golden not present: {', '.join(missing)}"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="trackintel_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def make_pfs(spark, rows):
    """rows: (id, user_id, iso_ts, lon, lat)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "id long, user_id long, tracked_at string, lon double, lat double")
    return df.select(
        "id",
        "user_id",
        F.to_timestamp("tracked_at").alias("tracked_at"),
        F.struct(F.col("lon"), F.col("lat")).alias("geom"),
    )
