"""curation_pipeline_v4 materializes its three decode panels from a
driver thread pool.  A failing panel must fail the query and leave no
panel thread running behind it."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from distributedmapreduce_spark.plans.registry import get_registry

from .conftest import SF_DIR


def test_failed_panel_fails_query_and_joins_every_panel(spark, monkeypatch):
    real_save = DataFrameWriter.save
    sc = spark.sparkContext

    def save(self, *args, **kwargs):
        desc = sc.getLocalProperty("spark.job.description") or ""
        if desc == "v4: iph signature panel":
            raise RuntimeError("injected panel failure")
        if desc.startswith("v4: "):
            # keep the other panels busy past the failure
            time.sleep(2)
        return real_save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", save)
    with pytest.raises(RuntimeError, match="injected panel failure"):
        get_registry()["curation_pipeline_v4"].fn(spark, SF_DIR)
    alive = [t.name for t in threading.enumerate() if t.name.startswith("v4-panel")]
    assert alive == []
