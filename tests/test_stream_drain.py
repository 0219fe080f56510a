"""The streaming catalog keys drain through one helper that fails loudly
when a drain does not finish, instead of returning a partial sink."""

from __future__ import annotations

import pytest

from azure_airbnb_cdc_ingestion_pipeline_spark.plans import streaming


def test_drain_that_times_out_stops_and_raises(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(streaming, "_DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        streaming.q_stream_dropdup(spark, sf_dir)
    assert not [q for q in spark.streams.active if q.name == "stream_dropdup_sink"]
