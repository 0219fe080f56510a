"""The benchmark's traced run (perfbench/tracing.py) wraps package names at
runtime. A rename of any of them must fail here, in the unit tests, rather
than in the traced benchmark run."""

import inspect

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable


def test_traced_run_wraps_every_package_name():
    from perfbench.tracing import Tracer, install_package_spans

    tracer = Tracer()
    try:
        install_package_spans(tracer)
    finally:
        tracer.uninstall()
    assert "fold_after" in inspect.signature(ParquetTable.upsert_delta).parameters
