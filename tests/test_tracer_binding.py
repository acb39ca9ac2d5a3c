"""The benchmark's tracer still binds the engine.

``perfbench/tracing.py`` wraps engine functions and methods by attribute
name for a ``--trace 1`` run.  An engine refactor that renames or removes
one of them breaks that run only when it is traced; installing and
uninstalling the tracer here catches it without a Spark session.
"""

from __future__ import annotations

import importlib
from pathlib import Path
from types import SimpleNamespace

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def test_tracer_installs_and_uninstalls_on_the_engine(monkeypatch):
    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    monkeypatch.syspath_prepend(str(PERFBENCH))
    tracing = importlib.import_module("tracing")
    original = CdcPipeline.process_batch
    tracer = tracing.Tracer(SimpleNamespace(sparkContext=None))
    tracer.install()
    try:
        assert CdcPipeline.process_batch is not original
    finally:
        tracer.uninstall()
    assert CdcPipeline.process_batch is original
