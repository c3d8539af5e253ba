"""Traced runs only: which layer functions get spans, and probes that time
one layer in isolation after the timed ops.

The span targets are module attributes looked up at call time by the
engine's own code (``plans.jobs``, ``pipelines.open_close``,
``warehouse``), so wrapping them from here puts spans around each layer
call inside a DAG run without changing the package.
"""

from __future__ import annotations

import statistics

PROBE_REPEATS = 3


def targets():
    from fortune_500_financial_insights_pipeline_spark import warehouse
    from fortune_500_financial_insights_pipeline_spark.operators import dedup
    from fortune_500_financial_insights_pipeline_spark.pipelines import open_close as oc
    from fortune_500_financial_insights_pipeline_spark.plans import jobs

    return [
        (jobs, "open_close", "pipelines.open_close"),
        (jobs, "info_pipeline", "pipelines.info_pipeline"),
        (jobs, "sustainability_pipeline", "pipelines.sustainability_pipeline"),
        (oc, "read_kaggle_csv", "sources.read_kaggle_csv"),
        (oc, "read_api_csv", "sources.read_api_csv"),
        (oc, "standardize_kaggle", "operators.standardize_kaggle"),
        (oc, "standardize_api", "operators.standardize_api"),
        (oc, "keep_latest", "operators.keep_latest"),
        (dedup, "keep_latest", "operators.keep_latest"),
        (warehouse, "write_table", "warehouse.write_table"),
        (warehouse, "register", "warehouse.register"),
    ]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(tracer, name: str, build) -> float:
    """Median seconds of building a DataFrame and running it into a noop
    sink, under a span named ``name``."""
    secs = []
    for _ in range(PROBE_REPEATS):
        with tracer.span(name) as s:
            _noop(build())
        secs.append(s.duration)
    return statistics.median(secs)


def run(wl, ctx) -> dict[str, float]:
    from fortune_500_financial_insights_pipeline_spark.pipelines.entity_json import (
        info_pipeline,
        sustainability_pipeline,
    )
    from fortune_500_financial_insights_pipeline_spark.pipelines.open_close import open_close
    from fortune_500_financial_insights_pipeline_spark.sources.ohlcv import (
        read_api_csv,
        read_kaggle_csv,
    )

    spark, tr, out = ctx.spark, ctx.tracer, {}
    tr.op = None
    if wl.name == "elt_reload":
        f = wl.feed
        out["sources.kaggle_scan_s"] = _probe(
            tr, "sources.kaggle_scan", lambda: read_kaggle_csv(spark, f.kaggle_glob)
        )
        out["sources.api_scan_s"] = _probe(
            tr, "sources.api_scan", lambda: read_api_csv(spark, f.api_glob)
        )
        out["pipelines.open_close_exec_s"] = _probe(
            tr, "pipelines.open_close_exec",
            lambda: open_close(spark, f.kaggle_glob, f.api_glob, dedup=True),
        )
        out["pipelines.info_s"] = _probe(
            tr, "pipelines.info", lambda: info_pipeline(spark, f.info_glob)
        )
        out["pipelines.sustainability_s"] = _probe(
            tr, "pipelines.sustainability",
            lambda: sustainability_pipeline(spark, f.esg_glob, with_ticker=True),
        )
    return out
