"""The three workloads: what one batch submits, its traced prefixes, its check.

Each workload puts a different layer of the program in front:

- ``pages_rollup``: parse regex and aggregate state, via the wide
  ``(sink, geo, svc, domain)`` rollup at about one 1m group per doc;
- ``otlp_intake``: the pure-Python OTLP protobuf decode behind
  ``mapInPandas``, with a narrow ``(sink, geo)`` rollup after it;
- ``sink_fanout``: the partitioned parquet write and the lineage rows.

A batch runs inside ``caching.scoped_intermediates()`` and is complete
when its result is in its sink (a parquet directory).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.caching import scoped_intermediates
from opentelemetry_collector_components_spark.operators.aggregate import interval_rollup_union
from opentelemetry_collector_components_spark.plans.pipeline import PipelineSpec
from opentelemetry_collector_components_spark.plans.sinks import append_lineage, lineage_rows, write_fanout
from opentelemetry_collector_components_spark.sources.otlp import decode_otlp_logs_protobuf

from . import gen, truth
from .trace import Tracer

# columns parse_pages reads; the traced scan prefix reads the same ones
PAGES_READ = ["url", "warc_ts", "text", "lang"]


@dataclass
class Batch:
    index: int
    docs: gen.Docs
    input_dir: str
    out_dir: str


class Workload:
    name: str
    stream: int
    batch_docs: int
    rollup: bool  # ends in interval_rollup_union (else in the sink fan-out)

    def __init__(self, spark: SparkSession, dim: pd.DataFrame):
        self.spark = spark
        self.dim = dim
        self.spec = PipelineSpec(
            stages=[
                {"type": "parse", "engine": "sql"},
                {"type": "enrich", "dim": spark.createDataFrame(dim)},
                {"type": "derive"},
                {"type": "route"},
            ]
        )

    # -- input (untimed) ------------------------------------------------
    def write_input(self, d: gen.Docs, path: str) -> None:
        gen.write_parquet(gen.pages_table(d), path)

    # -- the batch --------------------------------------------------------
    def pages(self, b: Batch) -> DataFrame:
        """The batch's input as the pages columns the pipeline reads."""
        return self.spark.read.parquet(b.input_dir)

    def routed(self, b: Batch, stages: int = 4) -> DataFrame:
        return PipelineSpec(stages=self.spec.stages[:stages]).build(self.pages(b), self.spark)

    def source_prefixes(self, b: Batch) -> list[tuple[str, DataFrame]]:
        return [("sources.scan", self.spark.read.parquet(b.input_dir).select(*PAGES_READ))]

    def prefixes(self, b: Batch) -> list[tuple[str, DataFrame]]:
        """Cumulative prefixes of the batch's layer calls, for the traced
        run's self-time differencing."""
        return [
            *self.source_prefixes(b),
            ("operators.parse", self.routed(b, 1)),
            ("operators.enrich", self.routed(b, 3)),  # enrich + derive
            ("operators.route", self.routed(b, 4)),
        ]

    def submit(self, b: Batch, tr: Tracer) -> None:
        raise NotImplementedError

    def check(self, b: Batch) -> list[str]:
        raise NotImplementedError

    def sink_counters(self, b: Batch) -> dict[str, float]:
        """Counts read from the batch's sink for the traced run."""
        raise NotImplementedError


class PagesRollup(Workload):
    name = "pages_rollup"
    stream = gen.STREAM_PAGES
    batch_docs = 50_000
    rollup = True
    keys = ["sink", "geo", "svc", "domain"]

    def submit(self, b: Batch, tr: Tracer) -> None:
        with tr.span("plans.pipeline.build", b.index):
            routed = self.routed(b)
        with scoped_intermediates():
            with tr.span("operators.aggregate", b.index):
                out = interval_rollup_union(routed, keys=self.keys)
                out.write.mode("overwrite").parquet(b.out_dir)

    def check(self, b: Batch) -> list[str]:
        return truth.check_rollup(
            truth.read_rollup(b.out_dir, self.keys), truth.truth_frame(b.docs, self.dim), self.keys
        )

    def sink_counters(self, b: Batch) -> dict[str, float]:
        rows = truth.read_rollup(b.out_dir, self.keys)
        return {"groups_1m": float((rows["metricset_interval"] == "1m").sum())}


class OtlpIntake(PagesRollup):
    name = "otlp_intake"
    stream = gen.STREAM_OTLP
    batch_docs = 40_000
    keys = ["sink", "geo"]

    def write_input(self, d: gen.Docs, path: str) -> None:
        gen.write_parquet(gen.otlp_table(d), path)

    def pages(self, b: Batch) -> DataFrame:
        """Decode the request bodies and project the records onto the
        pages columns: body is the log line, the url and language ride as
        attributes."""
        rec = decode_otlp_logs_protobuf(self.spark.read.parquet(b.input_dir))
        return rec.select(
            F.col("attributes")["url.full"].alias("url"),
            F.timestamp_micros(F.expr("time_unix_nano div 1000")).alias("warc_ts"),
            F.col("body").alias("text"),
            F.col("attributes")["page.lang"].alias("lang"),
        )

    def source_prefixes(self, b: Batch) -> list[tuple[str, DataFrame]]:
        return [
            ("sources.scan", self.spark.read.parquet(b.input_dir).select("body")),
            ("sources.otlp.decode", self.pages(b)),
        ]


class SinkFanout(Workload):
    name = "sink_fanout"
    stream = gen.STREAM_FANOUT
    batch_docs = 50_000
    rollup = False

    def submit(self, b: Batch, tr: Tracer) -> None:
        with tr.span("plans.pipeline.build", b.index):
            routed = self.routed(b)
        with scoped_intermediates():
            with tr.span("plans.sinks.write", b.index):
                write_fanout(routed, b.out_dir)
            with tr.span("plans.sinks.lineage", b.index):
                append_lineage(self.spark, lineage_rows(routed, run_id=f"batch-{b.index}"), b.out_dir)

    def check(self, b: Batch) -> list[str]:
        return truth.check_fanout(
            os.path.join(b.out_dir, "fanout"),
            os.path.join(b.out_dir, "_lineage"),
            truth.truth_frame(b.docs, self.dim),
        )

    def sink_counters(self, b: Batch) -> dict[str, float]:
        fanout = os.path.join(b.out_dir, "fanout")
        return {"files_written": float(sum(f.endswith(".parquet") for _, _, fs in os.walk(fanout) for f in fs))}


WORKLOADS = {w.name: w for w in (PagesRollup, OtlpIntake, SinkFanout)}
