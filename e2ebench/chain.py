"""The chain pipeline every EVM workload drives, with its tracing hooks.

``LocalReplayProvider.start_stream`` (sources) replays the generated chain
through a topic0 ``EvmQuery`` in cursor windows; ``run_continuous``
(streaming) pushes each window through ``EVM_DECODE_EVENTS`` ->
``JOIN_BLOCK_DATA`` -> ``HEX_ENCODE`` (plans, operators) into a writer
(writers). The traced run wraps the calls into each layer in spans:

- ``sources.start_stream``: pulling the next window from the provider;
- ``plans.process_steps``: the step chain, bracketed by two identity
  ``CUSTOM`` steps (building the lazy plan; no Spark job runs here);
- ``sources.scan_exec`` / ``operators.exec``: noop materialization of the
  raw window and of the processed batch, added by the traced run because
  Spark plans lazily; operator time is the second minus the first. The
  rows the scan read are the input records Spark counted for the stages
  of ``sources.scan_exec`` (what survives file and row-group pruning), the
  rows it selected are the window's row count;
- ``writers.push_data``: the writer's own call;
- ``trace.count``: row counts the traced run needs, outside every layer.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import functions as F

from cherry_spark.model import EvmQuery, LogRequest
from cherry_spark.plans import (
    EvmDecodeEventsConfig,
    HexEncodeConfig,
    JoinBlockDataConfig,
    Pipeline,
    Step,
    StepKind,
)
from cherry_spark.sources.providers import LocalReplayProvider
from cherry_spark.streaming import run_continuous
from cherry_spark.writers import DataWriter
from gen_chain import TRANSFER_TOPIC0
from spans import Tracer

TRANSFER_SIG = "Transfer(address indexed from, address indexed to, uint256 amount)"


def transfer_query(lo: int, hi: int) -> EvmQuery:
    # every block of the range is kept, so the anchor table ends on the
    # last block and the resume cursor can be checked against it
    return EvmQuery(
        from_block=lo,
        to_block=hi,
        logs=[LogRequest(topic0=[TRANSFER_TOPIC0])],
        include_all_blocks=True,
    )


def chain_steps() -> list[Step]:
    return [
        Step(
            StepKind.EVM_DECODE_EVENTS,
            EvmDecodeEventsConfig(
                TRANSFER_SIG,
                input_table="logs",
                output_table="transfers",
                allow_decode_fail=True,
                engine="native",
            ),
        ),
        Step(StepKind.JOIN_BLOCK_DATA, JoinBlockDataConfig(tables=["transfers"])),
        Step(StepKind.HEX_ENCODE, HexEncodeConfig()),
    ]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's checksum/marker files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@dataclass
class LayerCounts:
    """Counts the traced run takes at the layer boundaries."""

    rows_scanned: int = 0
    rows_selected: int = 0
    rows_decoded: int = 0
    decode_fail_rows: int = 0
    rows_pushed: int = 0
    files_written: int = 0
    bytes_written: int = 0


class _TracedWriter(DataWriter):
    """Wraps the sink: materializes the window under its layer spans,
    counts rows, then pushes under ``writers.push_data``."""

    def __init__(self, inner: DataWriter, run: ChainRun):
        self.inner = inner
        self.anchor_table = inner.anchor_table
        self.run = run

    def push_data(self, batch) -> None:
        run, tr = self.run, self.run.tracer
        i = run.pushed
        raw = run.raw_batches.pop(0)
        with tr.span("sources.scan_exec", f"w{i}") as scan:
            for df in raw.values():
                noop(df)
        with tr.span("operators.exec", f"w{i}"):
            for df in batch.values():
                noop(df)
        c = run.counts
        c.rows_scanned += scan.input_records
        with tr.span("trace.count", f"w{i}"):
            c.rows_selected += sum(df.count() for df in raw.values())
            ok, total = batch["transfers"].agg(F.count("amount"), F.count(F.lit(1))).first()
            c.rows_decoded += ok
            c.decode_fail_rows += total - ok
            c.rows_pushed += sum(df.count() for df in batch.values())
        before = dir_usage(run.sink_dir)
        with tr.span("writers.push_data", f"w{i}"):
            self.inner.push_data(batch)
        after = dir_usage(run.sink_dir)
        c.files_written += after[0] - before[0]
        c.bytes_written += after[1] - before[1]


class ChainRun:
    """One ``run_continuous`` call over the windows of ``[lo, hi]``.

    ``pace(i)`` is called before window ``i`` is pulled from the provider;
    it may sleep until the window is due, and returns False to end the
    stream. ``commit_times`` holds ``perf_counter()`` after each window's
    ``push_data`` returned.
    """

    def __init__(self, spark, tracer: Tracer, tables, lo: int, hi: int, window: int,
                 writer: DataWriter, sink_dir: str, counts: LayerCounts | None = None,
                 pace: Callable[[int], bool] | None = None):
        self.spark, self.tracer, self.tables = spark, tracer, tables
        self.lo, self.hi, self.window = lo, hi, window
        self.writer, self.sink_dir = writer, sink_dir
        self.counts = counts if counts is not None else LayerCounts()
        self.pace = pace
        self.raw_batches: list = []
        self.pushed = 0
        self.commit_times: list[float] = []

    def _batches(self) -> Iterator:
        stream = LocalReplayProvider(self.tables).start_stream(
            self.spark, transfer_query(self.lo, self.hi), self.window
        )
        i = 0
        while self.pace is None or self.pace(i):
            with self.tracer.span("sources.start_stream", f"w{i}"):
                batch = next(stream, None)
            if batch is None:
                return
            yield batch
            i += 1

    def _on_batch(self, _n, _processed) -> None:
        self.commit_times.append(time.perf_counter())
        self.pushed += 1

    def run(self) -> int:
        steps = chain_steps()
        writer = self.writer
        if self.tracer.enabled:
            holder = {}

            def head(batch):
                holder["span"] = self.tracer.open("plans.process_steps", f"w{self.pushed}")
                self.raw_batches.append(batch)
                return batch

            def tail(batch):
                self.tracer.close(holder.pop("span"))
                return batch

            steps = [Step(StepKind.CUSTOM, head), *steps, Step(StepKind.CUSTOM, tail)]
            writer = _TracedWriter(writer, self)
        pipeline = Pipeline(source=None, steps=steps, writer=writer)
        with self.tracer.span("streaming.run_continuous"):
            return run_continuous(self.spark, pipeline, self._batches(), on_batch=self._on_batch)
