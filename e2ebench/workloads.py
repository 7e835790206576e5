"""The workloads. Each one generates its inputs from the seed, sets up
(warm-up plus any program-side preparation), runs operations for the
timed phase, checks every output, and turns what it saw into metrics.

Why these:

- ``chain_analytics``: reads beside the writes. A bounded historical
  backfill of the chain in a few large windows (row throughput of scan,
  decode and write dominates, the fixed cost per batch is small) lays down
  a parquet sink; one closed-loop client then runs a seeded query mix:
  ``datasets`` over narrow ranges of the raw parquet (query-model
  pushdown) and lookups, rollups and top-k over that sink, the only
  read-side use of the writers' layout. A layout change that costs the
  backfill but helps the reads, or the reverse, shows on both.
- ``doc_curation``: LLM-data dedup through ``ext`` (exact dedup, Gopher
  rules, MinHash-LSH, connected components), shuffle-heavy and sharing no
  code path with the chain workload.
- ``evm_tail``: following the chain head with small windows on an open-loop
  schedule into a transactional DuckDB sink, so fixed costs per batch (plan
  build, job scheduling, commit, small files) dominate, the opposite of
  the backfill. A window costs more than a second of 4-core time, so a run
  holds only a handful of samples; it is runnable by hand but not part of
  the repeated benchmark (see BENCHMARK.json).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import duckdb
from pyspark.sql import functions as F

import checks
import gen_chain
import gen_corpus
from chain import ChainRun, LayerCounts, dir_usage, noop
from cherry_spark import datasets
from cherry_spark.ext.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
)
from cherry_spark.ext.quality import gopher_rules
from cherry_spark.sources.tables import load_table, read_tables
from cherry_spark.streaming import read_resume_cursor
from cherry_spark.writers.duckdb_writer import DuckDbWriter, DuckDbWriterConfig
from cherry_spark.writers.parquet_writer import ParquetWriter, ParquetWriterConfig
from metrics import percentile
from spans import Tracer

# Sizes. On 4 cores a backfill window costs about 1.2-1.7 s whatever its
# size (a 1-block window) plus about 11 us per raw log, so a 750-block
# window (about 240k logs at mainnet density, see gen_chain) spends about
# two thirds of its time on rows. A warm curation pass costs about
# 9-12 s fixed plus about 1.8 ms per document, so the ~8k-document corpus
# spends 55-60% of it on rows.
CHAIN_BLOCKS = 1500
BACKFILL_WINDOW = 750
TAIL_WINDOW = 25
# windows per second; a window commits in about 3 s on 4 cores, so the
# loop is idle about half the time
TAIL_RATE = 1 / 6
QUERY_BLOCKS = 20
TOPK = 10
# every run holds at least this many whole rounds of the query mix, so the
# sample count behind the median does not change with how many rounds fit
# into --seconds on a faster or slower host
MIN_QUERY_ROUNDS = 3
CORPUS_SINGLETONS = 4000
# the warm-up pass runs on a corpus of its own, this small: a cold pass
# over the full corpus would cost more than the timed pass
WARMUP_SINGLETONS = 500


class Phase:
    """What one timed (or traced) phase saw."""

    def __init__(self):
        self.latencies_ms: list[float] = []
        self.rates: list[float] = []  # work items per second, one per rate sample
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.elapsed = 0.0
        self.extra: dict = {}

    def fail(self, problems: list[str], ops: int = 1) -> None:
        if problems:
            self.failed += ops
            self.problems.extend(problems)


class Workload:
    name = ""
    latency_of = ""  # what one latency sample is
    # the names and unit the summary gives this workload's figures
    latency_name = ""
    throughput_name = ""
    throughput_unit = ""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.input_dir = os.path.join(work, "input")
        self.con = duckdb.connect()
        self.phases = 0

    def generate(self) -> dict:
        raise NotImplementedError

    def warmup(self, spark, tracer: Tracer) -> None:
        raise NotImplementedError

    def prepare(self, spark, tracer: Tracer) -> None:
        """Program-side preparation before the warm-up and the timed phase."""

    def phase(self, spark, tracer: Tracer, seconds: float) -> Phase:
        raise NotImplementedError

    def layers(self, tracer: Tracer, phases: list[Phase]) -> dict:
        """Layer metrics this workload exercises, from the traced last phase."""
        return {}

    def close(self) -> None:
        self.con.close()


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _push_stats(tracer: Tracer) -> dict:
    pushes = tracer.by_name("writers.push_data")
    if not pushes:
        return {}
    durs = [s.duration for s in pushes]
    return {
        "writers.push_data_p50_s": statistics.median(durs),
        "writers.push_data_p90_s": percentile(durs, 90),
        "writers.push_data_samples": len(durs),
        "writers.spark_jobs_per_push": sum(s.jobs for s in pushes) / len(pushes),
        "writers.spark_stages_per_push": sum(s.stages for s in pushes) / len(pushes),
    }


def _chain_layers(tracer: Tracer, counts: LayerCounts) -> dict:
    def total(name):
        return sum(s.duration for s in tracer.by_name(name))

    out = {
        "sources.start_stream_s": total("sources.start_stream"),
        "sources.scan_exec_s": total("sources.scan_exec"),
        "sources.rows_scanned": counts.rows_scanned,
        "sources.rows_selected": counts.rows_selected,
        "sources.selectivity": counts.rows_selected / counts.rows_scanned if counts.rows_scanned else 0.0,
        "plans.process_steps_s": total("plans.process_steps"),
        "operators.exec_s": total("operators.exec") - total("sources.scan_exec"),
        "operators.rows_decoded": counts.rows_decoded,
        "operators.decode_fail_rows": counts.decode_fail_rows,
        "operators.decode_ok_ratio": counts.rows_decoded / (counts.rows_decoded + counts.decode_fail_rows)
        if counts.rows_decoded + counts.decode_fail_rows else 0.0,
        "writers.files_written": counts.files_written,
        "writers.bytes_per_row": counts.bytes_written / counts.rows_pushed if counts.rows_pushed else 0.0,
        "streaming.read_resume_cursor_s": total("streaming.read_resume_cursor"),
        "streaming.batches": len(tracer.by_name("writers.push_data")),
    }
    out.update(_push_stats(tracer))
    return out


class _ChainWorkload(Workload):
    def generate(self) -> dict:
        self.truth = gen_chain.generate_chain(self.seed, CHAIN_BLOCKS, self.input_dir)
        self.lo, self.hi = self.truth.first_block, self.truth.last_block
        files, size = dir_usage(self.input_dir)
        return {"blocks": CHAIN_BLOCKS, "logs": sum(self.truth.logs), "files": files, "bytes": size}

    def _tables(self, spark, names=("blocks", "logs")):
        return read_tables(spark, self.input_dir, list(names))

    def _backfill(self, spark, tracer, sink: str, lo: int, hi: int, counts=None) -> ChainRun:
        writer = ParquetWriter(ParquetWriterConfig(path=sink, anchor_table="blocks"))
        run = ChainRun(spark, tracer, self._tables(spark), lo, hi, BACKFILL_WINDOW, writer, sink, counts)
        run.run()
        return run

    def _sink_stats(self, sink: str) -> dict:
        decoded, amount, fail = self.con.execute(
            f"SELECT count(amount), sum(amount), count(*) - count(amount) "
            f"FROM read_parquet('{_glob(os.path.join(sink, 'transfers'))}')"
        ).fetchone()
        return {"decoded": decoded, "amount_sum": int(amount or 0), "decode_fail": fail}


class EvmTail(_ChainWorkload):
    name = "evm_tail"
    latency_of = "freshness: a window's due time to its commit"
    latency_name = "tail_freshness"
    throughput_name = "tail_logs_committed_per_s"
    throughput_unit = "logs/s"

    def _db(self, tag: str) -> DuckDbWriter:
        path = os.path.join(self.work, f"tail_{tag}.duckdb")
        return DuckDbWriter(DuckDbWriterConfig(db_path=path, staging_dir=os.path.join(self.work, "stage")))

    def warmup(self, spark, tracer):
        writer = self._db("warm")
        ChainRun(spark, tracer, self._tables(spark), self.lo, self.lo + TAIL_WINDOW - 1,
                 TAIL_WINDOW, writer, writer.cfg.db_path).run()
        os.remove(writer.cfg.db_path)

    def phase(self, spark, tracer, seconds):
        ph = Phase()
        self.counts = LayerCounts()
        self.phases += 1
        writer = self._db(f"phase{self.phases}")
        due: list[float] = []
        starts: list[float] = []
        backlog: list[int] = []
        t0 = time.perf_counter()

        def pace(i: int) -> bool:
            d = t0 + i / TAIL_RATE
            if d >= t0 + seconds:
                return False
            wait = d - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            now = time.perf_counter()
            due.append(d)
            starts.append(now)
            backlog.append(int((now - t0) * TAIL_RATE) - i)
            return True

        run = ChainRun(spark, tracer, self._tables(spark), self.lo, self.hi, TAIL_WINDOW,
                       writer, writer.cfg.db_path, self.counts, pace)
        run.run()
        n = run.pushed
        ph.elapsed = run.commit_times[-1] - t0
        ph.latencies_ms = [(c - d) * 1e3 for d, c in zip(due, run.commit_times)]
        busy = sum(c - s for s, c in zip(starts, run.commit_times))
        ph.extra.update(
            windows=n,
            busy_share=busy / ph.elapsed,
            queue_wait_ms=[(s - d) * 1e3 for d, s in zip(due, starts)],
            backlog_max=max(backlog),
        )
        logs = self.truth.range_stats(self.lo, self.lo + n * TAIL_WINDOW - 1)["logs"]
        ph.rates.append(logs / ph.elapsed)
        ph.attempted = n
        per_window = self._per_window(writer.cfg.db_path)
        problems = checks.check_tail(self.truth, self.lo, TAIL_WINDOW, n, per_window)
        ph.fail(problems, max(1, sum(1 for p in problems if p.startswith("window"))))
        os.remove(writer.cfg.db_path)
        return ph

    def _per_window(self, db_path: str) -> dict[int, tuple]:
        con = duckdb.connect(db_path, read_only=True)
        try:
            blocks = dict(con.execute(
                f"SELECT (number - {self.lo}) // {TAIL_WINDOW}, count(*) FROM blocks GROUP BY 1"
            ).fetchall())
            transfers = {w: (n, ok) for w, n, ok in con.execute(
                f"SELECT (block_number - {self.lo}) // {TAIL_WINDOW}, count(*), count(amount) "
                f"FROM transfers GROUP BY 1"
            ).fetchall()}
        finally:
            con.close()
        return {w: (b, *transfers.get(w, (0, 0))) for w, b in blocks.items()}

    def layers(self, tracer, phases):
        out = _chain_layers(tracer, self.counts)
        ph = phases[-1]
        waits = ph.extra["queue_wait_ms"]
        out.update({
            "streaming.busy_share": ph.extra["busy_share"],
            "streaming.queue_wait_p90_ms": percentile(waits, 90),
            "streaming.backlog_max": ph.extra["backlog_max"],
        })
        return out


class ChainAnalytics(_ChainWorkload):
    """Reads beside the writes. The timed phase first backfills the whole
    chain into a parquet sink in ``BACKFILL_WINDOW``-block windows (the
    throughput sample: raw logs over the wall time of the loop, resume-cursor
    read included), then runs whole rounds of the query mix against that
    sink and the raw parquet for ``seconds`` (one latency sample per
    query)."""

    name = "chain_analytics"
    latency_of = "one query of the mix, built and collected"
    latency_name = "analytics_latency"
    throughput_name = "backfill_logs_per_s"
    throughput_unit = "logs/s"
    QUERIES = ("erc20_transfers", "address_appearances", "sink_lookup", "sink_rollup", "sink_topk")

    def prepare(self, spark, tracer):
        self.tables = self._tables(spark, ("blocks", "transactions", "logs"))
        self.raw = {n: _glob(os.path.join(self.input_dir, f"{n}.parquet")) for n in self.tables}

    def _use_sink(self, sink: str) -> None:
        self.sink = sink
        self.transfers_glob = _glob(os.path.join(sink, "transfers"))

    def warmup(self, spark, tracer):
        # one window of the same plan at half the timed size, so the timed
        # pass runs compiled code
        sink = os.path.join(self.work, "warm_sink")
        self._backfill(spark, tracer, sink, self.lo, self.lo + BACKFILL_WINDOW // 2 - 1)
        read_resume_cursor(spark, os.path.join(sink, "blocks"), "number")
        self._use_sink(sink)
        # two rounds: the first round of a fresh session still runs slower
        for q, lo, hi, addr in self._mix(random.Random(f"warmup:{self.seed}"), 2 * len(self.QUERIES)):
            self._spark_query(spark, q, lo, hi, addr).collect()
        shutil.rmtree(sink)

    def _mix(self, rng: random.Random, n: int):
        """``n`` queries: every type once per round of five, in seeded order,
        so the mix does not drift with the seed."""
        order: list[str] = []
        for _ in range(n):
            if not order:
                order = rng.sample(self.QUERIES, len(self.QUERIES))
            lo = rng.randint(self.lo, self.hi - QUERY_BLOCKS + 1)
            addr = gen_chain.address(self.seed, int(gen_chain.N_ADDRESSES * rng.random() ** 3))
            yield order.pop(), lo, lo + QUERY_BLOCKS - 1, "0x" + addr.hex()

    def _spark_query(self, spark, q, lo, hi, addr):
        if q == "erc20_transfers":
            df = datasets.erc20_transfers(self.tables, lo, hi).select(
                "block_number", "log_index", "from", "to", "amount", "block_timestamp"
            )
        elif q == "address_appearances":
            df = datasets.address_appearances(self.tables, lo, hi)
        else:
            t = spark.read.parquet(os.path.join(self.sink, "transfers"))
            if q == "sink_lookup":
                df = t.filter((F.col("from") == addr) | (F.col("to") == addr)).select(
                    "block_number", "log_index", "amount"
                )
            elif q == "sink_rollup":
                df = t.groupBy(F.floor(F.col("block_timestamp") / 86400).alias("day")).agg(
                    F.count(F.lit(1)), F.sum("amount")
                )
            else:
                df = (
                    t.filter(F.col("from").isNotNull())
                    .groupBy("from")
                    .agg(F.sum("amount").alias("total"), F.count(F.lit(1)))
                    .orderBy(F.desc("total"), "from")
                    .limit(TOPK)
                )
        return df

    def _reference(self, q, lo, hi, addr):
        """The same answer from DuckDB over the same parquet; transfer
        payloads are decoded here in plain Python."""
        r = self.raw
        if q == "erc20_transfers":
            rows = self.con.execute(
                f"SELECT l.block_number, l.log_index, l.topic1, l.topic2, l.data, b.timestamp "
                f"FROM read_parquet('{r['logs']}') l LEFT JOIN read_parquet('{r['blocks']}') b "
                f"ON b.number = l.block_number "
                f"WHERE l.block_number BETWEEN ? AND ? AND l.topic0 = ?",
                [lo, hi, gen_chain.TRANSFER_TOPIC0],
            ).fetchall()
            out = []
            for bn, li, t1, t2, data, ts in rows:
                amount = int.from_bytes(data, "big") if data is not None and len(data) == 32 else None
                ok = t1 is not None and t2 is not None and amount is not None and amount < 10**38
                out.append((bn, li, t1[12:] if ok else None, t2[12:] if ok else None,
                            amount if ok else None, ts))
            return out
        if q == "address_appearances":
            return self.con.execute(
                f"""WITH a AS (
                    SELECT "from" AS address, block_number, 'tx_from' AS relationship
                      FROM read_parquet('{r['transactions']}') WHERE "from" IS NOT NULL
                    UNION ALL SELECT "to", block_number, 'tx_to'
                      FROM read_parquet('{r['transactions']}') WHERE "to" IS NOT NULL
                    UNION ALL SELECT address, block_number, 'log_emitter'
                      FROM read_parquet('{r['logs']}') WHERE address IS NOT NULL)
                SELECT address, relationship, count(*), min(block_number), max(block_number)
                FROM a WHERE block_number BETWEEN ? AND ? GROUP BY address, relationship""",
                [lo, hi],
            ).fetchall()
        t = f"read_parquet('{self.transfers_glob}')"
        if q == "sink_lookup":
            return self.con.execute(
                f'SELECT block_number, log_index, amount FROM {t} WHERE "from" = ? OR "to" = ?',
                [addr, addr],
            ).fetchall()
        if q == "sink_rollup":
            return self.con.execute(
                f"SELECT block_timestamp // 86400, count(*), sum(amount) FROM {t} GROUP BY 1"
            ).fetchall()
        return self.con.execute(
            f'SELECT "from", sum(amount) AS total, count(*) FROM {t} WHERE "from" IS NOT NULL '
            f'GROUP BY 1 ORDER BY total DESC, "from" LIMIT {TOPK}'
        ).fetchall()

    def phase(self, spark, tracer, seconds):
        ph = Phase()
        self.phases += 1
        t0 = time.perf_counter()
        self.counts = LayerCounts()
        sink = os.path.join(self.work, f"sink_{self.phases}")
        run = self._backfill(spark, tracer, sink, self.lo, self.hi, self.counts)
        with tracer.span("streaming.read_resume_cursor"):
            cursor = read_resume_cursor(spark, os.path.join(sink, "blocks"), "number")
        raw_logs = self.truth.range_stats(self.lo, self.hi)["logs"]
        ph.rates.append(raw_logs / (time.perf_counter() - t0))
        ph.attempted += run.pushed
        ph.fail(checks.check_backfill(self.truth, self.lo, self.hi, self._sink_stats(sink), cursor), run.pushed)
        self._use_sink(sink)

        self.by_type: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        self.files_per_lookup: list[int] = []
        mix = self._mix(random.Random(f"mix:{self.seed}:{self.phases}"), 1 << 30)
        t_end = time.perf_counter() + seconds
        # whole rounds only, so every run averages over the same mix
        n_min = MIN_QUERY_ROUNDS * len(self.QUERIES)
        while (time.perf_counter() < t_end or len(ph.latencies_ms) < n_min
               or len(ph.latencies_ms) % len(self.QUERIES)):
            q, lo, hi, addr = next(mix)
            layer = "datasets" if q in ("erc20_transfers", "address_appearances") else "writers"
            s = time.perf_counter()
            with tracer.span(f"{layer}.{q}", f"q{len(ph.latencies_ms)}"):
                rows = self._spark_query(spark, q, lo, hi, addr).collect()
            dt = (time.perf_counter() - s) * 1e3
            ph.latencies_ms.append(dt)
            self.by_type[q].append(dt)
            ph.attempted += 1
            ph.fail(checks.check_rows_equal(q, rows, self._reference(q, lo, hi, addr)))
            if tracer.enabled and q == "sink_lookup":
                with tracer.span("trace.count"):
                    df = self._spark_query(spark, q, lo, hi, addr)
                    self.files_per_lookup.append(df.select(F.input_file_name()).distinct().count())
        ph.extra["queries"] = len(ph.latencies_ms)
        shutil.rmtree(sink)
        return ph

    def layers(self, tracer, phases):
        def med(q):
            return statistics.median(self.by_type[q]) if self.by_type[q] else 0.0

        ds = [s for s in tracer.spans if s.name.startswith("datasets.")]
        out = _chain_layers(tracer, self.counts)
        out.update({
            "datasets.erc20_transfers_p50_ms": med("erc20_transfers"),
            "datasets.address_appearances_p50_ms": med("address_appearances"),
            "datasets.spark_jobs_per_call": sum(s.jobs for s in ds) / len(ds) if ds else 0.0,
            "writers.sink_lookup_p50_ms": med("sink_lookup"),
            "writers.sink_rollup_p50_ms": med("sink_rollup"),
            "writers.files_read_per_lookup": statistics.median(self.files_per_lookup)
            if self.files_per_lookup else 0.0,
        })
        return out


class DocCuration(Workload):
    name = "doc_curation"
    latency_of = "one curation pass"
    latency_name = "curation_pass"
    throughput_name = "curation_docs_per_s"
    throughput_unit = "docs/s"
    STAGES = ("exact_dedup", "gopher_rules", "minhash_signatures", "minhash_lsh_pairs", "connected_components")

    def generate(self) -> dict:
        self.truth = gen_corpus.generate_corpus(self.seed, CORPUS_SINGLETONS, self.input_dir)
        self.warmup_dir = os.path.join(self.work, "warmup_input")
        gen_corpus.generate_corpus(self.seed, WARMUP_SINGLETONS, self.warmup_dir)
        files, size = dir_usage(self.input_dir)
        return {"documents": self.truth.n_docs, "planted_pairs": len(self.truth.planted_pairs),
                "exact_groups": len(self.truth.exact_groups), "files": files, "bytes": size}

    def _pass(self, spark, tracer: Tracer, i: int, ph: Phase | None, input_dir: str) -> None:
        out = os.path.join(self.work, f"curated_{i}")
        traced = tracer.enabled
        cached = []

        def stage(name, df):
            """In the traced run only, materialize a stage boundary and keep
            it cached, so the next stage's span holds that stage's work alone."""
            if traced:
                df = df.persist()
                cached.append(df)
                with tracer.span(name, f"pass{i}"):
                    noop(df)
            return df

        docs = stage("sources.scan_exec", load_table(spark, input_dir, "documents"))
        d1 = stage("ext.exact_dedup", exact_dedup(docs, ["text"], order_by=[F.col("doc_id")]))
        gate = gopher_rules(d1).filter(F.col("keep") == 1).select("doc_id")
        d2 = stage("ext.gopher_rules", d1.join(gate, "doc_id", "left_semi"))
        if traced:
            stage("ext.minhash_signatures", minhash_signatures(d2))
        pairs = stage("ext.minhash_lsh_pairs", minhash_lsh_pairs(d2))
        with tracer.span("ext.connected_components", f"pass{i}"):
            cc = connected_components(pairs)
            labels = {r["id"]: r["cluster_id"] for r in cc.collect()}
        kept = (
            d2.join(cc, d2.doc_id == cc.id, "left")
            .filter(F.col("cluster_id").isNull() | (F.col("id") == F.col("cluster_id")))
            .select("doc_id", "text")
        )
        with tracer.span("writers.push_data", f"pass{i}"):
            ParquetWriter(ParquetWriterConfig(path=out)).push_data({"documents": kept})
        files, size = dir_usage(out)
        kept_ids = {r[0] for r in self.con.execute(
            f"SELECT doc_id FROM read_parquet('{_glob(os.path.join(out, 'documents'))}')"
        ).fetchall()}
        if traced:
            with tracer.span("trace.count"):
                self.counts = {
                    "writers.files_written": files,
                    "writers.bytes_per_row": size / max(1, len(kept_ids)),
                    "ext.docs_in": self.truth.n_docs,
                    "ext.docs_kept": len(kept_ids),
                    "ext.pairs_found": pairs.count(),
                    "ext.planted_pair_recall": checks.planted_recall(self.truth, labels),
                }
        if ph is not None:
            ph.fail(checks.check_curation(self.truth, kept_ids, labels))
        for df in cached:
            df.unpersist()
        shutil.rmtree(out)

    def warmup(self, spark, tracer):
        self._pass(spark, tracer, -1, None, self.warmup_dir)

    def phase(self, spark, tracer, seconds):
        ph = Phase()
        t_end = time.perf_counter() + seconds
        dt = 0.0
        # a pass takes seconds: start another only if it is expected to end in time
        while not ph.attempted or time.perf_counter() + dt < t_end:
            t0 = time.perf_counter()
            self._pass(spark, tracer, ph.attempted, ph, self.input_dir)
            dt = time.perf_counter() - t0
            ph.latencies_ms.append(dt * 1e3)
            ph.rates.append(self.truth.n_docs / dt)
            ph.attempted += 1
        return ph

    def layers(self, tracer, phases):
        def total(name):
            return sum(s.duration for s in tracer.by_name(name))

        # every stage reads its input from the cached stage before it;
        # minhash_lsh_pairs computes signatures again, so its own share is
        # its time minus that of minhash_signatures
        out = {f"ext.{n}_s": total(f"ext.{n}") for n in self.STAGES}
        out["ext.minhash_lsh_pairs_s"] -= out["ext.minhash_signatures_s"]
        scans = tracer.by_name("sources.scan_exec")
        ext = [s for s in tracer.spans if s.name.startswith("ext.")]
        out["sources.scan_exec_s"] = sum(s.duration for s in scans)
        out["sources.rows_scanned"] = sum(s.input_records for s in scans)
        out["sources.rows_selected"] = self.truth.n_docs * len(scans)
        out["sources.selectivity"] = out["sources.rows_selected"] / out["sources.rows_scanned"]
        out["ext.spark_jobs_per_stage"] = sum(s.jobs for s in ext) / len(ext) if ext else 0.0
        out.update(self.counts)
        out.update(_push_stats(tracer))
        return out


WORKLOADS = {w.name: w for w in (ChainAnalytics, DocCuration, EvmTail)}
