"""The benchmark's workloads. Each is a closed loop with one client: the next
op starts when the previous one returns.

A workload has

- ``setup()``: untimed fixture builds (counted in ``setup_s``);
- ``check(log)``: the correctness pass, which also warms the session up;
- ``prepare()`` / ``run_pass(state, log, tracer)`` / ``verify(state, spans)``:
  one timed pass, with untimed preparation before it and untimed checks
  after it; a traced pass's ``verify`` gets the pass's spans and also
  returns the per-pass facts the per-layer metrics need;
- ``traced()``: the public functions a traced pass wraps in spans;
- ``NOMINAL_PASS_S``: a warm pass's wall time on a 4-core host, which sets
  how many passes a run of ``--seconds`` makes;
- ``TRACED_PASSES``: the fewest passes of a traced run (U T U ...).

Checks are ``(name, ok, detail)`` tuples; every failed one counts in
``failed``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans import (
    kv_datasource,
    kvstore,
    ledger,
    pipeline,
)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import io

from check import duck, frame_hash, kpi_items_sql, oracle_sql, query_fn, sql_hash, value_hash
from gen import Inputs

KPI_COLS = ["date", "genre", "listen_count", "unique_listeners",
            "total_listening_time", "avg_listen_time_per_user"]


@dataclass
class Context:
    spark: object
    inputs: Inputs
    work: str               # per-invocation scratch directory
    seed: int
    traced: bool            # the run has traced passes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files_under(*dirs: str) -> list[str]:
    """Data files (not Spark's _SUCCESS / .crc markers) below ``dirs``."""
    out = []
    for d in dirs:
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs
                    if not f.startswith(("_", ".")) and not f.endswith(".crc")]
    return out


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest:
    """``Pipeline.run_all`` over a fresh copy of the generated drop. An op is
    one file through ``Pipeline.run_once``."""

    name = "ingest"
    DROP = True
    NOMINAL_PASS_S = 29.0
    #: U T: a third pass would take a traced run to about 150 s on a slow
    #: host, too close to the per-run limit of 180 s
    TRACED_PASSES = 2

    POINT_READS = 200

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rows_per_pass = ctx.inputs.good_rows + ctx.inputs.bad_rows
        self._passes = 0
        self._orig_run_once = pipeline.Pipeline.run_once

    def setup(self) -> list:
        con = duck(self.ctx.inputs.tables_dir)
        self.expected_kpis = sql_hash(con, kpi_items_sql())
        items = con.execute(kpi_items_sql()).fetchall()
        # the pipeline's top-k settings are the registry queries' k
        self.expected_items = len(items) + sum(
            sql_hash(con, oracle_sql(q))[0]
            for q in ("top_songs_per_genre", "top_genres_per_day"))
        con.close()
        rng = random.Random(self.ctx.seed)
        self.point_keys = [rng.choice(items) for _ in range(self.POINT_READS)]
        if self.ctx.traced:
            self.ctx.spark.dataSource.register(kv_datasource.KVStoreDataSource)
        return []

    # one pass -------------------------------------------------------------
    def prepare(self) -> str:
        self._passes += 1
        base = os.path.join(self.ctx.work, f"lake{self._passes}")
        shutil.copytree(os.path.join(self.ctx.inputs.drop_dir, "raw"),
                        os.path.join(base, "raw"))
        return base

    def run_pass(self, base: str, log, tracer=None) -> None:
        pipe = pipeline.Pipeline(self.ctx.spark, pipeline.PipelineConfig(base))
        orig = self._orig_run_once

        def run_once(p):
            with log.op("run_once") as rec:
                done = orig(p)
                rec["discard"] = done is None
            return done

        pipeline.Pipeline.run_once = run_once
        try:
            pipe.run_all()
        finally:
            pipeline.Pipeline.run_once = orig

    def verify(self, base: str, spans: list | None = None) -> tuple[list, dict]:
        """The pass's correctness checks. A traced pass (``spans`` given)
        also checks the good/bad split ``validate_batch`` returned, reads
        the KV store back through the KV data source and point reads
        (timed: the read-side KV layers) and counts what the pass wrote."""
        cfg = pipeline.PipelineConfig(base)
        store = kvstore.KVStore(cfg.kv_path)
        items = [tuple(it[c] for c in KPI_COLS)
                 for it in store.scan(pipeline.KPI_TABLE)]
        got = (len(items), value_hash(KPI_COLS, items))
        bad_dir = os.path.join(base, "bad-records", "streams")
        quarantined = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{bad_dir}/*.parquet')"
        ).fetchone()[0] if os.path.isdir(bad_dir) else 0
        names = {os.path.basename(p) for p in self.ctx.inputs.stream_files}
        entries = {e["filename"]: e["status"] for e in ledger.Ledger(store).entries()}
        left = os.listdir(cfg.raw_streams)
        n_items = sum(store.count(t) for t in (
            pipeline.KPI_TABLE, pipeline.TOP_SONGS_TABLE, pipeline.TOP_GENRES_TABLE))
        checks = [
            ("kpi_items_match_duckdb", got == self.expected_kpis,
             f"{got[0]} items vs {self.expected_kpis[0]} expected"),
            ("quarantine_rows_equal_injected",
             quarantined == self.ctx.inputs.bad_rows,
             f"{quarantined} vs {self.ctx.inputs.bad_rows}"),
            ("every_file_processed",
             entries == dict.fromkeys(names, ledger.STATUS_PROCESSED),
             f"{sorted(entries.items())}"),
            ("raw_dir_empty", left == [], f"{left}"),
            ("kv_items_equal_expected", n_items == self.expected_items,
             f"{n_items} vs {self.expected_items}"),
        ]
        if spans is None:
            return checks, {}

        split = [sum(s.info.get(k, 0) for s in spans
                     if s.name == "plans.pipeline.validate_batch") for k in ("good", "bad")]
        want_split = [self.ctx.inputs.good_rows, self.ctx.inputs.bad_rows]
        checks.append(("validate_split_equals_injected", split == want_split,
                       f"good/bad {split} vs {want_split}"))

        t0 = time.perf_counter()
        scanned = frame_hash(self._kv_scan(cfg.kv_path))
        t1 = time.perf_counter()
        points = [store.get_item(pipeline.KPI_TABLE, k[0], k[1]) for k in self.point_keys]
        t2 = time.perf_counter()
        want = [dict(zip(KPI_COLS, k)) for k in self.point_keys]
        checks += [
            ("kv_datasource_scan_matches_duckdb", scanned == self.expected_kpis,
             f"{scanned[0]} rows vs {self.expected_kpis[0]} expected"),
            ("kv_point_reads_match", points == want,
             f"{sum(g == w for g, w in zip(points, want))}/{len(want)} items"),
        ]
        written = _files_under(cfg.validated_dir, cfg.processed_dir,
                               os.path.join(base, "bad-records"))
        facts = {
            "items_written": n_items,
            "db_bytes": sum(os.path.getsize(cfg.kv_path + sfx) for sfx in ("", "-wal")
                            if os.path.exists(cfg.kv_path + sfx)),
            "files_written": len(written),
            "bytes_written": sum(os.path.getsize(f) for f in written),
            "input_files": len(self.ctx.inputs.stream_files),
            "input_bytes": self.ctx.inputs.drop_bytes,
            "kv_scan_s": t1 - t0,
            "kv_get_batch_s": t2 - t1,
        }
        return checks, facts

    def cleanup(self, base: str) -> None:
        shutil.rmtree(base, ignore_errors=True)

    def check(self, log) -> list:
        """Warm-up: the first file of a fresh copy through ``run_once`` and,
        when traced passes will time it, one read of it through the KV data
        source (whose first use starts its Python worker). A session's first
        file takes about three times a warm one, the next about 1.2 times.
        The correctness checks run after every timed pass instead."""
        base = self.prepare()
        cfg = pipeline.PipelineConfig(base)
        pipeline.Pipeline(self.ctx.spark, cfg).run_once()
        if self.ctx.traced:
            self._kv_scan(cfg.kv_path).collect()
        self.cleanup(base)
        return []

    def _kv_scan(self, kv_path: str):
        return (self.ctx.spark.read.format("kvstore").option("path", kv_path)
                .option("table", pipeline.KPI_TABLE).load())

    def traced(self):
        def validated(span, result):
            good, bad = result[1]["streams"]
            span.info.update(good=good, bad=bad)

        P, L = pipeline.Pipeline, ledger.Ledger
        return [
            (P, "validate_batch", "plans.pipeline.validate_batch", validated),
            (P, "transform", "plans.pipeline.transform", None),
            (P, "load_kv", "plans.pipeline.load_kv", None),
            (L, "try_claim", "plans.ledger.claim", None),
            (L, "mark_processed", "plans.ledger.mark", None),
            (io, "archive_files", "sources.io.archive", None),
        ]


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------

class QueryOp:
    """A registered query: ``build`` returns its DataFrame (the build
    layer), which a timed pass executes to the ``noop`` sink."""

    def __init__(self, name, build):
        self.name, self.build = name, build

    def run(self, tracer) -> None:
        if tracer is None:
            _noop(self.build())
            return
        with tracer.open("query.build") as sp:
            df = self.build()
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        sp.info["analysis_ms"] = phase.get().durationMs() if phase.isDefined() else 0
        tracer.span("query.exec", _noop, df)


class LLMDedup:
    """Near-duplicate and tokenizer queries over the generated corpus: the
    shuffle-heavy self-joins and the size-routed paths (postings vs dense
    BoW tiles, driver-side cluster and vocabulary routing). One pass runs
    each query once.

    Three of the eight near-dup and tokenizer queries fit a run's time
    budget on 4 cores. Left out, with their warm seconds over 5,000
    documents: ``ann_recall_eval`` (9.9), ``semantic_dedup_survivors``
    (5.3), ``neardup_minhash_pairs`` (4.5) and ``docs_remove_dup_spans``
    (3.9), which have no size-routed path, and ``neardup_jaccard_pairs``
    (4.3), whose trigram Jaccard join ``dedup_clusters`` runs as its first
    stage."""

    name = "llm_dedup"
    DROP = False
    NOMINAL_PASS_S = 10.0
    TRACED_PASSES = 3
    QUERIES = ["dedup_clusters", "neardup_bow_cosine_pairs", "bpe_initial_pair_counts"]

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rows_per_pass = 0

    def setup(self) -> list:
        self.con = duck(self.ctx.inputs.tables_dir)
        self.rows_per_pass = self.con.execute(
            "SELECT count(*) FROM documents").fetchone()[0]
        self.ops = [QueryOp(n, self._builder(n)) for n in self.QUERIES]
        # The oracles run on a thread of their own (DuckDB releases the
        # GIL) while the check pass warms the session up.
        pool = ThreadPoolExecutor(1)
        self.oracles = {n: pool.submit(sql_hash, self.con, oracle_sql(n))
                        for n in self.QUERIES}
        pool.shutdown(wait=False)
        return []

    def _builder(self, name: str):
        fn, spark, tables = query_fn(name), self.ctx.spark, self.ctx.inputs.tables_dir
        return lambda: fn(spark, tables)

    def check(self, log) -> list:
        """Each query's collected result against its registry oracle."""
        out = []
        for op in self.ops:
            try:
                with log.op(op.name):
                    got = frame_hash(op.build())
                want = self.oracles[op.name].result()
                ok, detail = got == want, f"{got[0]} rows vs {want[0]} oracle rows"
            except Exception as e:  # noqa: BLE001 — a failed query is a failed check
                log.error(op.name, e)
                ok, detail = False, f"{type(e).__name__}: {e}"
            out.append((op.name, ok, detail))
        return out

    def prepare(self):
        return None

    def run_pass(self, state, log, tracer=None) -> None:
        for op in self.ops:
            try:
                with log.op(op.name):
                    op.run(tracer)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                log.error(op.name, e)

    def verify(self, state, spans: list | None = None) -> tuple[list, dict]:
        return [], {}

    def cleanup(self, state) -> None:
        pass

    def traced(self):
        return []


WORKLOADS = {w.name: w for w in (Ingest, LLMDedup)}
