"""The benchmark's workloads.

Each workload is a fixed cycle of ops. The measured loop runs whole
cycles until the run's time is up, so every run times the same mix. Before
the measured loop, one untimed pass runs every op once and checks its
output; that pass also warms the JVM, the Python workers and the plan
caches, so the timed ops measure steady state.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import threading
from dataclasses import dataclass, field
from functools import partial
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import duckdb
import numpy as np

from perfbench import datagen


@dataclass
class Op:
    """One timed unit of work; ``check`` is untimed and raises on a wrong output."""

    name: str
    run: object  # (op_id) -> result
    check: object = None  # (result) -> None


@dataclass
class Context:
    spark: object
    work: Path
    seed: int
    recorder: object  # trace.SpanRecorder, or None in untraced runs
    extras: dict = field(default_factory=dict)  # workload-level samples


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# --- order-insensitive result fingerprint (the oracle check) -------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(df) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, hash of the sorted stringified rows)."""
    cols = tuple(sorted(df.columns))
    rows = sorted("|".join(_cell(v) for v in r) for r in df[list(cols)].itertuples(index=False))
    return len(df), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_connection(sf_dir: Path):
    from nzwirelessmap_fetch_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def write_inputs(ctx: Context, sf: float) -> Path:
    """Seeded parquet inputs for one run, under the run's work dir."""
    tables = datagen.permute(datagen.make_tables(sf), ctx.seed)
    return datagen.write_parquet_dir(tables, ctx.work / "data")


# --- registry workloads ---------------------------------------------------


class RegistryWorkload:
    """Registry entries, each op building the entry's plan and running it
    into the no-op sink. Job groups split each op into its ``build`` phase
    (the registry function, including jobs it issues eagerly) and its
    ``action`` phase (the sink write)."""

    name = ""
    sf = 0.0
    entries: tuple[str, ...] = ()
    warmup_cycles = 0

    def setup(self, ctx: Context) -> None:
        from nzwirelessmap_fetch_spark.plans import registry

        self.sf_dir = write_inputs(ctx, self.sf)
        queries = registry.queries()
        missing = [e for e in self.entries if e not in queries]
        if missing:
            raise KeyError(f"registry has no entries {missing}")
        self.fns = {e: queries[e] for e in self.entries}
        self.oracles = registry.oracle_sql()

    def input_dir(self, ctx: Context, cycle: int) -> str:
        return str(self.sf_dir)

    def _run(self, ctx: Context, entry: str, sf_dir: str, op_id: str) -> None:
        sc = ctx.spark.sparkContext
        sc.setJobGroup(f"{op_id}:build", entry)
        df = _span(ctx, "plans.build_s", self.fns[entry], ctx.spark, sf_dir)
        sc.setJobGroup(f"{op_id}:action", entry)
        _span(ctx, "exec.action_s", df.write.format("noop").mode("overwrite").save)

    def cycle(self, ctx: Context, cycle: int) -> list[Op]:
        sf_dir = self.input_dir(ctx, cycle)
        return [
            Op(entry, partial(self._run, ctx, entry, sf_dir))
            for entry in self.entries
        ]

    def check_pass(self, ctx: Context) -> list[Op]:
        """Each entry once, hash-checked against its DuckDB oracle (rows
        only when it has none)."""
        con = oracle_connection(self.sf_dir)
        sf_dir = self.input_dir(ctx, -1)

        def run(entry, op_id):
            return self.fns[entry](ctx.spark, sf_dir).toPandas()

        def check(entry, got):
            sql = self.oracles.get(entry)
            if sql is None:
                return
            want = con.execute(sql).df()
            a, b = fingerprint(got), fingerprint(want)
            if a != b:
                raise AssertionError(f"{entry}: spark {a[:2]} != oracle {b[:2]} or values differ")

        return [Op(e, partial(run, e), partial(check, e)) for e in dict.fromkeys(self.entries)]

    def after_op(self, ctx: Context) -> None:
        ctx.spark.catalog.clearCache()

    def teardown(self, ctx: Context) -> None:
        pass

    def report(self, ctx: Context) -> dict[str, tuple[float, str]]:
        return {}


def _span(ctx: Context, name: str, fn, *args):
    if ctx.recorder is None:
        return fn(*args)
    return ctx.recorder.call(name, fn, *args)


class LlmOps(RegistryWorkload):
    """Job-heavy operator entries, a memoized-substrate consumer, and one
    streaming entry so the streaming layer is measured too.

    Every cycle reads its inputs through a fresh path alias, so the memo
    substrates (keyed on the input path) are rebuilt once per cycle: the
    first ``dedup_ngram_jaccard`` of a cycle pays the verified-pair build,
    the second is a memo hit."""

    name = "llm_ops"
    sf = 0.001
    entries = (
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard",
        "graph_louvain_two_level",
        "multimodal_phash_dedup",
        "stream_complete_totals",
    )

    def input_dir(self, ctx: Context, cycle: int) -> str:
        alias = ctx.work / f"data_alias{cycle + 1}"
        if not alias.exists():
            alias.symlink_to(self.sf_dir.resolve(), target_is_directory=True)
        return str(alias)


# --- the paper's job ----------------------------------------------------------


class _QuietHandler(SimpleHTTPRequestHandler):
    def log_message(self, *args) -> None:
        pass


class EtlPrism:
    """``run_pipeline_from_url`` against a seeded SQLite landing artifact
    served over local HTTP, each op into a fresh out root, followed by an
    idempotent re-run that must skip."""

    name = "etl_prism"
    sf = 0.002
    # the JIT keeps speeding the pipeline up for several runs after the first
    warmup_cycles = 2

    def setup(self, ctx: Context) -> None:
        from nzwirelessmap_fetch_spark.pipeline import DB_MEMBER
        from nzwirelessmap_fetch_spark.plans.flagship import FLAGSHIP_ORACLE_SQL

        tables = datagen.permute(datagen.make_tables(self.sf), ctx.seed)
        landing = ctx.work / "landing"
        landing.mkdir(parents=True, exist_ok=True)
        www = ctx.work / "www"
        www.mkdir(exist_ok=True)
        db = datagen.write_sqlite(tables, landing / DB_MEMBER)
        self.zip_path = datagen.write_zip(db, DB_MEMBER, www / "prism.zip")
        self.last_modified = datagen.last_modified_for(ctx.seed)
        datagen.stamp_mtime(self.zip_path, self.last_modified)
        self.version = self.last_modified.strftime("%Y-%m-%dT%H:%M:%SZ")
        self.source_bytes = self.zip_path.stat().st_size

        sf_dir = datagen.write_parquet_dir(
            {t: tables[t] for t in datagen.FLAGSHIP_TABLES}, ctx.work / "data")
        con = duckdb.connect()
        for t in datagen.FLAGSHIP_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.expected_rows = con.execute(f"SELECT count(*) FROM ({FLAGSHIP_ORACLE_SQL})").fetchone()[0]
        con.close()

        self.server = ThreadingHTTPServer(
            ("127.0.0.1", 0), partial(_QuietHandler, directory=str(www)))
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/prism.zip"
        self.n_ops = 0
        ctx.extras.setdefault("rerun_skip_s", [])
        ctx.extras.setdefault("stored_bytes_per_source_byte", [])

    def _op(self, ctx: Context) -> Op:
        import time

        from nzwirelessmap_fetch_spark.pipeline import ARTIFACT_JSON, run_pipeline_from_url

        self.n_ops += 1
        root = ctx.work / "etl" / f"op{self.n_ops}"
        out, staging = root / "out", root / "staging"

        def run(op_id):
            return run_pipeline_from_url(ctx.spark, self.url, staging, out)

        def check(report):
            t0 = time.perf_counter()
            again = run_pipeline_from_url(ctx.spark, self.url, root / "staging2", out)
            ctx.extras["rerun_skip_s"].append(time.perf_counter() - t0)
            try:
                if report["skipped"] or report["version"] != self.version:
                    raise AssertionError(f"first run skipped or mis-versioned: {report}")
                if report["rows"] != self.expected_rows:
                    raise AssertionError(
                        f"pipeline rows {report['rows']} != oracle {self.expected_rows}")
                with open(out / ARTIFACT_JSON / self.version) as f:
                    records = json.load(f)
                if len(records) != self.expected_rows or not all(
                        isinstance(v, str) for r in records for v in r.values()):
                    raise AssertionError("JSON artifact is not the all-string result")
                if not again["skipped"] or again["version"] != self.version:
                    raise AssertionError(f"re-run did not skip: {again}")
                written = _dir_bytes(out)
                if ctx.recorder is not None:
                    ctx.recorder.add("sinks.bytes_written", written)
                ctx.extras["stored_bytes_per_source_byte"].append(written / self.source_bytes)
            finally:
                shutil.rmtree(root, ignore_errors=True)

        return Op("run_pipeline_from_url", run, check)

    def cycle(self, ctx: Context, cycle: int) -> list[Op]:
        return [self._op(ctx)]

    def check_pass(self, ctx: Context) -> list[Op]:
        return [self._op(ctx)]

    def after_op(self, ctx: Context) -> None:
        pass

    def teardown(self, ctx: Context) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)

    def report(self, ctx: Context) -> dict[str, tuple[float, str]]:
        from perfbench.stats import median

        return {
            "rerun_skip_s": (median(ctx.extras["rerun_skip_s"]), "s"),
            "stored_bytes_per_source_byte": (
                median(ctx.extras["stored_bytes_per_source_byte"]), "ratio"),
        }


WORKLOADS = {w.name: w for w in (EtlPrism, LlmOps)}
