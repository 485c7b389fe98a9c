"""``query_mix``: the read-only analytics path.

One pass runs ``IDS``: three of bench.py's ``core18`` ids, one per
family the core18 set times (``operators/aggregates``,
``llm/similarity``, ``streaming/windows``), each reading its table
through ``sources.readers.load_table``, the scan layer.  Each id is
``QUERIES[id](spark, dir)`` followed by a ``noop`` write, as in
bench.py; the seed permutes the id order of every pass.  Closed loop,
one client.

The input is the fixture's tables these ids read, at sf0.01 sizes
(60k ``lineitem`` rows), generated from the seed and laid out in
contiguous row slices by bench.py's byte-proportional rule.  Once per
run, outside the timed region, every id's collected result is compared
with its ``oracle_sql()`` twin on DuckDB through
``tools/verify_local.py``'s canonicalizer and value hash.
"""

from __future__ import annotations

import io
import os
import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .harness import Outcomes, geomean

IDS = ("b_agg_q1", "b_llm_knn", "b_stream_session")
FAMILIES = ("operators", "llm", "streaming")
#: nominal pass time on a 4-core box; fixes the pass count a run of
#: ``--seconds`` makes, so both sides of an A/B do the same work
NOMINAL_PASS_S = 2.0
#: sf0.01 row counts of the fixture tables (``orders`` only bounds
#: ``l_orderkey``)
ROWS = {"orders": 15_000, "lineitem": 60_000, "events": 10_000,
        "embeddings": 500}
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
#: bench.py's scan-split rule: one slice per 192 KB of table, at most
#: max(64, 2 x cpus) slices
SLICE_BYTES = 192 * 1024


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (b - a).astype(int) + 1, n)
    return (a + days).astype("datetime64[us]")


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The tables ``IDS`` read, at sf0.01 sizes, from ``seed``: the
    same schemas and value domains as the fixture the engine's tests
    use."""
    rng = np.random.default_rng([seed, 11])
    n_l, n_e = ROWS["lineitem"], ROWS["events"]
    t: dict[str, pd.DataFrame] = {
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, ROWS["orders"], n_l),
            "l_partkey": rng.integers(0, 2_000, n_l),
            "l_suppkey": rng.integers(0, 100, n_l),
            "l_linenumber": rng.integers(1, 8, n_l),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[x] for x in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[x] for x in rng.integers(0, 2, n_l)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_e, dtype=np.int64),
            # strictly increasing microsecond times over 30 days
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(
                rng.integers(1, 2 * 30 * 86_400_000_000 // n_e, n_e)
            ).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_e),
            "event_type": [EVENT_TYPES[x] for x in rng.integers(0, 5, n_e)],
            "value": _cents(rng, 1, 49_003, n_e),
            "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, n_e)],
        }),
    }
    out = {name: pa.Table.from_pandas(df, preserve_index=False) for name, df in t.items()}
    n_v = ROWS["embeddings"]
    emb = (rng.standard_normal((n_v, 64)) * 0.125).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    # the fixture's 32-bit columns
    i = out["lineitem"].schema.get_field_index("l_linenumber")
    out["lineitem"] = out["lineitem"].set_column(
        i, "l_linenumber", out["lineitem"]["l_linenumber"].cast(pa.int32()))
    return out


def write_layout(tables: dict[str, pa.Table], root: str, n_slices: int) -> None:
    """Each table as ``root/<name>.parquet/part-NNNNN.parquet``:
    contiguous row slices, one per ``SLICE_BYTES`` of the table's
    single-file size, at most ``n_slices``.  This is bench.py's layout
    rule; ``bench._split_layout`` itself re-lays a fixture directory
    under ``/tmp``, outside the run directory."""
    for name, tbl in tables.items():
        buf = io.BytesIO()
        pq.write_table(tbl, buf)
        n = max(1, min(n_slices, buf.tell() // SLICE_BYTES, tbl.num_rows))
        per = -(-tbl.num_rows // n)
        out = os.path.join(root, f"{name}.parquet")
        os.makedirs(out)
        for i, off in enumerate(range(0, tbl.num_rows, per)):
            pq.write_table(tbl.slice(off, per),
                           os.path.join(out, f"part-{i:05d}.parquet"),
                           compression="snappy")


class _Held:
    """A collected Spark result, shaped as ``verify_local.compare``
    reads a DataFrame (``columns`` and ``collect()``)."""

    def __init__(self, df) -> None:
        self.columns, self._rows = df.columns, df.collect()

    def collect(self):
        return self._rows


class QueryMix(Outcomes):
    def __init__(self, spark, run_dir: str, seed: int, tracer) -> None:
        super().__init__()
        self.spark, self.run_dir, self.tracer = spark, run_dir, tracer
        self.rng = np.random.default_rng([seed, 13])
        self.seed = seed
        self.samples: dict[str, list[float]] = {q: [] for q in IDS}
        #: per pass: total latency and total ``noop``-write time of its ids
        self.pass_s: list[float] = []
        self.pass_exec_s: list[float] = []

    # ------------------------------------------------------------ setup

    def setup_fixture(self) -> None:
        from aws_datalake_framework_api_spark.queries_all import QUERIES
        from aws_datalake_framework_api_spark.session import default_parallelism

        self.queries = {q: QUERIES[q] for q in IDS}
        self.dir = os.path.join(self.run_dir, "sf")
        write_layout(make_tables(self.seed), self.dir,
                     max(64, 2 * default_parallelism()))

    def warm_up(self) -> None:
        """One pass that collects every id's result (checked against
        its oracle by :meth:`check`) and pays each plan's first
        compile and the Python workers' start."""
        self.held: dict[str, _Held] = {}
        for q in IDS:
            self.attempted += 1
            try:
                self.held[q] = _Held(self.queries[q](self.spark, self.dir))
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.fail(f"{q} collect: {type(exc).__name__}: {exc}")

    # ------------------------------------------------------------ passes

    def _run_id(self, q: str) -> tuple[float, float]:
        with self.tracer.op(f"query:{q}"):
            t0 = time.perf_counter()
            with self.tracer.span("query.build_s"):
                df = self.queries[q](self.spark, self.dir)
            t1 = time.perf_counter()
            with self.tracer.span("query.exec_s"):
                df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        fam = self.queries[q].__module__.split(".")[1]
        self.tracer.add(f"query.family.{fam}_s", t2 - t0)
        self.tracer.add(f"query.id.{q}_s", t2 - t0)
        return t2 - t0, t2 - t1

    def run_pass(self) -> None:
        order = [IDS[i] for i in self.rng.permutation(len(IDS))]
        total = total_exec = 0.0
        for q in order:
            self.attempted += 1
            try:
                dt, ex = self._run_id(q)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.fail(f"{q}: {type(exc).__name__}: {exc}")
                continue
            self.samples[q].append(dt)
            total += dt
            total_exec += ex
        self.pass_s.append(total)
        self.pass_exec_s.append(total_exec)
        self.tracer.count_unit("pass")

    def plan(self, seconds: float, at_least: int) -> int:
        return max(at_least, 3, round(seconds / NOMINAL_PASS_S))

    def next_kind(self) -> str:
        return "pass"

    def measure(self, units: int) -> None:
        for _ in range(units):
            self.tracer.start_unit()
            self.run_pass()

    # ------------------------------------------------------------ check

    def check(self) -> None:
        """Every id's warm-up result against its oracle on DuckDB:
        columns, row count and the driver-shaped value hash."""
        import duckdb

        from aws_datalake_framework_api_spark.queries_all import ORACLE
        from tools.verify_local import compare

        con = duckdb.connect()
        for name in os.listdir(self.dir):
            con.execute(
                f"CREATE VIEW {name.split('.')[0]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.dir, name)}/*.parquet')"
            )
        for q in self.held:
            try:
                errs = compare(q, self.held[q], con.sql(ORACLE[q]))
            except Exception as exc:  # noqa: BLE001 — counted
                errs = [f"{type(exc).__name__}: {exc}"]
            if errs:
                self.fail(f"{q} vs oracle: {errs[0]}")
        con.close()

    # ------------------------------------------------------------ report

    def metrics(self) -> dict[str, float]:
        return {
            "read_p50_ms": 1000 * median(self.pass_s),
            "write_p50_ms": 1000 * median(self.pass_exec_s),
            "geomean_ms": 1000 * geomean(
                [median(self.samples[q]) for q in IDS if self.samples[q]]
            ),
        }

    def layer_extras(self) -> dict[str, float]:
        return {}
