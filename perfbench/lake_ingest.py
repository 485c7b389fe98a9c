"""``lake_ingest``: the paper's file-landing ingestion topology.

Set-up creates the ``lake/<id>/init`` landing prefix that registering
a source system provisions (the registration itself, a catalog write,
is timed by ``catalog_api``) and builds a CDF-enabled Delta table of
sf0.01 ``orders`` size (15k keys, seeded prices) plus an empty Iceberg
replica.  A warm-up round pays the streams' first-run costs.  Each
round:

1. lands one seeded change file (pyarrow) in the landing prefix: it
   re-prices ``UPDATE_SHARE`` of the live keys and adds ``NEW_KEYS``
   new keys;
2. drains it into Delta with ``run_merge_stream(…,
   delta_merge_batch(…))``;
3. replicates the Delta change feed into the Iceberg replica with
   ``run_replication`` (equality deletes plus merge-on-read merge);
4. reads both tables back and compares their aggregates and key-set
   hash with the benchmark's own pandas model.

Closed loop, one client.  The operation is one round; its write
latency is the two stream drains, its read latency the read-back.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .harness import Outcomes, dir_bytes, geomean

#: sf0.01 ``orders``: 15k keys, ``o_totalprice`` 1000.00-500000.00
ORDERS = 15_000
PRICE_CENTS = (100_000, 50_000_000)
#: nominal round time on a 4-core box; fixes the round count a run of
#: ``--seconds`` makes (the replica's delete debt grows per round, so
#: both sides of an A/B must run the same rounds)
NOMINAL_ROUND_S = 8.5
UPDATE_SHARE = 0.01
NEW_KEYS = 50
KEY_MOD = 2_147_483_647
STEPS = ("ingest", "replicate", "read")
#: read-backs per measured round; the read step is their median, so one
#: slow read (a GC pause, a worker restart) does not set the round's
#: read latency
READS = 3
SCHEMA = pa.schema([("k", pa.int64()), ("price_cents", pa.int64()),
                    ("seq", pa.int64())])


def _agg_expr():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cents").alias("price"),
        F.sum("seq").alias("seq"),
        F.sum("k").alias("ksum"),
        F.sum((F.col("k") * F.col("k")) % KEY_MOD).alias("khash"),
    ]


def model_agg(state: pd.DataFrame) -> tuple[int, ...]:
    k = state["k"].to_numpy()
    return (
        len(state), int(state["price_cents"].sum()), int(state["seq"].sum()),
        int(k.sum()), int(((k * k) % KEY_MOD).sum()),
    )


class LakeIngest(Outcomes):
    def __init__(self, spark, run_dir: str, seed: int, tracer) -> None:
        super().__init__()
        self.spark, self.run_dir, self.tracer = spark, run_dir, tracer
        self.rng = np.random.default_rng([seed, 7])
        self.steps: dict[str, list[float]] = {s: [] for s in STEPS}

    # ------------------------------------------------------------ setup

    def setup_fixture(self) -> None:
        from aws_datalake_framework_api_spark.sources.delta import (
            alter_table_properties_delta,
            write_delta,
        )
        from aws_datalake_framework_api_spark.sources.iceberg import write_iceberg

        base_dir = os.path.join(self.run_dir, "lake")
        # the prefix Catalog.create("source_system", 1, ...) provisions;
        # registering through the catalog here would add ~4 s of cold
        # catalog and txlog jobs to every run's set-up
        self.landing = os.path.join(base_dir, "wh", "lake", "1", "init")
        os.makedirs(self.landing)
        self.state = pd.DataFrame({
            "k": np.arange(ORDERS, dtype=np.int64),
            "price_cents": self.rng.integers(*PRICE_CENTS, ORDERS),
            "seq": np.zeros(ORDERS, dtype=np.int64),
        })
        base = self.spark.createDataFrame(self.state, _spark_schema())
        self.delta = os.path.join(base_dir, "delta")
        self.replica = os.path.join(base_dir, "replica")
        self.ckpt = os.path.join(base_dir, "ckpt")
        write_delta(base.coalesce(2), self.delta, mode="error")
        alter_table_properties_delta(
            self.spark, self.delta, {"delta.enableChangeDataFeed": "true"}
        )
        write_iceberg(base.limit(0).coalesce(1), self.replica, mode="error")
        self.next_key = int(self.state["k"].max()) + 1
        self.round = 0

    def warm_up(self) -> None:
        """The first round: it replicates the whole base table and pays
        the streams' and merges' first-run costs."""
        self.run_round(record=False)

    # ------------------------------------------------------------ rounds

    def _change_file(self) -> pd.DataFrame:
        self.round += 1
        n_upd = max(1, int(len(self.state) * UPDATE_SHARE))
        idx = self.rng.choice(len(self.state), size=n_upd, replace=False)
        upd = self.state.iloc[idx][["k"]].copy()
        upd["price_cents"] = self.rng.integers(*PRICE_CENTS, n_upd)
        new = pd.DataFrame({
            "k": np.arange(self.next_key, self.next_key + NEW_KEYS, dtype=np.int64),
            "price_cents": self.rng.integers(*PRICE_CENTS, NEW_KEYS),
        })
        self.next_key += NEW_KEYS
        feed = pd.concat([upd, new], ignore_index=True)
        feed["seq"] = np.int64(self.round)
        return feed.astype("int64")

    def _apply_model(self, feed: pd.DataFrame) -> None:
        st = self.state.set_index("k")
        fd = feed.set_index("k")
        st.update(fd)
        st = pd.concat([st, fd[~fd.index.isin(st.index)]])
        self.state = st.reset_index().astype("int64")

    def _read_agg(self, reader, path: str, span: str) -> tuple[int, ...]:
        with self.tracer.span(span):
            row = reader(self.spark, path).agg(*_agg_expr()).collect()[0]
        return tuple(int(v or 0) for v in row)

    def run_round(self, record: bool = True) -> None:
        from aws_datalake_framework_api_spark.sources.delta import read_delta
        from aws_datalake_framework_api_spark.sources.iceberg import read_iceberg
        from aws_datalake_framework_api_spark.streaming.lake_sink import (
            delta_merge_batch,
            run_merge_stream,
        )
        from aws_datalake_framework_api_spark.streaming.replicate import (
            run_replication,
        )

        self.attempted += 1
        feed = self._change_file()
        self._apply_model(feed)
        want = model_agg(self.state)
        starts, drains = self.tracer.attempts, self.tracer.drains
        name = f"feed-{self.round:05d}.parquet"
        stage = os.path.join(self.landing, f".{name}")
        with self.tracer.op(f"round:{self.round}"):
            pq.write_table(pa.Table.from_pandas(feed, schema=SCHEMA,
                                                preserve_index=False), stage)
            os.replace(stage, os.path.join(self.landing, name))
            t_land = time.perf_counter()
            with self.tracer.table_growth(self.table_bytes, len(feed)):
                with self.tracer.stream("ingest"):
                    run_merge_stream(
                        self.spark, self.landing, _spark_schema(),
                        os.path.join(self.ckpt, "ingest"),
                        delta_merge_batch(self.delta, ["k"], "ingest"),
                    )
                t_ing = time.perf_counter()
                with self.tracer.stream("replicate"):
                    run_replication(
                        self.spark, self.delta, self.replica, ["k"],
                        os.path.join(self.ckpt, "replicate"),
                    )
                t_rep = time.perf_counter()
            reads, got = [], set()
            for _ in range(READS if record else 1):
                t0 = time.perf_counter()
                got.add(("delta", self._read_agg(read_delta, self.delta,
                                                 "lake.read_delta_s")))
                got.add(("replica", self._read_agg(read_iceberg, self.replica,
                                                   "lake.read_iceberg_s")))
                reads.append(time.perf_counter() - t0)
        errs = [f"{label}: {agg} != model {want}"
                for label, agg in sorted(got) if agg != want]
        retries = (self.tracer.attempts - starts) - (self.tracer.drains - drains)
        if retries:
            errs.append(f"{retries} stream drain(s) retried after a "
                        "Python-worker spawn timeout")
        if errs:
            self.fail(f"round {self.round}: " + "; ".join(errs))
        if not record:
            return
        self.steps["ingest"].append(t_ing - t_land)
        self.steps["replicate"].append(t_rep - t_ing)
        self.steps["read"].append(median(reads))
        self.tracer.count_unit()

    def plan(self, seconds: float, at_least: int) -> int:
        return max(at_least, round(seconds / NOMINAL_ROUND_S))

    def next_kind(self) -> str:
        return "round"

    def measure(self, units: int) -> None:
        for _ in range(units):
            self.tracer.start_unit()
            try:
                self.run_round()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.fail(f"round {self.round}: {type(exc).__name__}: {exc}")

    def check(self) -> None:
        """Every round already compared both tables with the model."""

    # ------------------------------------------------------------ report

    def metrics(self) -> dict[str, float]:
        writes = [a + b for a, b in zip(self.steps["ingest"],
                                        self.steps["replicate"])]
        return {
            "read_p50_ms": 1000 * median(self.steps["read"]),
            "write_p50_ms": 1000 * median(writes),
            "geomean_ms": 1000 * geomean([median(v) for v in self.steps.values()]),
        }

    def layer_extras(self) -> dict[str, float]:
        return {"iceberg.delete_files": float(self.delete_files())}

    def table_bytes(self) -> tuple[int, int]:
        return dir_bytes(self.delta), dir_bytes(self.replica)

    def delete_files(self) -> int:
        return sum(
            f.startswith(("delete-", "eq-delete-"))
            for _, _, files in os.walk(self.replica) for f in files
        )


def _spark_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([StructField(c, LongType()) for c in SCHEMA.names])
