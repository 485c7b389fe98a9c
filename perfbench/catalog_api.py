"""``catalog_api``: the catalog control plane.

A seeded mix of ``/sourcesystem|targetsystem|dataasset/{create,read,
update,delete}`` requests goes through ``api.dispatch`` to a
``Catalog`` pre-populated with ``ENTITIES`` entities per type, plus a
few ``Catalog.update_event_status`` calls on past request ids.  Each
request is followed by ``flush_audit()``, because the reference writes
its audit row synchronously.  Closed loop, one client.  The client
keeps its own model of entity state and checks every status code and
read body against it.
"""

from __future__ import annotations

import json
import os
import random
import time
from statistics import median

from .harness import Outcomes, geomean

ENTITIES = 1000
#: nominal request latency on a 4-core box; fixes the request count
#: a run of ``--seconds`` makes, so both sides of an A/B do the same work
NOMINAL_REQUEST_S = 0.5
PATHS = {
    "source_system": "sourcesystem",
    "target_system": "targetsystem",
    "data_asset": "dataasset",
}
#: request mix in percent.  An assumption: no measured traffic of the
#: reference gives these shares, so no end-to-end metric is weighted by
#: them; they only set how many samples each request kind gets
MIX = (("read", 60), ("create", 12), ("update", 14), ("delete", 10),
       ("status_update", 4))
#: share of entity requests aimed at ids whose outcome is a 404/409
MISS_SHARE = 0.15
KINDS = tuple(k for k, _ in MIX)
WRITES = ("create", "update", "delete", "status_update")


def _attrs(entity_type: str, i: int, rev: int) -> str:
    return json.dumps({"owner": f"team-{i % 17}", "type": entity_type, "rev": rev})


class CatalogApi(Outcomes):
    def __init__(self, spark, run_dir: str, seed: int, tracer) -> None:
        super().__init__()
        self.spark, self.run_dir, self.tracer = spark, run_dir, tracer
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = {k: [] for k in KINDS}

    # ------------------------------------------------------------ setup

    def setup_fixture(self) -> None:
        """A fresh warehouse holding ``ENTITIES`` entities per type,
        registered through ``create_many`` (one write per type)."""
        from aws_datalake_framework_api_spark.catalog import Catalog

        self.cat = Catalog(self.spark, os.path.join(self.run_dir, "wh"))
        self.model: dict[str, dict[int, tuple]] = {}
        for et in PATHS:
            rows = [(i, f"{et}-{i}", _attrs(et, i, 0)) for i in range(ENTITIES)]
            self.cat.create_many(et, rows)
            self.model[et] = {i: (n, a, "active") for i, n, a in rows}
        #: (request id, method) of every audited call so far: the
        #: targets of ``update_event_status``
        self.history = [(r["aws_request_id"], r["method_name"])
                        for r in self.cat._audit_rows]
        self.cat.flush_audit()
        self.next_id = ENTITIES
        self.reviewed: set[str] = set()
        self.n_audit = len(PATHS) * ENTITIES

    def warm_up(self) -> None:
        """One request of each kind, untimed but checked: each pays its
        code path's first compile."""
        for kind in KINDS:
            self._request(kind, False)

    # ------------------------------------------------------------ requests

    def _pick_id(self, et: str, existing: bool) -> int:
        """A live id of ``et``, or one that was never created."""
        if not existing:
            return self.next_id + 1_000_000 + self.rng.randrange(1_000_000)
        live = self.model[et]
        while True:
            i = self.rng.randrange(self.next_id)
            if i in live:
                return i

    def _request(self, kind: str, miss: bool) -> float:
        """Issue one request; returns its latency in seconds.  A status
        code or body that disagrees with the model counts as failed."""
        from aws_datalake_framework_api_spark.api import dispatch

        self.attempted += 1
        if kind == "status_update":
            return self._status_update()
        et = self.rng.choice(tuple(PATHS))
        live = self.model[et]
        payload: dict = {}
        if kind == "create":
            if miss:
                eid = self._pick_id(et, True)
            else:
                eid, self.next_id = self.next_id, self.next_id + 1
            payload = {"entity_id": eid, "name": f"{et}-{eid}",
                       "attrs": _attrs(et, eid, 0)}
            want = 409 if eid in live else 200
        else:
            eid = self._pick_id(et, not miss)
            payload = {"entity_id": eid}
            want = 200 if eid in live else 404
            if kind == "update":
                rev = self.rng.randrange(1, 1000)
                payload.update(name=f"{et}-{eid}-r{rev}",
                               attrs=_attrs(et, eid, rev),
                               status=self.rng.choice(("active", "paused")))
        with self.tracer.op(f"api:{kind}"):
            t0 = time.perf_counter()
            with self.tracer.span(f"api.dispatch.{kind}_ms"):
                resp = dispatch(self.cat, f"/{PATHS[et]}/{kind}", payload,
                                tasktype=kind)
            rid = self.cat._audit_rows[-1]["aws_request_id"]
            with self.tracer.span("catalog.audit_flush_ms"):
                self.cat.flush_audit()
            dt = time.perf_counter() - t0
        self.n_audit += 1
        self.history.append((rid, f"{et}/{kind}"))
        err = None
        if resp.get("statusCode") != want:
            err = f"{kind} {et} {eid}: status {resp.get('statusCode')} != {want}"
        elif kind == "read" and want == 200:
            got = [(r["entity_id"], r["name"], r["attrs"], r["status"])
                   for r in resp["body"]]
            if got != [(eid, *live[eid])]:
                err = f"read {et} {eid}: body {got} != model {live[eid]}"
        if err:
            self.fail(err)
        elif want == 200 and kind == "create":
            live[eid] = (payload["name"], payload["attrs"], "active")
        elif want == 200 and kind == "update":
            live[eid] = (payload["name"], payload["attrs"], payload["status"])
        elif want == 200 and kind == "delete":
            del live[eid]
        return dt

    def _status_update(self) -> float:
        rid, method = self.rng.choice(self.history)
        with self.tracer.op("api:status_update"):
            t0 = time.perf_counter()
            with self.tracer.span("catalog.status_update_ms"):
                matched = self.cat.update_event_status(rid, method, "reviewed")
            with self.tracer.span("catalog.audit_flush_ms"):
                self.cat.flush_audit()
            dt = time.perf_counter() - t0
        if matched != 1:
            self.fail(f"update_event_status {rid}: matched {matched} != 1")
        self.reviewed.add(rid)
        return dt

    # ------------------------------------------------------------ measure

    def plan(self, seconds: float, at_least: int) -> int:
        """Fix the run's requests: ``seconds`` at the nominal rate."""
        n = max(at_least, 24, round(seconds / NOMINAL_REQUEST_S))
        self._plan = self._compose(n)
        return n

    def next_kind(self) -> str:
        return self._plan[0][0]

    def _compose(self, n: int) -> list[tuple[str, bool]]:
        """``n`` requests split over the kinds in ``MIX`` proportions and
        over hits and misses in ``MISS_SHARE`` proportion, each kind's
        requests (and each kind's misses among them) spread evenly over
        the plan.  The plan depends on ``n`` only, so every seed issues
        the same kinds in the same order and meets the session's
        latency drift (requests speed up over the first ~50 of a
        session as the JVM compiles) at the same points; the seed picks
        entity types, ids and payloads."""
        total = sum(w for _, w in MIX)
        exact = {k: n * w / total for k, w in MIX}
        counts = {k: int(x) for k, x in exact.items()}
        by_remainder = sorted(exact, key=lambda k: exact[k] - counts[k],
                              reverse=True)
        for k in by_remainder[: n - sum(counts.values())]:
            counts[k] += 1
        slots = []
        for rank, (k, c) in enumerate(counts.items()):
            misses = 0 if k == "status_update" else round(c * MISS_SHARE)
            missed = {round((i + 0.5) * c / misses - 0.5) for i in range(misses)}
            for j in range(c):
                slots.append(((j + 0.5) / c, rank, k, j in missed))
        return [(k, miss) for *_, k, miss in sorted(slots)]

    def measure(self, units: int) -> None:
        """The next ``units`` requests of the plan."""
        for _ in range(units):
            kind, miss = self._plan.pop(0)
            self.tracer.start_unit()
            try:
                dt = self._request(kind, miss)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.fail(f"{kind}: {type(exc).__name__}: {exc}")
                continue
            self.samples[kind].append(dt)
            self.tracer.count_unit(kind)

    # ------------------------------------------------------------ check

    def check(self) -> None:
        """Every entity table equals the model; the audit log holds one
        row per request and the reviewed status on every updated id."""
        from pyspark.sql import functions as F

        for et in PATHS:
            got = {
                r["entity_id"]: (r["name"], r["attrs"], r["status"])
                for r in self.cat.load(et).collect()
            }
            if got != self.model[et]:
                diff = set(got.items()) ^ set(self.model[et].items())
                self.fail(f"table {et}: {len(diff)} rows differ from model")
        n, n_rev = self.cat.audit_log().agg(
            F.count(F.lit(1)),
            F.sum((F.col("status") == "reviewed").cast("int")),
        ).collect()[0]
        if n != self.n_audit:
            self.fail(f"audit rows {n} != {self.n_audit}")
        if (n_rev or 0) != len(self.reviewed):
            self.fail(f"reviewed audit rows {n_rev} != {len(self.reviewed)}")

    # ------------------------------------------------------------ report

    def layer_extras(self) -> dict[str, float]:
        from aws_datalake_framework_api_spark.txlog import TxLogTable

        snap = TxLogTable(
            self.spark, os.path.join(self.cat.warehouse, "api_events")
        ).snapshot()
        return {"txlog.audit_dirs": float(len(snap["dirs"]) if snap else 0)}

    def metrics(self) -> dict[str, float]:
        writes = [t for k in WRITES for t in self.samples[k]]
        return {
            "read_p50_ms": 1000 * median(self.samples["read"]),
            "write_p50_ms": 1000 * median(writes),
            "geomean_ms": 1000 * geomean(
                [median(self.samples[k]) for k in KINDS if self.samples[k]]
            ),
        }
