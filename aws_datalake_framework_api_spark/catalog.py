"""Catalog: generic entity CRUD + audit log (SURVEY.md §2 Tier A).

The reference's three Lambdas (source-system / target-system /
data-asset, ``lambda/aws-dl-fmwrk-*-api/lambda_function.py``) are one
copy-pasted template — a diff modulo entity name shows zero
differences (SURVEY.md §0 fact 1).  This module is that template
implemented ONCE, parameterized by entity type:

- ``create/read/update/delete`` per entity table (the reference's
  stub bodies ``# API logic here``, ``lambda_function.py:61-64``,
  given real semantics).  Each single-id verb is the one-id case of
  its batch form (``create_many``, ``update_where``,
  ``delete_where``), so every mutating verb has one write path;
- UPDATE is conditional — only-if-exists, like the reference's
  DynamoDB ``ConditionExpression="attribute_exists(aws_request_id)"``
  (``lambda_function.py:39``); updating a missing id is a no-op that
  reports ``matched=0``, never an upsert.  DELETE of a missing id is
  likewise a no-op that commits nothing;
- every call appends an audit row (``insert_event_to_dynamoDb``,
  ``lambda_function.py:6-54`` — the ONLY implemented data operation
  in the reference), including reads (:86);
- the audit schema fixes the reference's two latent landmines
  (SURVEY.md §1.2): ``"modified ts"`` (attribute name with a space)
  becomes ``modified_ts: timestamp``, and ``status`` — a DynamoDB
  reserved word the reference's UpdateExpression would crash on —
  is a plain string column here.

Storage: one table per entity type under a warehouse directory (the
reference provisions one S3 bucket per source system,
``cft/sourceSystem.yaml:20-27``; a Spark warehouse uses one PATH per
table and partitions within), in one of three table formats chosen by
``Catalog.backend``.  Each format is a small object with the same five
calls — ``exists``, ``read``, ``overwrite``, ``append`` and ``patch``
(the A2 keyed status update) — so the catalog never branches on the
format:

- ``txlog`` (default): the file-backed transaction log in
  :mod:`..txlog` — immutable parquet data dirs + manifest commits
  published by atomic hard-link, snapshot-isolated readers, history/
  time travel; the A2 patch is a merge-on-read tombstone + append;
- ``deltalog``: the open Delta table format via the dependency-free
  protocol implementation in :mod:`.sources.delta` — commits on the
  public ``_delta_log`` layout, interoperable with delta-spark
  readers; the A2 patch is a copy-on-write UPDATE of the hit files;
- ``iceberg``: Iceberg v2 tables via :mod:`.sources.iceberg` —
  snapshot commits on the public metadata/manifest layout; the A2
  patch is a position-delete + append in one snapshot.

Every audit record carries ``catalog_backend`` so correctness rows
show WHICH format actually served the call.

Catalog tables are ENTITY metadata — hundreds to thousands of rows at
any real deployment (they scale with registered systems, not with
data volume), so a full-table rewrite per entity mutation is the
right cost model; the 100 TB concerns live in the lake tables the
catalog points at.  The audit table is the unbounded one, which is
why it only ever takes appends and keyed patches.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .txlog import TxLogTable

ENTITY_TYPES = ("source_system", "target_system", "data_asset")


def _local_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Driver-local rows (tuples or dicts) → DataFrame via pandas +
    Arrow.  ``createDataFrame`` on a plain Python list takes the
    pickled-RDD path: it parallelizes even a 25-row list into
    defaultParallelism partitions and starts a Python worker per core
    just to materialize it (~9 s of startup per call on local[32]).
    The Arrow path converts on the driver and lands JVM-side."""
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema)
    cols = [f.name for f in schema.fields]
    pdf = pd.DataFrame(list(rows), columns=None if isinstance(rows[0], dict) else cols)
    if isinstance(rows[0], dict):
        pdf = pdf.reindex(columns=cols)
    return spark.createDataFrame(pdf, schema)


def _assign(df: DataFrame, cond: Column, assignments: dict) -> DataFrame:
    """``df`` with ``assignments`` (column → literal) applied to the
    rows where ``cond`` holds; other rows pass through unchanged."""
    for col, val in assignments.items():
        df = df.withColumn(col, F.when(cond, F.lit(val)).otherwise(F.col(col)))
    return df


# ------------------------------------------------------------------ formats
#
# The connector modules are imported inside the methods: importing
# them registers their benchmark queries, and the registry's order must
# not depend on whether the catalog was imported first.


class _TxLog:
    """:class:`..txlog.TxLogTable` behind the catalog's storage calls."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.table = TxLogTable(spark, path)

    def exists(self) -> bool:
        return self.table.exists()

    def read(self, schema: StructType) -> DataFrame:
        return self.table.read(schema)  # empty frame when no table

    def overwrite(self, df: DataFrame, op: str) -> None:
        # the commit is labelled with the originating verb, so
        # ``history()`` is an honest audit of the API calls
        self.table.overwrite(df, op=op)

    def append(self, df: DataFrame) -> None:
        self.table.append(df)

    def patch(self, rows: DataFrame, key: str, cond: Column, assignments: dict) -> None:
        # merge-on-read in ONE commit: tombstone the key in existing
        # dirs + append its patched rows; no data dir is rewritten
        self.table.upsert_keys(_assign(rows, cond, assignments), key, op="update")


class _OpenFormat:
    """Shared write rule of the two open formats: the first commit
    must be ``error`` mode so it carries the table's schema/protocol;
    later commits overwrite or append on top.  Rewriting from a plan
    that reads this same table is safe — data files are immutable."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark, self.path = spark, path

    def read(self, schema: StructType) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], schema)
        return self._read()

    def overwrite(self, df: DataFrame, op: str) -> None:
        self._write(df.coalesce(1), "overwrite" if self.exists() else "error")

    def append(self, df: DataFrame) -> None:
        self._write(df.coalesce(1), "append" if self.exists() else "error")


class _DeltaLog(_OpenFormat):
    """The open Delta format via :mod:`.sources.delta`."""

    def exists(self) -> bool:
        return os.path.isdir(os.path.join(self.path, "_delta_log"))

    def _read(self) -> DataFrame:
        from .sources.delta import read_delta

        return read_delta(self.spark, self.path)

    def _write(self, df: DataFrame, mode: str) -> None:
        from .sources.delta import write_delta

        write_delta(df, self.path, mode=mode)

    def patch(self, rows: DataFrame, key: str, cond: Column, assignments: dict) -> None:
        from .sources.delta import update_delta

        # copy-on-write UPDATE: one commit rewrites ONLY the files
        # holding matched rows; history stays readable via versionAsOf
        update_delta(self.spark, self.path, cond, assignments)


class _Iceberg(_OpenFormat):
    """Iceberg v2 via :mod:`.sources.iceberg`."""

    def exists(self) -> bool:
        from .sources.iceberg import _metadata_versions

        return bool(_metadata_versions(self.path))

    def _read(self) -> DataFrame:
        from .sources.iceberg import read_iceberg

        return read_iceberg(self.spark, self.path)

    def _write(self, df: DataFrame, mode: str) -> None:
        from .sources.iceberg import write_iceberg

        # an overwrite is a new snapshot referencing only the new
        # manifest; prior snapshots stay time-travelable
        write_iceberg(df, self.path, mode=mode)

    def patch(self, rows: DataFrame, key: str, cond: Column, assignments: dict) -> None:
        from .sources.iceberg import upsert_iceberg

        # merge-on-read upsert in ONE snapshot: position-delete the
        # key's rows + append their patched versions
        upsert_iceberg(self.spark, self.path, _assign(rows, cond, assignments), on=[key])


#: ``Catalog.backend`` value → table format
FORMATS = {"txlog": _TxLog, "deltalog": _DeltaLog, "iceberg": _Iceberg}


ENTITY_SCHEMA = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("attrs", StringType(), True),  # JSON payload passthrough
        StructField("status", StringType(), True),
    ]
)

# §1.2 audit record, landmines fixed (modified_ts, plain status).
AUDIT_SCHEMA = StructType(
    [
        StructField("aws_request_id", StringType(), False),
        StructField("method_name", StringType(), False),
        StructField("log_group_name", StringType(), True),
        StructField("log_stream_name", StringType(), True),
        StructField("function_name", StringType(), True),
        StructField("query_string", StringType(), True),
        StructField("payload", StringType(), True),
        StructField("api_call_type", StringType(), True),
        StructField("modified_ts", TimestampType(), True),
        StructField("status", StringType(), True),
        # which table format served this call — "txlog", "deltalog"
        # or "iceberg" — so correctness rows show the path that ran
        StructField("catalog_backend", StringType(), True),
    ]
)


def _present_ids(df: DataFrame, ids) -> set[int]:
    """The ``ids`` that ``df`` holds — the one Spark job every CRUD
    verb runs for its existence check."""
    return {
        r["entity_id"]
        for r in df.filter(F.col("entity_id").isin(list(ids)))
        .select("entity_id")
        .collect()
    }


@dataclass
class Catalog:
    """A warehouse-backed entity catalog with an audit log.

    ``backend`` names the table format of every table this catalog
    writes: ``"txlog"`` (default, :class:`..txlog.TxLogTable` manifest
    commits), ``"deltalog"`` (the open Delta format — a delta-spark
    reader can open the warehouse, and vice versa) or ``"iceberg"``
    (Iceberg v2).  Callers never branch — the seam is this class, and
    inside it the :data:`FORMATS` objects."""

    spark: SparkSession
    warehouse: str
    backend: str = "txlog"  # txlog | deltalog | iceberg
    config: "GlobalConfig | None" = None  # fm_prefix-scoped table names when set
    _audit_rows: list = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.backend not in FORMATS:
            raise ValueError(
                f"unknown backend: {self.backend!r} (expected one of {sorted(FORMATS)})"
            )

    # ------------------------------------------------------------ paths

    def _name(self, table: str) -> str:
        """Table directory name; with a GlobalConfig it is scoped as
        ``{fm_prefix}.{table}`` — the engine-side analogue of the
        reference's prefix-derived bucket names
        (``config/globalConfig.json:3`` → ``cft/sourceSystem.yaml``)."""
        return self.config.table_name(table) if self.config else table

    def _table_dir(self, entity_type: str) -> str:
        if entity_type not in ENTITY_TYPES:
            raise ValueError(f"unknown entity type: {entity_type}")
        return os.path.join(self.warehouse, self._name(entity_type))

    def _entities(self, entity_type: str):
        return FORMATS[self.backend](self.spark, self._table_dir(entity_type))

    def _events(self):
        path = os.path.join(self.warehouse, self._name("api_events"))
        return FORMATS[self.backend](self.spark, path)

    def load(self, entity_type: str) -> DataFrame:
        return self._entities(entity_type).read(ENTITY_SCHEMA)

    # ------------------------------------------------------------ audit (A1)

    def _audit(self, method_name: str, payload: str | None, status: str = "success",
               request_id: str | None = None) -> str:
        """Append one audit record per API call — the engine's
        ``insert_event_to_dynamoDb`` (``lambda_function.py:6-54``).
        Buffered and flushed as appends; ``api_call_type`` is
        "synchronous" at every call site, like every reference call
        site (:58)."""
        rid = request_id or f"req-{uuid.uuid4().hex[:12]}"
        self._audit_rows.append(
            {
                "aws_request_id": rid,
                "method_name": method_name,
                "log_group_name": "engine",
                "log_stream_name": "engine",
                "function_name": method_name.split("/")[0],
                "query_string": None,
                "payload": payload,
                "api_call_type": "synchronous",
                "modified_ts": None,  # stamped at flush
                "status": status,
                "catalog_backend": self.backend,
            }
        )
        return rid

    def flush_audit(self) -> None:
        if not self._audit_rows:
            return
        df = _local_df(self.spark, self._audit_rows, AUDIT_SCHEMA).withColumn(
            "modified_ts", F.current_timestamp()
        )
        self._events().append(df)
        self._audit_rows = []

    def audit_log(self) -> DataFrame:
        pending = _local_df(self.spark, self._audit_rows, AUDIT_SCHEMA)
        return self._events().read(AUDIT_SCHEMA).unionByName(pending)

    def update_event_status(self, request_id: str, method_name: str,
                            new_status: str) -> int:
        """A2: conditional point update — set status ONLY IF the
        (request_id, method_name) row exists; returns matched count.
        The reference's ``ConditionExpression`` semantics
        (``lambda_function.py:34-44``): ``MERGE … WHEN MATCHED THEN
        UPDATE`` with no NOT-MATCHED branch.  On the flushed table the
        patch costs O(matched), not O(table) — see each format's
        ``patch``."""
        matched = 0
        for r in self._audit_rows:
            if r["aws_request_id"] == request_id and r["method_name"] == method_name:
                r["status"] = new_status
                matched += 1
        events = self._events()
        if events.exists():
            key = F.col("aws_request_id") == request_id
            cond = key & (F.col("method_name") == method_name)
            df = events.read(AUDIT_SCHEMA)
            hit = df.filter(cond).count()
            if hit:
                # the key's sibling rows (other method_name) ride along
                # unchanged: the merge-on-read formats replace the
                # whole key
                events.patch(df.filter(key), "aws_request_id", cond,
                             {"status": new_status})
                matched += hit
        return matched

    # ------------------------------------------------------------ CRUD (A6-A9)

    def create(self, entity_type: str, entity_id: int, name: str,
               attrs: str | None = None) -> dict:
        """A6: register one entity — the one-row case of
        :meth:`create_many`; 409 when the id exists."""
        res = self.create_many(entity_type, [(entity_id, name, attrs)])
        if res["conflicts"]:
            return {"statusCode": 409, "body": f"{entity_type} {entity_id} exists"}
        return {"statusCode": 200, "body": f"{entity_type} {entity_id} created"}

    def create_many(self, entity_type: str, rows: list[tuple[int, str, str | None]]) -> dict:
        """Register entities in one validation pass + ONE table write;
        also provisions each source system's storage prefix — the
        engine's analogue of the per-source-system bucket
        (``cft/sourceSystem.yaml:20-27``).  An id already in the table,
        or repeated within ``rows``, is a conflict: the first copy
        wins and every later copy is refused.  Audit records one row
        per requested entity, like N reference calls."""
        existing = self.load(entity_type)
        taken = _present_ids(existing, {r[0] for r in rows})
        fresh, conflicts = [], []
        for r in rows:
            (conflicts if r[0] in taken else fresh).append(r)
            taken.add(r[0])
        if fresh:
            batch = _local_df(
                self.spark, [(i, n, a, "active") for i, n, a in fresh], ENTITY_SCHEMA
            )
            self._entities(entity_type).overwrite(
                existing.unionByName(batch), op="create"
            )
        for i, _, a in fresh:
            self._audit(f"{entity_type}/create", a)
            if entity_type == "source_system":
                os.makedirs(
                    os.path.join(self.warehouse, "lake", str(i), "init"),
                    exist_ok=True,
                )
        for _, _, a in conflicts:
            self._audit(f"{entity_type}/create", a, status="failure")
        return {"statusCode": 200, "created": len(fresh), "conflicts": len(conflicts)}

    def read(self, entity_type: str, entity_id: int) -> DataFrame:
        """A7: point lookup (predicate pushdown reaches the parquet
        scan).  Audited like every reference call, including reads
        (``lambda_function.py:86``)."""
        self._audit(f"{entity_type}/read", str(entity_id))
        return self.load(entity_type).filter(F.col("entity_id") == entity_id)

    def update(self, entity_type: str, entity_id: int, *, name: str | None = None,
               attrs: str | None = None, status: str | None = None) -> dict:
        """A8: conditional update of one id — the one-id case of
        :meth:`update_where`; 404 with matched=0 when it is missing."""
        matched = self.update_where(
            entity_type, [entity_id], name=name, attrs=attrs, status=status
        )["matched"]
        return {"statusCode": 200 if matched else 404, "matched": matched}

    def update_where(self, entity_type: str, entity_ids: list[int], *,
                     name: str | None = None, attrs: str | None = None,
                     status: str | None = None) -> dict:
        """Conditional update (A2 semantics applied to entities): one
        write for N ids; ids that don't exist are reported unmatched
        and NOT created, and when none match nothing is written."""
        existing = self.load(entity_type)
        matched = _present_ids(existing, entity_ids)
        if matched:
            sets = {c: v for c, v in (("name", name), ("attrs", attrs),
                                      ("status", status)) if v is not None}
            hit = F.col("entity_id").isin(list(matched))
            self._entities(entity_type).overwrite(
                _assign(existing, hit, sets), op="update"
            )
        for i in entity_ids:
            self._audit(
                f"{entity_type}/update",
                str(i),
                status="success" if i in matched else "failure",
            )
        return {"statusCode": 200, "matched": len(matched),
                "unmatched": len(set(entity_ids) - matched)}

    def delete(self, entity_type: str, entity_id: int) -> dict:
        """A9: deregister one id — the one-id case of
        :meth:`delete_where`; 404 with matched=0 when it is missing."""
        matched = self.delete_where(entity_type, [entity_id])["matched"]
        return {"statusCode": 200 if matched else 404, "matched": matched}

    def delete_where(self, entity_type: str, entity_ids: list[int]) -> dict:
        """Deregistration (anti-join rewrite of ``DELETE FROM``), one
        write for N ids; when none match nothing is written."""
        existing = self.load(entity_type)
        matched = _present_ids(existing, entity_ids)
        if matched:
            self._entities(entity_type).overwrite(
                existing.filter(~F.col("entity_id").isin(list(matched))),
                op="delete",
            )
        for i in entity_ids:
            self._audit(
                f"{entity_type}/delete",
                str(i),
                status="success" if i in matched else "failure",
            )
        return {"statusCode": 200, "matched": len(matched)}
