"""Catalog + API-layer semantics (SURVEY.md A4/A5/A10 and the
per-call CRUD paths the batch-based oracle queries don't drive)."""

import pytest

from aws_datalake_framework_api_spark.api import dispatch, health
from aws_datalake_framework_api_spark.catalog import Catalog


@pytest.fixture(params=["txlog", "deltalog", "iceberg"])
def cat(request, spark, tmp_path):
    """Every CRUD/audit test runs three times, once per table format:
    ``txlog`` (the default) and ``deltalog`` / ``iceberg``, the
    dependency-free open formats, so the catalog's ACID semantics are
    proven on all three."""
    return Catalog(spark, str(tmp_path / "wh"), backend=request.param)


def test_default_backend_is_txlog_and_audited(spark, tmp_path):
    """The default format is txlog — a fixed choice, not a probe of
    the image — and the audit trail records the format that served
    each call, so a correctness row shows which path ran."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    assert cat.backend == "txlog"
    assert cat.create("source_system", 900, "default")["statusCode"] == 200
    assert cat.read("source_system", 900).count() == 1
    cat.flush_audit()
    backends = {r["catalog_backend"] for r in cat.audit_log().collect()}
    assert backends == {"txlog"}


@pytest.mark.parametrize("backend", ["delta", "parquet", "TXLOG", ""])
def test_unknown_backend_is_rejected(spark, tmp_path, backend):
    with pytest.raises(ValueError, match="unknown backend"):
        Catalog(spark, str(tmp_path / "wh"), backend=backend)


def test_create_read_roundtrip(cat):
    assert cat.create("source_system", 1, "alpha", '{"k": 1}')["statusCode"] == 200
    rows = cat.read("source_system", 1).collect()
    assert len(rows) == 1 and rows[0]["name"] == "alpha"
    assert rows[0]["status"] == "active"


def test_duplicate_create_conflicts(cat):
    cat.create("target_system", 5, "t")
    assert cat.create("target_system", 5, "t2")["statusCode"] == 409
    assert cat.load("target_system").count() == 1


def test_create_many_refuses_repeated_id_in_one_batch(cat):
    """An id repeated within one batch is a conflict like an id already
    in the table: the first copy is created, each later copy is
    refused with a failure audit row."""
    cat.create("data_asset", 1, "old")
    res = cat.create_many(
        "data_asset", [(2, "first", None), (2, "second", None), (1, "again", None)]
    )
    assert res == {"statusCode": 200, "created": 1, "conflicts": 2}
    rows = {r["entity_id"]: r["name"] for r in cat.load("data_asset").collect()}
    assert rows == {1: "old", 2: "first"}
    statuses = [r["status"] for r in cat._audit_rows[1:]]
    assert sorted(statuses) == ["failure", "failure", "success"]


def test_update_nonexistent_is_noop_not_upsert(cat):
    cat.create("data_asset", 1, "a")
    res = cat.update("data_asset", 42, status="ghost")
    assert res["statusCode"] == 404 and res["matched"] == 0
    assert cat.load("data_asset").count() == 1  # nothing created


def test_delete_then_read_empty(cat):
    cat.create("source_system", 9, "gone")
    assert cat.delete("source_system", 9)["matched"] == 1
    assert cat.read("source_system", 9).count() == 0
    assert cat.delete("source_system", 9) == {"statusCode": 404, "matched": 0}


def test_update_where_sets_attrs(cat):
    cat.create_many("target_system", [(1, "a", "{}"), (2, "b", "{}")])
    res = cat.update_where("target_system", [1, 3], attrs='{"k": 2}')
    assert res == {"statusCode": 200, "matched": 1, "unmatched": 1}
    rows = {r["entity_id"]: r["attrs"] for r in cat.load("target_system").collect()}
    assert rows == {1: '{"k": 2}', 2: "{}"}


def test_entities_are_isolated_per_type(cat):
    cat.create("source_system", 1, "src")
    cat.create("target_system", 1, "tgt")
    assert cat.read("source_system", 1).collect()[0]["name"] == "src"
    assert cat.read("target_system", 1).collect()[0]["name"] == "tgt"


def test_source_system_provisions_landing_prefix(cat, tmp_path):
    """create_source also provisions storage — the CFT's per-source
    bucket + init/ prefix (cft/sourceSystem.yaml:20-27,77)."""
    import os

    cat.create("source_system", 7, "s7")
    assert os.path.isdir(str(tmp_path / "wh" / "lake" / "7" / "init"))


def test_audit_every_call_including_reads(cat):
    cat.create("source_system", 1, "a")
    cat.read("source_system", 1)
    cat.read("source_system", 999)
    cat.flush_audit()
    log = {(r["method_name"],): r for r in cat.audit_log().collect()}
    methods = [r["method_name"] for r in cat.audit_log().collect()]
    assert methods.count("source_system/create") == 1
    assert methods.count("source_system/read") == 2
    assert all(r["api_call_type"] == "synchronous" for r in cat.audit_log().collect())


def test_conditional_event_update(cat):
    cat._audit("m", None, request_id="r1")
    cat.flush_audit()
    assert cat.update_event_status("r1", "m", "done") == 1
    assert cat.update_event_status("nope", "m", "done") == 0
    statuses = {r["aws_request_id"]: r["status"] for r in cat.audit_log().collect()}
    assert statuses["r1"] == "done"


# ---------------------------------------------------------------- dispatch


def test_health_probe():
    assert health() == {"statusCode": 200, "body": "API health is ok"}


def test_dispatch_routes_and_404s(cat):
    ok = dispatch(cat, "/sourcesystem/create",
                  {"entity_id": 3, "name": "n3"}, tasktype="create")
    assert ok["statusCode"] == 200
    got = dispatch(cat, "/sourcesystem/read", {"entity_id": 3}, tasktype="read")
    assert got["statusCode"] == 200 and got["body"][0]["name"] == "n3"
    assert dispatch(cat, "/nosuch/create", {}, tasktype="x")["statusCode"] == 404
    assert dispatch(cat, "/sourcesystem/frobnicate", {}, tasktype="x")["statusCode"] == 404
    assert dispatch(cat, "/health", tasktype="x")["statusCode"] == 200


def test_dispatch_requires_tasktype_but_routes_by_path(cat):
    """The reference's quirk, preserved: tasktype must be PRESENT
    (gateway validation, swagger :268-271) but routing uses the path
    (lambda_function.py:133-141)."""
    assert dispatch(cat, "/sourcesystem/create", {"entity_id": 1})["statusCode"] == 400
    ok = dispatch(cat, "/sourcesystem/create",
                  {"entity_id": 1, "name": "x"}, tasktype="NOT-the-route")
    assert ok["statusCode"] == 200  # routed by path, not tasktype


def test_config_scoped_warehouse_paths(spark, tmp_path):
    """GlobalConfig.fm_prefix namespaces every table directory
    (reference: fm_prefix-derived bucket names, globalConfig.json:3)."""
    from aws_datalake_framework_api_spark.config import GlobalConfig

    cfg = GlobalConfig(fm_prefix="acme")
    cat = Catalog(spark, str(tmp_path / "wh"), config=cfg)
    assert cat.create("source_system", 1, "x")["statusCode"] == 200
    assert (tmp_path / "wh" / "acme.source_system").is_dir()
    cat.flush_audit()
    assert (tmp_path / "wh" / "acme.api_events").is_dir()
    assert cat.read("source_system", 1).count() == 1
    # unprefixed catalog in the same warehouse doesn't collide
    plain = Catalog(spark, str(tmp_path / "wh"))
    assert plain.load("source_system").count() == 0


def test_global_config_loads_reference_shape(tmp_path):
    from aws_datalake_framework_api_spark.config import GlobalConfig

    p = tmp_path / "globalConfig.json"
    p.write_text(
        '{"aws_account": "123", "fm_prefix": "dl-fmwrk", "primary_region": '
        '"us-east-2", "secondary_region": "us-east-1", "log_type": "S", '
        '"secret_name": "cape_privacy_key", "unknown_key": 1}'
    )
    cfg = GlobalConfig.load(str(p))
    assert cfg.account == "123"
    assert cfg.fm_prefix == "dl-fmwrk"
    assert cfg.secret_name == "cape_privacy_key"
    assert cfg.table_name("data_asset") == "dl-fmwrk.data_asset"


def test_deltalog_catalog_is_time_travelable_delta(spark, tmp_path):
    """The deltalog backend writes REAL Delta tables: the catalog's
    mutation history stays readable with the protocol reader's
    versionAsOf — every CRUD commit is a Delta log version."""
    from aws_datalake_framework_api_spark.sources.delta import read_delta

    cat = Catalog(spark, str(tmp_path / "wh"), backend="deltalog")
    cat.create("source_system", 1, "alpha")
    cat.update("source_system", 1, name="beta")
    d = cat._table_dir("source_system")
    latest = read_delta(spark, d).filter("entity_id = 1").collect()
    assert latest[0]["name"] == "beta"
    v0 = read_delta(spark, d, version_as_of=0).filter("entity_id = 1").collect()
    assert v0[0]["name"] == "alpha"


def test_txlog_point_update_rewrites_no_data_dir(spark, tmp_path):
    """A2 at scale (VERDICT r5 'what's wrong' #1): on the unbounded
    audit table a point status flip must NOT rewrite the table.  The
    txlog path commits one tombstone-keys dir + one patch dir; every
    pre-existing data dir survives byte-identical."""
    import os

    from aws_datalake_framework_api_spark.txlog import TxLogTable

    cat = Catalog(spark, str(tmp_path / "wh"), backend="txlog")
    for i in range(3):  # three flushes -> three immutable data dirs
        cat._audit("m", None, request_id=f"r{i}")
        cat.flush_audit()
    d = os.path.join(cat.warehouse, "api_events")
    tbl = TxLogTable(spark, d)
    before = tbl.snapshot()
    files_before = {
        dd: sorted(os.listdir(os.path.join(d, dd))) for dd in before["dirs"]
    }
    mtimes_before = {
        dd: [os.path.getmtime(os.path.join(d, dd, f)) for f in fs]
        for dd, fs in files_before.items()
    }
    assert cat.update_event_status("r1", "m", "done") == 1
    after = tbl.snapshot()
    # every old dir is still listed, in order, and physically untouched
    assert after["dirs"][: len(before["dirs"])] == before["dirs"]
    assert len(after["dirs"]) == len(before["dirs"]) + 1  # exactly one patch dir
    for dd, fs in files_before.items():
        assert sorted(os.listdir(os.path.join(d, dd))) == fs
        assert [
            os.path.getmtime(os.path.join(d, dd, f)) for f in fs
        ] == mtimes_before[dd]
    # one new DV entry covering exactly the pre-existing dirs
    assert len(after["dv"]) == len(before.get("dv", [])) + 1
    assert after["dv"][-1]["covers"] == before["dirs"]
    # and the read is correct: r1 flipped, siblings untouched, no dupes
    rows = cat.audit_log().collect()
    assert len(rows) == 3
    statuses = {r["aws_request_id"]: r["status"] for r in rows}
    assert statuses == {"r0": "success", "r1": "done", "r2": "success"}
    # a second update on another key stacks the same way (still no rewrite)
    assert cat.update_event_status("r2", "m", "done") == 1
    assert {r["aws_request_id"]: r["status"] for r in cat.audit_log().collect()} == {
        "r0": "success", "r1": "done", "r2": "done",
    }


def test_deltalog_point_update_rewrites_only_hit_files(spark, tmp_path):
    """Same A2 contract on the open Delta format: the UPDATE commit
    removes+re-adds ONLY the file(s) holding the matched row; the
    other data files stay active under their original paths and are
    physically untouched."""
    import json as _json
    import os

    cat = Catalog(spark, str(tmp_path / "wh"), backend="deltalog")
    for i in range(3):  # three append commits -> three data files
        cat._audit("m", None, request_id=f"r{i}")
        cat.flush_audit()
    d = os.path.join(cat.warehouse, "api_events")
    log = os.path.join(d, "_delta_log")

    def active_paths(version):
        files: dict[str, bool] = {}
        for v in range(version + 1):
            with open(os.path.join(log, f"{v:020d}.json")) as fh:
                for line in fh:
                    a = _json.loads(line)
                    if "add" in a:
                        files[a["add"]["path"]] = True
                    elif "remove" in a:
                        files.pop(a["remove"]["path"], None)
        return set(files)

    before = active_paths(2)
    mtimes = {p: os.path.getmtime(os.path.join(d, p)) for p in before}
    assert cat.update_event_status("r1", "m", "done") == 1
    with open(os.path.join(log, f"{3:020d}.json")) as fh:
        actions = [_json.loads(line) for line in fh]
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    adds = [a["add"]["path"] for a in actions if "add" in a]
    assert len(removes) == 1 and len(adds) == 1  # one hit file rewritten
    assert removes[0] in before
    survivors = before - set(removes)
    assert active_paths(3) == survivors | set(adds)
    for p in survivors:  # untouched on disk, not just still-listed
        assert os.path.getmtime(os.path.join(d, p)) == mtimes[p]
    statuses = {r["aws_request_id"]: r["status"] for r in cat.audit_log().collect()}
    assert statuses == {"r0": "success", "r1": "done", "r2": "success"}


def test_iceberg_point_update_rewrites_no_data_file(spark, tmp_path):
    """A2 on the Iceberg backend: the status flip commits one position-
    delete file + one patch file in ONE snapshot; every pre-existing
    data file survives byte-identical, and history stays
    time-travelable."""
    import os

    from aws_datalake_framework_api_spark.sources.iceberg import (
        history_iceberg, read_iceberg,
    )

    cat = Catalog(spark, str(tmp_path / "wh"), backend="iceberg")
    for i in range(3):
        cat._audit("m", None, request_id=f"r{i}")
        cat.flush_audit()
    d = os.path.join(cat.warehouse, "api_events")
    data_dir = os.path.join(d, "data")
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
    }
    assert cat.update_event_status("r1", "m", "done") == 1
    for f, mt in before.items():
        assert os.path.getmtime(os.path.join(data_dir, f)) == mt
    rows = cat.audit_log().collect()
    assert {r["aws_request_id"]: r["status"] for r in rows} == {
        "r0": "success", "r1": "done", "r2": "success",
    }
    h = history_iceberg(spark, d)
    assert [x["operation"] for x in h] == [
        "append", "append", "append", "overwrite",
    ]
    # pre-update snapshot still shows the old status
    old = read_iceberg(spark, d, snapshot_id=h[2]["snapshot_id"])
    assert {r["aws_request_id"]: r["status"] for r in old.collect()} == {
        "r0": "success", "r1": "success", "r2": "success",
    }
