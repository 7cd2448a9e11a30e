"""The versioned table has one format: every manifest carries file-level
metadata (``files``, ``files_pq`` or ``add``/``remove``) plus a
``schema``. Readers refuse anything else with ``ProtocolError``; every
writer commits only that shape. Also pins the merge's interval-pruning
fallback (batches above ``_PRUNE_MAX_KEYS`` distinct keys) against the
key-set path."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT
from kinesis_app_spark.operators.txn import vt_transaction
from kinesis_app_spark.sources import vt_writer as W
from kinesis_app_spark.sources.vt_cdf import VersionedCdfDataSource

_FILE_LEVEL = {"files", "files_pq", "add", "remove"}


def _legacy_table(tmp_path, shape: str) -> str:
    """Two hand-written versions in a shape no writer produces:
    ``opaque_dir`` (one data dir, no file list, no schema) or
    ``no_schema`` (a file list but no schema)."""
    table = str(tmp_path / "legacy")
    data_dir = os.path.join(table, "data", "v00000_legacy")
    os.makedirs(data_dir)
    part = os.path.join(data_dir, "part-0.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), part)
    os.makedirs(VT._manifest_dir(table))
    for v in (0, 1):
        m = {"version": v, "data_dir": data_dir, "n_rows": 3,
             "operation": "CREATE" if v == 0 else "MERGE"}
        if shape == "no_schema":
            m["files"] = [{"path": part, "n_rows": 3, "stats": {}}]
        with open(VT._manifest_path(table, v), "w") as fh:
            json.dump(m, fh)
    return table


_READERS = {
    "vt_read": lambda spark, t: VT.vt_read(spark, t),
    "vt_scan": lambda spark, t: VT.vt_scan(spark, t, [("k", "=", 1)]),
    "vt_merge": lambda spark, t: VT.vt_merge(
        spark, t,
        spark.createDataFrame([(1, "z", "U")], "k long, v string, op string"),
        keys=["k"],
    ),
    "vt_changes": lambda spark, t: VT.vt_changes(spark, t, 0, 1, ["k"]),
    "vt_table": lambda spark, t: W.VersionedTableDataSource(
        {"path": t}
    ).reader(None),
    "vt_cdf": lambda spark, t: VersionedCdfDataSource(
        {"path": t, "keys": "k"}
    ).reader(None),
}


@pytest.mark.parametrize("shape", ["opaque_dir", "no_schema"])
@pytest.mark.parametrize("reader", sorted(_READERS))
def test_manifest_without_file_level_metadata_is_refused(
    spark, tmp_path, reader, shape
):
    table = _legacy_table(tmp_path, shape)
    with pytest.raises(VT.ProtocolError, match="file-level"):
        _READERS[reader](spark, table)
    # nothing was committed on top of the refused table
    assert VT.vt_latest_version(table) == 1


def test_every_writer_commits_file_level_manifests(spark, tmp_path):
    W.register(spark)
    table = str(tmp_path / "vt")
    rows = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("n"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("v"),
    )
    chg_schema = "k long, n int, v string, op string"
    VT.vt_create(rows.repartition(4), table)
    VT.vt_merge(spark, table, spark.createDataFrame(
        [(1, 1, "m", "U"), (50, 5, "new", "U")], chg_schema), keys=["k"])
    VT.vt_delete(spark, table, [("k", "=", 2)])
    VT.vt_update(spark, table, [("k", "=", 3)], {"v": "'u'"})
    VT.vt_delete_dv(spark, table, [("k", "=", 4)])
    VT.vt_compact(spark, table, min_rows_per_file=1000)
    VT.vt_optimize(spark, table, ["k"])
    VT.vt_merge(spark, table, spark.createDataFrame(
        [(60, 6, "late", "U")], chg_schema), keys=["k"])
    VT.vt_cluster_incremental(spark, table, ["k"])
    VT.vt_index_bloom(spark, table, ["k"])
    spark.createDataFrame([(70, 0, "sink")], "k long, n int, v string") \
        .write.format("vt_table").option("path", table).mode("append").save()
    with vt_transaction(spark, str(tmp_path / "coord")) as txn:
        txn.stage_append(table, spark.createDataFrame(
            [(80, 0, "txn")], "k long, n int, v string"))
    VT.vt_restore(spark, table, VT.vt_latest_version(table) - 1)
    VT.vt_add_constraint(spark, table, "k_nonneg", "k >= 0")
    VT.vt_drop_constraint(table, "k_nonneg")
    VT.vt_add_column(table, "extra", "string")
    VT.vt_rename_column(table, "v", "w")
    VT.vt_widen_column(table, "n", "bigint")
    VT.vt_drop_column(table, "extra")

    ops = []
    for v in range(VT.vt_latest_version(table) + 1):
        with open(VT._manifest_path(table, v)) as fh:
            m = json.load(fh)  # raw JSON: independent of the read check
        ops.append(m["operation"].split("(")[0])
        assert m.get("schema"), (v, m["operation"])
        assert _FILE_LEVEL & m.keys(), (v, m["operation"])
    assert ops == [
        "CREATE", "MERGE", "DELETE", "UPDATE", "DELETE_DV", "COMPACT",
        "OPTIMIZE", "MERGE", "CLUSTER", "BLOOM", "APPEND", "APPEND",
        "RESTORE", "ADD_CONSTRAINT", "DROP_CONSTRAINT", "ADD_COLUMN",
        "RENAME_COLUMN", "WIDEN_COLUMN", "DROP_COLUMN",
    ]
    # the restore took the table back to the sink append's snapshot
    got = {r["k"]: r["w"] for r in VT.vt_read(spark, table).collect()}
    assert got[70] == "sink" and 80 not in got and 2 not in got


def test_merge_interval_fallback_matches_key_set_path(
    spark, tmp_path, monkeypatch
):
    """A batch with more distinct keys than ``_PRUNE_MAX_KEYS`` prunes
    by the batch's global key interval instead of its key set; both
    paths must merge to the same rows."""
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "k")
    changes = spark.createDataFrame(
        [(5, -1, "U"), (150, None, "D"), (151, -2, "U"), (1000, 7, "I")],
        "k long, v long, op string",
    )
    tables = {}
    for path in ("key_set", "interval"):
        tables[path] = str(tmp_path / path)
        VT.vt_create(base, tables[path])
    calls = []
    orig_stats = VT._change_key_stats

    def spy(chg, keys):
        calls.append(keys)
        return orig_stats(chg, keys)

    monkeypatch.setattr(VT, "_change_key_stats", spy)
    VT.vt_merge(spark, tables["key_set"], changes, keys=["k"])
    assert not calls  # 4 distinct keys: the key-set path
    monkeypatch.setattr(VT, "_PRUNE_MAX_KEYS", 2)
    VT.vt_merge(spark, tables["interval"], changes, keys=["k"])
    assert calls == [["k"]]  # > 2 distinct keys: the interval fallback

    def rows(t):
        return sorted(tuple(r) for r in VT.vt_read(spark, t).collect())

    got = rows(tables["interval"])
    assert got == rows(tables["key_set"])
    assert len(got) == 400  # -1 delete, +1 insert
    assert (5, -1) in got and (1000, 7) in got and (151, -2) in got
    assert all(k != 150 for k, _ in got)
