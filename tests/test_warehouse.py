"""Snapshot-warehouse semantics (sources/tables.py): the Iceberg-subset
contract the engine relies on — append/overwrite commits, time travel,
rollback, vacuum, and the hive-partitioned layout used by the salted
frontier (including that plain and partitioned layouts are
interchangeable on read)."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapeulous_spark.sources.tables import Warehouse

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("host_bucket", T.IntegerType()),
    ]
)


@pytest.fixture()
def table(tmp_path):
    return Warehouse(str(tmp_path)).table("t", SCHEMA)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 4).cast("int").alias("host_bucket"),
    )


def test_append_overwrite_and_time_travel(spark, table):
    s1 = table.append(_df(spark, 0, 5))
    s2 = table.append(_df(spark, 5, 8))
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    assert s2["parent_id"] == 1
    assert table.read(spark).count() == 8
    # time travel: snapshot 1 still reads the first commit only
    assert table.read(spark, snapshot_id=1).count() == 5
    s3 = table.overwrite(_df(spark, 100, 102))
    assert table.read(spark).count() == 2
    assert table.read(spark, snapshot_id=2).count() == 8
    assert s3["snapshot_id"] == 3


def test_rollback_discards_newer_commits(spark, table):
    table.append(_df(spark, 0, 5))
    table.append(_df(spark, 5, 8))
    table.rollback(1)
    assert table.current()["snapshot_id"] == 1
    assert table.read(spark).count() == 5
    # rollback(0) truncates
    table.rollback(0)
    assert table.current() is None
    assert table.read(spark).count() == 0


def test_vacuum_keeps_only_current(spark, table):
    table.append(_df(spark, 0, 5))
    table.overwrite(_df(spark, 0, 3))
    table.vacuum()
    assert table.read(spark).count() == 3
    # the pre-overwrite snapshot's data dir is gone
    with pytest.raises(Exception):
        table.read(spark, snapshot_id=1).count()


def test_partitioned_and_plain_layouts_interchange(spark, table):
    """The frontier writes hive-partitioned (expand) and plain with the
    bucket as a data column (drain); the schema-specified read must
    serve both — including across commits in one table."""
    table.append(_df(spark, 0, 8), partition_by="host_bucket")
    table.append(_df(spark, 8, 12))  # plain layout, same schema
    got = table.read(spark)
    assert got.count() == 12
    assert set(got.columns) == {"k", "v", "host_bucket"}
    # values survive both layouts
    assert sorted(r.host_bucket for r in got.filter("k in (2, 10)").collect()) == [2, 2]


def test_partitioned_layout_recorded_in_manifest(spark, table):
    """Each commit records which data dirs are hive-partitioned, so a
    read never lists a dir to find its layout; the partitioned dir
    keeps its directory-pruned scan."""
    table.append(_df(spark, 0, 8), partition_by="host_bucket")
    snap = table.append(_df(spark, 8, 12))
    assert list(snap["partitioned"].values()) == ["host_bucket"]
    assert set(snap["partitioned"]) < set(snap["dirs"])
    assert table.overwrite(_df(spark, 0, 2))["partitioned"] == {}
    table.append(_df(spark, 2, 6), partition_by="host_bucket")
    got = table.read(spark).filter("host_bucket = 1")
    assert sorted(r.k for r in got.collect()) == [1, 5]


def test_half_written_manifest_is_not_a_snapshot(spark, table):
    """A concurrent commit writes its manifest to a ``.tmp-*`` file and
    renames it into place; until then readers must not parse it."""
    table.append(_df(spark, 0, 3))
    with open(f"{table._snap_dir}/.tmp-0123abcd", "w") as f:
        f.write('{"snapshot_id": 2, "dirs": [')  # cut mid-write
    assert [s["snapshot_id"] for s in table.snapshots()] == [1]
    assert table.read(spark).count() == 3
    assert table.append(_df(spark, 3, 4))["snapshot_id"] == 2


def test_lineage_recorded_on_snapshot(spark, table):
    snap = table.append(_df(spark, 0, 2), lineage={"superstep": 7, "stage": "x"})
    assert snap["lineage"] == {"superstep": 7, "stage": "x"}
    assert table.current()["lineage"]["superstep"] == 7
