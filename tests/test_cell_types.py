"""Layouts record whether they are PUT-only.

``Admin.flush`` reads the type statistics in the footers of the files
it just wrote and records a PUT-only layout under the version dirs it
describes; ``Admin.table()`` hands the fact to ``Table``, whose reads
then resolve with no tombstone masking (operators.resolve).  These
tests pin when the record holds and when it reads as unknown.
"""

import glob
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hbase_spark.admin import Admin, _holds_tombstones
from hbase_spark.model import CellType
from hbase_spark.operators.mutations import make_cells
from hbase_spark.table import FamilyDescriptor, Table

PUT, DC = CellType.PUT, CellType.DELETE_COLUMN
NONE = frozenset()  # the recorded delete kinds of a PUT-only layout


@pytest.fixture
def admin(spark, tmp_path):
    return Admin(spark, str(tmp_path / "catalog"))


def _put_table(admin, name="t", n=40, splits=None):
    # declared splits: a flush then runs no range-sampling job
    admin.create_table(name, ["f"], splits=splits)
    puts = [(f"r{i:03d}", "f", "q", f"v{i}") for i in range(n)]
    admin.flush(name, admin.table(name).put(puts, ts=1, seq=1), num_regions=4)


def _visible(table, rows=("r001", "r002")):
    got = table.multi_get(list(rows), qualifiers=["q"]).collect()
    return sorted((r.row, r.value) for r in got)


def test_flush_records_put_only_and_masks_after_delete(admin):
    _put_table(admin, splits=["r020"])
    t = admin.table("t")
    assert t._delete_kinds == NONE
    desc = admin.describe("t")
    assert desc["put_only"] == {"data_dir": desc["data_dir"], "mob_dir": None}
    assert _visible(t) == [("r001", "v1"), ("r002", "v2")]
    t = t.delete([("r001", "f", "q")], ts=2, seq=2)
    admin.flush("t", t, num_regions=4)
    t = admin.table("t")
    assert t._delete_kinds is None
    assert _visible(t) == [("r002", "v2")]
    # the read half of a read-modify-write sees the mask too
    bumped = t.increment([("r001", "f", "n", 5), ("r002", "f", "n", 1)], ts=3, seq=3)
    admin.flush("t", bumped, num_regions=4)
    t = admin.table("t")
    assert t._delete_kinds is None
    got = t.snapshot().filter(F.col("qualifier") == "n").collect()
    assert sorted((r.row, r.value) for r in got) == [("r001", "5"), ("r002", "1")]
    # major compaction drops the marker, so its layout is PUT-only again
    admin.major_compact("t", num_regions=4)
    assert admin.table("t")._delete_kinds == NONE
    assert _visible(admin.table("t")) == [("r002", "v2")]


def test_repoints_give_matching_facts_or_unknown(admin):
    _put_table(admin)
    admin.snapshot("s_put", "t")
    # split and merge re-read the footers of the dir they write
    admin.split_region("t", "r020")
    assert admin.table("t")._delete_kinds == NONE
    admin.merge_region("t", "r001", "r039")
    assert admin.table("t")._delete_kinds == NONE
    assert _visible(admin.table("t")) == [("r001", "v1"), ("r002", "v2")]

    admin.flush(
        "t",
        admin.table("t").delete([("r001", "f", "q")], ts=2, seq=2),
        num_regions=4,
    )
    assert admin.table("t")._delete_kinds is None
    marked = glob.glob(f"{admin._abs_data_dir(admin.describe('t'), 't')}/family=f/*.parquet")
    # restore and clone point at a dir no flush of theirs recorded
    admin.disable_table("t")
    admin.restore_snapshot("s_put")
    admin.enable_table("t")
    assert admin.table("t")._delete_kinds is None
    assert _visible(admin.table("t")) == [("r001", "v1"), ("r002", "v2")]
    admin.clone_snapshot("s_put", "c")
    assert admin.table("c")._delete_kinds is None
    # refresh_hfiles re-reads the footers, adopted files included
    admin.flush("c", admin.table("c"), num_regions=4)
    assert admin.table("c")._delete_kinds == NONE
    c_dir = admin._abs_data_dir(admin.describe("c"), "c")
    for i, f in enumerate(marked):
        shutil.copy(f, f"{c_dir}/family=f/oob-{i}.parquet")
    admin.refresh_hfiles("c")
    assert admin.table("c")._delete_kinds is None
    assert _visible(admin.table("c")) == [("r002", "v2")]
    # truncate repoints at a new empty dir; flushing it records PUT-only
    admin.flush("t", admin.table("t"), num_regions=4)
    assert admin.table("t")._delete_kinds == NONE
    admin.truncate_table("t")
    assert admin.table("t")._delete_kinds is None
    assert admin.table("t").snapshot().count() == 0
    started = time.monotonic()
    admin.flush("t", admin.table("t"), num_regions=4)
    assert time.monotonic() - started < 10
    assert admin.table("t")._delete_kinds == NONE


def test_mob_flush_reads_both_stores(spark, admin):
    admin.create_table(
        "m", {"f": FamilyDescriptor(mob_threshold=4)}, splits=["r2"]
    )
    t = admin.table("m").put(
        [("r1", "f", "a", "abc"), ("r2", "f", "a", "long value")],
        ts=1,
        seq=1,
    )
    admin.flush("m", t, num_regions=2)
    assert admin.describe("m")["mob_dir"]
    assert admin.table("m")._delete_kinds == NONE
    admin.flush("m", t.delete([("r1", "f", "a")], ts=2, seq=2), num_regions=2)
    assert admin.table("m")._delete_kinds is None
    assert admin.table("m").snapshot().select("row").collect() == [("r2",)]
    # a mob dir left by an earlier flush is still part of the layout:
    # its footers are read with the new data dir's
    admin.alter("m", "f", FamilyDescriptor())
    fresh = make_cells(spark, [("r3", "f", "a", 3, PUT, "xyz", 3)])
    admin.flush("m", Table(fresh), num_regions=2)
    assert admin.describe("m")["mob_dir"]
    assert admin.table("m")._delete_kinds == NONE


def test_range_sampled_flush_records_every_kind(spark, admin):
    # no declared splits: repartitionByRange samples the frame in a
    # job of its own before the write; the footers see only the write
    rows = [
        (f"r{i:02d}", "f", "q", 10 + i, kind, None, i)
        for i, kind in enumerate(
            [PUT, PUT, CellType.DELETE, DC, CellType.DELETE_FAMILY,
             CellType.DELETE_FAMILY_VERSION] * 4
        )
    ]
    admin.create_table("k", ["f"])
    admin.flush("k", Table(make_cells(spark, rows)), num_regions=4)
    assert admin.table("k")._delete_kinds is None
    puts = make_cells(spark, [r for r in rows if r[4] == PUT])
    admin.flush("k", Table(puts), num_regions=4)
    assert admin.table("k")._delete_kinds == NONE


def test_footers_without_type_statistics_read_as_unknown(tmp_path):
    data = pa.table({"row": ["a", "b"], "type": pa.array([4, 4], pa.int8())})
    pq.write_table(data, tmp_path / "stats.parquet")
    assert _holds_tombstones([str(tmp_path)]) is False
    pq.write_table(data, tmp_path / "nostats.parquet", write_statistics=False)
    assert _holds_tombstones([str(tmp_path)]) is None
    assert _holds_tombstones(["unknownfs://host/dir"]) is None
