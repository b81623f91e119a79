"""Delete scoping at MoR scan planning: a data file no live delete can
touch is read plainly, the rest are anti-joined only against the delete
files that can match them.  Each case checks the scoped scan against an
apply-all model (every delete file against every data file, in plain
Python over the parquet contents) under both join plans, the default
broadcast and ``autoBroadcastJoinThreshold=-1`` (shuffled), and checks
which files the planner scoped through ``plan_report``.  Tables are a few
rows per file so the cases stay cheap.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

from iceberg_data_gen_spark.table import table as table_module
from iceberg_data_gen_spark.table.catalog import LocalCatalog
from iceberg_data_gen_spark.table.table import (
    Field,
    MoRTable,
    TableSchema,
    _file_id,
)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
SCHEMA = "foo string, bar int"


def _schema() -> TableSchema:
    return TableSchema(
        fields=[
            Field(1, "foo", "string", required=False),
            Field(2, "bar", "int", required=False),
        ],
        identifier_field_ids=[2],
    )


def _table(spark, tmp_path, name: str) -> MoRTable:
    return MoRTable.create(spark, str(tmp_path / name), _schema())


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _bars(spark, lo: int, hi: int):
    return _rows(spark, [(f"k{i}", i) for i in range(lo, hi)])


def _keys(spark, lo: int, hi: int):
    """Equality-delete rows on ``bar`` for keys ``lo..hi-1``."""
    return _bars(spark, lo, hi).select("bar")


def _model(t: MoRTable, snapshot_id: int | None = None, meta: bool = False) -> Counter:
    """Apply-all reference state: a position delete removes the named
    (file, pos); an equality delete removes null-safe key matches from
    every data file with a strictly older sequence number."""
    import pyarrow.parquet as pq

    files = t._files_of_kind(None, snapshot_id)
    cols = [f.name for f in t.schema.fields]
    pos = {
        (r["file_path"], r["pos"])
        for f in files
        if f["kind"] == "pos-delete"
        for r in pq.read_table(f["path"]).to_pylist()
    }
    eq = []
    for f in files:
        if f["kind"] == "eq-delete":
            keys = t.schema.names_for_ids(list(f["equality_ids"]))
            rows = pq.read_table(f["path"]).to_pylist()
            eq.append((f["sequence_number"], keys, {tuple(r[c] for c in keys) for r in rows}))
    out: Counter = Counter()
    for f in files:
        if f["kind"] != "data":
            continue
        path = _file_id(f["path"])
        for i, r in enumerate(pq.read_table(f["path"]).to_pylist()):
            if (path, i) in pos or any(
                seq > f["sequence_number"] and tuple(r.get(c) for c in keys) in hit
                for seq, keys, hit in eq
            ):
                continue
            row = tuple(r.get(c) for c in cols)
            out[row + (path, i) if meta else row] += 1
    return out


def _assert_exact(spark, t: MoRTable, expected: Counter, **scan_kw) -> None:
    """``scan(**scan_kw)`` returns exactly ``expected`` under the
    broadcast plan and under the shuffled one."""
    meta = scan_kw.pop("keep_meta", False)
    prev = spark.conf.get(THRESHOLD)
    for threshold in (prev, "-1"):
        spark.conf.set(THRESHOLD, threshold)
        try:
            if meta:
                df = t._scan_resolved(keep_meta=True, **scan_kw)
            else:
                df = t.scan(**scan_kw)
            got = Counter(tuple(r) for r in df.collect())
        finally:
            spark.conf.set(THRESHOLD, prev)
        assert got == expected, (threshold, got - expected, expected - got)


def _assert_summary(t: MoRTable) -> None:
    s = t.summary(measure=True)
    assert s["measured_total"] == s["derived_total"], s


def _pos_deletes(spark, path: str, positions: list[int]):
    return spark.createDataFrame([(path, p) for p in positions], "file_path string, pos long")


def _has_join(df) -> bool:
    return "Join" in df._jdf.queryExecution().optimizedPlan().toString()


def test_null_keys_and_the_fallback_without_delete_stats(spark, tmp_path):
    """Non-null key bounds are disjoint, but nulls on both sides can
    match null-safely: the file with a null key stays in scope and its
    null row is deleted; the null-free disjoint file is read plainly.
    With the stats stripped, as in tables committed before delete stats
    existed, every delete applies to every older data file."""
    t = _table(spark, tmp_path, "nulls")
    snap = t.append_batches(
        [
            _rows(spark, [(None, 1), ("a", 2), ("b", 3)]),
            _rows(spark, [("c", 4), ("d", 5)]),
            _rows(spark, [("x", 6), ("y", 7)]),
        ]
    )
    t.add_equality_deletes(
        spark.createDataFrame([(None,), ("x",)], "foo string"), equality_ids=[1]
    )
    t.add_position_deletes(
        spark.createDataFrame([(snap["files"][2]["path"], 1)], "file_path string, pos long")
    )
    assert t.plan_report({})["files_with_deletes"] == 2
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [2, 3, 4, 5]
    _assert_exact(spark, t, expected)
    _assert_summary(t)

    for snap in t._meta["snapshots"]:
        for f in snap["files"]:
            f.pop("null_counts")
            if f["kind"] != "data":
                f.pop("stats")
    t._write_meta()
    legacy = MoRTable(spark, str(tmp_path / "nulls"))
    assert legacy.plan_report({})["files_with_deletes"] == 3
    _assert_exact(spark, legacy, expected)
    pruned = Counter({r: n for r, n in expected.items() if 4 <= r[1] <= 5})
    _assert_exact(spark, legacy, pruned, where={"bar": (4, 5)})


def test_equality_delete_before_later_append(spark, tmp_path):
    """A file appended after an equality delete is never in its scope,
    even where the key bounds overlap."""
    t = _table(spark, tmp_path, "later")
    a = t.append(_bars(spark, 0, 10), single_file=True)["files"][0]["path"]
    t.add_position_deletes(
        spark.createDataFrame([(a, 5)], "file_path string, pos long")
    )
    t.add_equality_deletes(_keys(spark, 1, 3), equality_ids=[2])
    t.append(_bars(spark, 0, 10), single_file=True)
    assert t.plan_report({})["files_with_deletes"] == 1
    _assert_exact(spark, t, _model(t))
    _assert_summary(t)


def test_merge_inserts_share_the_delete_sequence_number(spark, tmp_path):
    t = _table(spark, tmp_path, "merge")
    t.append(_bars(spark, 0, 10), single_file=True)
    t.merge(_rows(spark, [("m1", 1), ("m20", 20)]))
    # the merge's own inserts are out of scope of its equality delete
    assert t.plan_report({})["files_with_deletes"] == 1
    t.merge(_rows(spark, [("n20", 20)]))
    expected = _model(t)
    assert ("m1", 1) in expected and ("n20", 20) in expected
    assert ("k1", 1) not in expected and ("m20", 20) not in expected
    _assert_exact(spark, t, expected)


def test_rollback_keeps_file_level_sequence_numbers(spark, tmp_path):
    t = _table(spark, tmp_path, "rollback")
    t.append(_bars(spark, 0, 10), single_file=True)  # snapshot 1, seq 1
    t.add_equality_deletes(_keys(spark, 3, 4), equality_ids=[2])  # seq 2
    t.append(_bars(spark, 0, 10), single_file=True)  # snapshot 3, seq 3
    t.add_equality_deletes(_keys(spark, 4, 5), equality_ids=[2])  # seq 4
    t.rollback(3)  # re-references seq 1/2/3 files in a seq-5 baseline
    # the seq-2 delete still scopes to the seq-1 file only
    assert t.plan_report({})["files_with_deletes"] == 1
    t.append(_rows(spark, [("k15", 15)]), single_file=True)
    t.add_equality_deletes(_keys(spark, 15, 16), equality_ids=[2])
    # two touched files with different sequence numbers
    assert t.plan_report({})["files_with_deletes"] == 2
    expected = _model(t)
    assert sum(expected.values()) == 19
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_compact_leaves_no_file_in_scope(spark, tmp_path):
    t = _table(spark, tmp_path, "compact")
    t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    t.add_equality_deletes(_keys(spark, 3, 5), equality_ids=[2])
    t.compact()
    assert t.plan_report({})["files_with_deletes"] == 0
    t.add_equality_deletes(_keys(spark, 12, 13), equality_ids=[2])
    expected = _model(t)
    assert sum(expected.values()) == 17
    _assert_exact(spark, t, expected)


def test_partition_filter_groups(spark, tmp_path):
    """Scoping splits each residual-key group of a partition-evolved
    table: untouched files of both specs read plainly."""
    t = _table(spark, tmp_path, "parts")
    t.update_spec([{"source": "foo", "transform": "identity"}])
    t.append(_rows(spark, [("p", i) for i in range(5)] + [("q", i) for i in range(5, 10)]))
    t.update_spec([{"source": "bar", "transform": "bucket", "n": 2}])
    t.append(_rows(spark, [("p", i) for i in range(10, 14)] + [("q", i) for i in range(14, 18)]))
    t.add_equality_deletes(_keys(spark, 2, 4), equality_ids=[2])
    t.add_position_deletes(
        t._scan_resolved(keep_meta=True)
        .where(F.col("bar") == 13)
        .select(F.col("__file").alias("file_path"), F.col("__pos").alias("pos"))
    )
    # the delete bounds (2..3, the bar=13 file) leave the q identity
    # file (bars 5..9) and the even bucket file untouched
    assert t.plan_report({})["files_with_deletes"] == 2
    for probe in ("p", "q"):
        expected = Counter({r: n for r, n in _model(t).items() if r[0] == probe})
        _assert_exact(spark, t, expected, partition_filter={"foo": probe})
    _assert_summary(t)


def test_keep_meta_through_delete_where(spark, tmp_path):
    """delete_where reads with keep_meta=True: plain (untouched) files
    must carry ``__file``/``__pos`` too, or their rows cannot be named."""
    t = _table(spark, tmp_path, "dw")
    t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    t.add_equality_deletes(_keys(spark, 3, 4), equality_ids=[2])
    assert t.plan_report({})["files_with_deletes"] == 1
    _assert_exact(spark, t, _model(t, meta=True), keep_meta=True)
    t.delete_where(F.col("bar") >= 8)
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [0, 1, 2, 4, 5, 6, 7]
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_plan_report_counts_files_with_deletes(spark, tmp_path):
    """``files_with_deletes`` counts the SURVIVING files that still pay
    anti-joins, decided as the scan decides."""
    t = _table(spark, tmp_path, "report")
    t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20), _bars(spark, 20, 30)])
    t.add_equality_deletes(_keys(spark, 12, 13), equality_ids=[2])
    assert t.plan_report({}) == {
        "total_files": 3,
        "pruned_files": 0,
        "surviving_files": 3,
        "files_with_deletes": 1,
    }
    assert t.plan_report({"bar": (20, 25)})["files_with_deletes"] == 0
    assert t.plan_report({"bar": (5, 15)}) == {
        "total_files": 3,
        "pruned_files": 1,
        "surviving_files": 2,
        "files_with_deletes": 1,
    }


def test_deletes_on_a_path_spark_encodes(spark, tmp_path):
    """``_metadata.file_path`` percent-encodes a space and ``%`` and
    leaves ``+`` literal; the scan decodes it to the path the metadata
    holds.  Position deletes naming the raw path (as the generator
    writes them) and the ones delete_where writes both apply, and the
    multi-sequence ``__data_seq`` branch matches these files too."""
    t = _table(spark, tmp_path, "a b%20c+d")
    snap = t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    t.add_position_deletes(
        spark.createDataFrame([(snap["files"][0]["path"], 1)], "file_path string, pos long")
    )
    t.delete_where(F.col("bar") == 12)
    t.append(_bars(spark, 20, 30), single_file=True)
    t.add_equality_deletes(_keys(spark, 5, 6), equality_ids=[2])
    t.add_equality_deletes(_keys(spark, 25, 26), equality_ids=[2])
    assert t.plan_report({})["files_with_deletes"] == 3
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(30) if i not in (1, 5, 12, 25)
    ]
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_relative_table_path(spark, tmp_path):
    """A table opened by a relative path (a relative catalog warehouse)
    holds absolute file paths, the form delete_where's position deletes
    name, so those deletes stay in scope."""
    catalog = LocalCatalog(spark, os.path.relpath(tmp_path / "wh"))
    catalog.create_namespace("ns")
    t = catalog.create_table("ns", "rel", _schema())
    t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    t.delete_where(F.col("bar") >= 15)
    t = catalog.load_table("ns", "rel")
    assert t.plan_report({})["files_with_deletes"] == 1
    expected = _model(t)
    assert sorted(r[1] for r in expected) == list(range(15))
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_equality_delete_committed_with_a_wider_type(spark, tmp_path):
    """An equality-delete file committed without footer stats may hold a
    wider parquet type than the key (long for an int key): it is read
    with its own schema, not the key schema."""
    t = _table(spark, tmp_path, "wide")
    t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    t.add_equality_deletes(_keys(spark, 3, 4), equality_ids=[2])
    (path,) = t._write_files(
        spark.createDataFrame([(7,), (15,)], ["bar"]), t.path / "deletes", "eq-delete", True
    )
    t._commit(
        "delete-equality",
        [{"path": path, "kind": "eq-delete", "record_count": 2, "equality_ids": [2]}],
        equality_ids=[2],
    )
    assert t.plan_report({})["files_with_deletes"] == 2
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(20) if i not in (3, 7, 15)
    ]
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_keys_without_bounds_stay_in_scope(spark, tmp_path):
    """A key column the footer gives no usable bounds for (a date) can
    never rule a file out, even with null counts known on both sides."""
    schema = TableSchema(
        fields=[Field(1, "d", "date", required=False), Field(2, "bar", "int", required=False)],
        identifier_field_ids=[1],
    )
    t = MoRTable.create(spark, str(tmp_path / "dates"), schema)
    rows = [(f"2024-01-{i:02d}", i) for i in range(1, 7)]
    t.append_batches(
        [
            spark.createDataFrame(part, "s string, bar int").select(
                F.to_date("s").alias("d"), "bar"
            )
            for part in (rows[:3], rows[3:])
        ]
    )
    t.add_equality_deletes(spark.sql("SELECT DATE'2024-01-05' AS d"), equality_ids=[1])
    assert t.plan_report({})["files_with_deletes"] == 2
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [1, 2, 3, 4, 6]
    _assert_exact(spark, t, expected)


def test_position_runs_apply_as_a_row_index_filter(spark, tmp_path):
    """A position-delete file naming one data file records its positions
    (given in any order) as runs, and the scan applies them with no
    join; with several touched files each run is tied to its file.  A
    file naming two data files (delete_where across files) is
    anti-joined."""
    t = _table(spark, tmp_path, "runs")
    snap = t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20), _bars(spark, 20, 30)])
    a, b, _ = (f["path"] for f in snap["files"])
    t.add_position_deletes(_pos_deletes(spark, a, [5, 2, 8, 3]))
    t.add_position_deletes(_pos_deletes(spark, b, [0]))
    runs = [f["pos_runs"] for f in t._files_of_kind("pos-delete", None)]
    assert runs == [
        {"data_file": a, "runs": [[2, 3], [5, 5], [8, 8]]},
        {"data_file": b, "runs": [[0, 0]]},
    ]
    assert t.plan_report({})["files_with_deletes"] == 2
    assert not _has_join(t.scan())
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(30) if i not in (2, 3, 5, 8, 10)
    ]
    _assert_exact(spark, t, expected)
    _assert_exact(spark, t, _model(t, meta=True), keep_meta=True)

    t.delete_where(F.col("bar").isin(4, 25))
    assert "pos_runs" not in t._files_of_kind("pos-delete", None)[-1]
    assert t.plan_report({})["files_with_deletes"] == 3
    assert _has_join(t.scan())
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(30) if i not in (2, 3, 4, 5, 8, 10, 25)
    ]
    _assert_exact(spark, t, expected)
    _assert_summary(t)


def test_position_runs_over_the_cap_are_joined(spark, tmp_path, monkeypatch):
    """A file with more runs than the cap records none; when the scoped
    files' runs together pass the cap, the scan joins those files."""
    monkeypatch.setattr(table_module, "_POS_RUNS_MAX", 2)
    t = _table(spark, tmp_path, "cap")
    snap = t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20), _bars(spark, 20, 30)])
    a, b, c = (f["path"] for f in snap["files"])
    t.add_position_deletes(_pos_deletes(spark, a, [1, 3]))
    t.add_position_deletes(_pos_deletes(spark, b, [0, 2, 4]))
    assert ["pos_runs" in f for f in t._files_of_kind("pos-delete", None)] == [True, False]
    data = t._files_of_kind("data", None)
    _, _, joined, _, runs = t._delete_scope(data, None)
    assert len(joined) == 1 and runs == {_file_id(a): [[1, 1], [3, 3]]}
    expected = _model(t)
    _assert_exact(spark, t, expected)
    t.add_position_deletes(_pos_deletes(spark, c, [1, 5]))
    _, _, joined, _, runs = t._delete_scope(data, None)
    assert len(joined) == 3 and runs == {}
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(30) if i not in (1, 3, 10, 12, 14, 21, 25)
    ]
    _assert_exact(spark, t, expected)
    _assert_exact(spark, t, Counter({r: n for r, n in expected.items() if r[1] < 10}),
                  where={"bar": (0, 9)})


def test_where_bounds_the_equality_deletes_read(spark, tmp_path):
    """A where range on a key column leaves out equality-delete files
    whose keys miss it and the keys outside it in the files it keeps;
    a null key, on either side, matches nothing inside a range."""
    t = _table(spark, tmp_path, "eqwhere")
    t.append(_rows(spark, [(f"k{i}", i) for i in range(20)] + [("n", None)]), single_file=True)
    t.add_equality_deletes(_keys(spark, 12, 14), equality_ids=[2])
    t.add_equality_deletes(
        spark.createDataFrame([(3,), (15,), (None,)], "bar int"), equality_ids=[2]
    )
    assert t.plan_report({"bar": (16, 19)})["files_with_deletes"] == 0
    assert t.plan_report({"bar": (10, 11)})["files_with_deletes"] == 1
    expected = _model(t)
    assert sorted(r[1] for r in expected) == [
        i for i in range(20) if i not in (3, 12, 13, 15)
    ]
    _assert_exact(spark, t, expected)
    for lo, hi in ((0, 9), (10, 15), (13, 19), (None, 12)):
        kept = Counter(
            {
                r: n
                for r, n in expected.items()
                if (lo is None or r[1] >= lo) and r[1] <= hi
            }
        )
        _assert_exact(spark, t, kept, where={"bar": (lo, hi)})
    _assert_summary(t)


def test_summary_derives_from_delete_records(spark, tmp_path):
    """summary() keeps the reference's formula (data rows minus delete
    records): a position-delete file naming one (file, pos) twice
    derives one row fewer than the scan measures, and the scan itself
    stays exact."""
    t = _table(spark, tmp_path, "dup_pos")
    snap = t.append_batches([_bars(spark, 0, 10), _bars(spark, 10, 20)])
    a = snap["files"][0]["path"]
    t.add_position_deletes(_pos_deletes(spark, a, [5, 2, 3, 3, 8]))
    expected = _model(t)
    assert sum(expected.values()) == 16
    _assert_exact(spark, t, expected)
    s = t.summary(measure=True)
    assert s["pos_delete_rows"] == 5
    assert s["measured_total"] == 16
    assert s["derived_total"] == s["measured_total"] - 1
