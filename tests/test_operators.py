"""Tests for custom operators: as-of join, multimodal plumbing, sinks."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from etl_data_peri_institute_spark.operators.asof import asof_join_backward
from etl_data_peri_institute_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_binary_payload,
    decode_image_features,
)
from etl_data_peri_institute_spark.sinks import Landed, ParquetStore, audit_csv


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 50)],
        "id int, k string, t int",
    )
    right = spark.createDataFrame(
        [("u", 100, "a"), ("u", 200, "b"), ("u", 300, "c"), ("w", 10, "z")],
        "k string, rt int, val string",
    )
    out = {
        r["id"]: r["val_asof"]
        for r in asof_join_backward(
            left, right, on="k", left_time="t", right_time="rt", value_cols=["val"]
        ).collect()
    }
    # exact-timestamp match included (t=100 picks rt=100); no earlier row → NULL
    assert out == {1: "a", 2: "b", 3: None}


def test_asof_duplicate_timestamp_tiebreak_deterministic(spark):
    """Several right rows at the same (key, time): the carried row is the
    content-hash winner — stable across runs/partitionings, and ALL value
    columns come from the same winning row (no column-wise mixing)."""
    from etl_data_peri_institute_spark.operators.asof import (
        asof_join_forward,
        asof_join_nearest,
    )

    left = spark.createDataFrame([(1, "u", 150)], "id int, k string, t int")
    dup_rows = [("u", 100, "a", 10), ("u", 100, "b", 20), ("u", 100, "c", 30)]
    expected = {}
    for fn, suffix in (
        (asof_join_backward, "_asof"),
        (asof_join_forward, "_asof"),
        (asof_join_nearest, "_nearest"),
    ):
        picks = set()
        for perm in (dup_rows, dup_rows[::-1], [dup_rows[1], dup_rows[2], dup_rows[0]]):
            right = spark.createDataFrame(
                perm, "k string, rt int, val string, num int"
            ).repartition(3)
            if fn is asof_join_forward:
                # forward needs a future row; shift probe before the dups
                probe = spark.createDataFrame([(1, "u", 50)], "id int, k string, t int")
            else:
                probe = left
            row = fn(
                probe, right, on="k", left_time="t", right_time="rt",
                value_cols=["val", "num"],
            ).collect()[0]
            # both carried columns must come from one physical row
            assert {("a", 10), ("b", 20), ("c", 30)} >= {
                (row[f"val{suffix}"], row[f"num{suffix}"])
            }
            picks.add((row[f"val{suffix}"], row[f"num{suffix}"]))
        # same winner regardless of input order/partitioning
        assert len(picks) == 1, picks
        expected[fn.__name__] = picks.pop()


def test_multimodal_payload_and_fake_decode(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "abc")], "doc_id long, text string")
    mm = attach_binary_payload(docs)
    meta = {r["doc_id"]: r["meta"] for r in mm.collect()}
    assert meta[1]["n_bytes"] == 11 and meta[1]["modality"] == "image"

    feats = decode_image_features(mm, fake=True).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert len(by_id[1]["features"]) == FEATURE_DIM
    assert abs(sum(by_id[1]["features"]) - 1.0) < 1e-6  # normalized histogram
    # deterministic: same input → same features
    feats2 = decode_image_features(mm, fake=True).collect()
    assert {r["doc_id"]: r["features"] for r in feats2} == {
        r["doc_id"]: r["features"] for r in feats
    }


def test_multimodal_real_decode_raises(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    mm = attach_binary_payload(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_image_features(mm, fake=False).collect()


def test_store_insert_append_and_upsert(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "pk string, v int")
    assert store.insert(df1, "t").rows == 2
    assert store.insert(df1, "t").rows == 2  # append: now 4 rows
    assert store.read("t").count() == 4

    store2 = ParquetStore(spark, str(tmp_path / "db2"))
    store2.upsert(df1, "u", "pk")
    df2 = spark.createDataFrame([("b", 99), ("c", 3)], "pk string, v int")
    store2.upsert(df2, "u", "pk")
    rows = {r["pk"]: r["v"] for r in store2.read("u").collect()}
    assert rows == {"a": 1, "b": 99, "c": 3}  # b overwritten, c added


def test_upsert_empty_noop(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    empty = spark.createDataFrame([], "pk string, v int")
    assert store.upsert(empty, "t", "pk").rows == 0
    assert not store.exists("t")


def _file_state(root):
    """(relative path -> (size, mtime_ns, sha256)) for every data file."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, digest)
    return out


def test_upsert_partition_scoped_untouched_bytes(spark, tmp_path):
    """The scale contract of the partition-scoped upsert: partitions the
    upsert does not touch are not rewritten — their files stay
    byte-identical (same bytes, same mtime: never re-opened)."""
    import os

    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40), (5, "c", 50)],
        "pk int, dt string, v int",
    )
    store.insert(base, "t", partition_by=["dt"])
    final = store.path("t")
    before_b = _file_state(os.path.join(final, "dt=b"))
    before_c = _file_state(os.path.join(final, "dt=c"))

    up = spark.createDataFrame(
        [(1, "a", 11), (6, "a", 60), (7, "d", 70)], "pk int, dt string, v int"
    )
    assert store.upsert(up, "t", "pk").rows == 3

    # untouched partitions b and c: byte-identical, not even re-opened
    assert _file_state(os.path.join(final, "dt=b")) == before_b
    assert _file_state(os.path.join(final, "dt=c")) == before_c
    # new partition dir materialized
    assert os.path.isdir(os.path.join(final, "dt=d"))
    rows = {r["pk"]: (r["dt"], r["v"]) for r in store.read("t").collect()}
    assert rows == {
        1: ("a", 11), 2: ("a", 20), 3: ("b", 30), 4: ("c", 40),
        5: ("c", 50), 6: ("a", 60), 7: ("d", 70),
    }
    # no stray backup/staging dirs left behind
    leftovers = [
        d for d in os.listdir(final)
        if d.startswith(".") and os.path.isdir(os.path.join(final, d))
    ]
    assert leftovers == []


def test_upsert_partition_move_and_empty_dir_removed(spark, tmp_path):
    """A colliding PK whose partition value CHANGES must leave its old
    partition (both affected); a partition emptied by the move loses its
    directory entirely."""
    import os

    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "pk int, dt string, v int"
    )
    store.insert(base, "t", partition_by=["dt"])
    up = spark.createDataFrame([(1, "b", 11)], "pk int, dt string, v int")
    assert store.upsert(up, "t", "pk").rows == 1
    rows = {r["pk"]: (r["dt"], r["v"]) for r in store.read("t").collect()}
    assert rows == {1: ("b", 11), 2: ("b", 20)}
    assert not os.path.isdir(os.path.join(store.path("t"), "dt=a"))


def _partition_states(root):
    """(partition dir -> ``_file_state`` of its files) for a table."""
    return {d: _file_state(os.path.join(root, d)) for d in os.listdir(root) if "=" in d}


def test_upsert_partition_scoped_null_and_escaped_values(spark, tmp_path):
    """Null partition values (__HIVE_DEFAULT_PARTITION__) and values
    Spark percent-escapes in dir names (space, ':', '%', '/', '#',
    non-ASCII) route through the scoped path: the table contents are
    exact, a partition a moved row left is removed, and the untouched
    escaped partition keeps its files byte-identical."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, None, 10), (2, "x y:z", 20), (3, "plain", 30), (4, "a%b/c#d é", 40)],
        "pk int, dt string, v int",
    )
    store.insert(base, "t", partition_by=["dt"])
    final = store.path("t")
    before = _partition_states(final)
    up = spark.createDataFrame(
        [(1, None, 11), (2, "x y:z", 21), (3, "ü/#%", 31)], "pk int, dt string, v int"
    )
    assert store.upsert(up, "t", "pk").rows == 3
    rows = {r["pk"]: (r["dt"], r["v"]) for r in store.read("t").collect()}
    assert rows == {1: (None, 11), 2: ("x y:z", 21), 3: ("ü/#%", 31), 4: ("a%b/c#d é", 40)}
    after = _partition_states(final)
    assert "dt=plain" in before and "dt=plain" not in after
    assert len(after) == 4
    untouched = [d for d in after if after[d] == before.get(d)]
    assert len(untouched) == 1 and "é" in untouched[0], untouched


@pytest.mark.parametrize(
    "ddl, values",
    [
        pytest.param("boolean", [True, False, None], id="boolean"),
        pytest.param("double", [1e20, 0.5, -2.0], id="double"),
        pytest.param(
            "timestamp",
            [datetime(2024, 1, 2, 3, 4, 15, 123000), datetime(2024, 1, 3), datetime(2024, 1, 4, 5, 6, 7)],
            id="timestamp",
        ),
        pytest.param("string", ["a", None, "b"], id="null"),
        pytest.param("int", [7, 8, 9], id="int"),
        pytest.param("date", [date(2024, 1, 1), date(2024, 1, 2), date(2024, 1, 3)], id="date"),
    ],
)
def test_upsert_partition_scoped_types(spark, tmp_path, ddl, values):
    """Partitions an upsert does not touch keep their files
    byte-identical (same bytes, same mtime: never re-opened) whatever
    the partition column's type — also where a value's ``str`` is not
    the dir name Spark writes (``true``, ``1.0E20``, ``...15.123``). A
    key moved to another partition empties its old one, whose dir is
    removed, and the third partition is still untouched."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = f"pk int, p {ddl}, v int"
    rows = [(i, value, i) for i, value in enumerate(values)]
    store.insert(spark.createDataFrame(rows, schema), "t", partition_by=["p"])
    final = store.path("t")
    before = _partition_states(final)
    assert len(before) == 3

    store.upsert(spark.createDataFrame([(0, values[0], 99)], schema), "t", "pk")
    after = _partition_states(final)
    assert sorted(after) == sorted(before)
    touched = [d for d in before if after[d] != before[d]]
    assert len(touched) == 1

    store.upsert(spark.createDataFrame([(0, values[2], 98)], schema), "t", "pk")
    moved = _partition_states(final)
    assert set(after) - set(moved) == set(touched)
    assert len([d for d in moved if moved[d] == after[d]]) == 1
    typed = spark.createDataFrame([], schema).schema
    got = {r["pk"]: (r["p"], r["v"]) for r in store.read("t", typed).collect()}
    assert got == {0: (values[2], 98), 1: (values[1], 1), 2: (values[2], 2)}


def test_insert_layout_mismatch_raises(spark, tmp_path):
    """A flat insert into a partitioned table (or vice versa, or with
    different partition columns) must raise — a silent mixed layout
    breaks partition pruning for every later reader."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)], "dt string, v int")
    store.insert(df, "t", partition_by=["dt"])
    with pytest.raises(ValueError, match="layout mismatch"):
        store.insert(df, "t")  # flat into partitioned
    with pytest.raises(ValueError, match="layout mismatch"):
        store.insert(df, "t", partition_by=["v"])  # different columns
    store.insert(df, "flat")
    with pytest.raises(ValueError, match="layout mismatch"):
        store.insert(df, "flat", partition_by=["dt"])  # partitioned into flat


def test_insert_permuted_nested_layout_raises(spark, tmp_path):
    """The layout guard is ORDER-sensitive (round-8 review finding): an
    insert with the same partition columns in a different nesting order
    would append dirs nested the other way round — a mixed layout Spark
    rejects at read time. Must raise, not corrupt."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame(
        [(1, "a", "x", 10)], "pk int, l1 string, l2 string, v int"
    )
    store.insert(df, "t", partition_by=["l1", "l2"])
    with pytest.raises(ValueError, match="layout mismatch"):
        store.insert(df, "t", partition_by=["l2", "l1"])
    # same order still appends fine, layout intact
    store.insert(df, "t", partition_by=["l1", "l2"])
    assert store._detect_partition_cols("t") == ["l1", "l2"]
    assert store.read("t").count() == 2


def test_upsert_preserves_partition_layout(spark, tmp_path):
    """Upsert over a partitioned table must rewrite WITH the partition
    columns, not flatten the directory layout."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df1 = spark.createDataFrame(
        [("a", "2024-01-01", 1), ("b", "2024-01-02", 2)], "pk string, dt string, v int"
    )
    store.insert(df1, "t", partition_by=["dt"])
    df2 = spark.createDataFrame(
        [("b", "2024-01-02", 99), ("c", "2024-01-03", 3)], "pk string, dt string, v int"
    )
    store.upsert(df2, "t", "pk")
    assert store._detect_partition_cols("t") == ["dt"]
    rows = {r["pk"]: r["v"] for r in store.read("t").collect()}
    assert rows == {"a": 1, "b": 99, "c": 3}


def test_upsert_nested_partition_layout_full_rewrite(spark, tmp_path):
    """A multi-level hive layout is detected whole (detection recurses),
    and the upsert writes its files in both levels: replaying only the
    first level would put data files beside the inner level's dirs, a
    mixed, unreadable layout. The nested layout survives, readable."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, "a", "x", 10), (2, "a", "y", 20), (3, "b", "x", 30)],
        "pk int, l1 string, l2 string, v int",
    )
    store.insert(base, "t", partition_by=["l1", "l2"])
    assert store._detect_partition_cols("t") == ["l1", "l2"]
    up = spark.createDataFrame(
        [(1, "a", "x", 11), (4, "b", "y", 40)],
        "pk int, l1 string, l2 string, v int",
    )
    assert store.upsert(up, "t", "pk").rows == 2
    # still a clean two-level layout, still readable
    assert store._detect_partition_cols("t") == ["l1", "l2"]
    assert os.path.isdir(os.path.join(store.path("t"), "l1=a", "l2=x"))
    rows = {r["pk"]: (r["l1"], r["l2"], r["v"]) for r in store.read("t").collect()}
    assert rows == {
        1: ("a", "x", 11), 2: ("a", "y", 20),
        3: ("b", "x", 30), 4: ("b", "y", 40),
    }


def test_upsert_nested_replaces_only_touched_leaf(spark, tmp_path):
    """Two-level table: an update in one leaf dir leaves every other
    leaf dir byte-identical; moving the only row out of the sole leaf
    under l1=b removes l1=b whole (no empty dir is left), and detection
    still reads both levels."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = "pk int, l1 string, l2 string, v int"
    base = spark.createDataFrame(
        [(1, "a", "x", 10), (2, "a", "y", 20), (3, "b", "x", 30), (4, "c", "x", 40)], schema
    )
    store.insert(base, "t", partition_by=["l1", "l2"])
    final = store.path("t")

    def leaves():
        return {
            os.path.join(d, sub): _file_state(os.path.join(final, d, sub))
            for d in os.listdir(final) if "=" in d
            for sub in os.listdir(os.path.join(final, d)) if "=" in sub
        }

    before = leaves()
    store.upsert(spark.createDataFrame([(2, "a", "y", 21)], schema), "t", "pk")
    after = leaves()
    assert sorted(after) == sorted(before)
    assert [leaf for leaf in before if after[leaf] != before[leaf]] == ["l1=a/l2=y"]

    store.upsert(spark.createDataFrame([(3, "a", "x", 31)], schema), "t", "pk")
    moved = leaves()
    assert not os.path.exists(os.path.join(final, "l1=b"))
    assert sorted(moved) == ["l1=a/l2=x", "l1=a/l2=y", "l1=c/l2=x"]
    assert moved["l1=a/l2=y"] == after["l1=a/l2=y"]
    assert moved["l1=c/l2=x"] == before["l1=c/l2=x"]
    assert store._detect_partition_cols("t") == ["l1", "l2"]
    rows = {r["pk"]: (r["l1"], r["l2"], r["v"]) for r in store.read("t").collect()}
    assert rows == {1: ("a", "x", 10), 2: ("a", "y", 21), 3: ("a", "x", 31), 4: ("c", "x", 40)}


def test_detect_partition_cols_nesting_order(spark, tmp_path):
    """Detection reports partition columns in NESTING order (what
    partitionBy must replay to preserve the layout), not sorted."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame(
        [(1, "x", "2024", 1), (2, "y", "2025", 2)],
        "pk int, b string, a string, v int",
    )
    store.insert(df, "t", partition_by=["b", "a"])
    assert store._detect_partition_cols("t") == ["b", "a"]
    up = spark.createDataFrame(
        [(1, "x", "2024", 9)], "pk int, b string, a string, v int"
    )
    store.upsert(up, "t", "pk")
    assert store._detect_partition_cols("t") == ["b", "a"]  # not flipped to sorted


def test_swap_partitions_rollback_removes_new_dirs(spark, tmp_path, monkeypatch):
    """Mid-commit failure rollback must remove NEW partition dirs already
    moved in from tmp (they have no backup) as well as restore the
    backups — otherwise a PK whose partition changed exists in both its
    restored old partition and the new dir (round-8 fix)."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "pk int, dt string, v int"
    )
    store.insert(base, "t", partition_by=["dt"])
    final = store.path("t")
    before = _file_state(final)

    # Hand-built merge output: a rewritten dt=a plus two NEW partitions.
    tmp = str(tmp_path / "merge_tmp")
    for d in ("dt=a", "dt=c", "dt=d"):
        os.makedirs(os.path.join(tmp, d))
        with open(os.path.join(tmp, d, "part-0.parquet"), "wb") as fh:
            fh.write(b"x")

    real_replace = os.replace

    def failing_replace(src, dst, **kw):
        if str(dst).endswith("dt=d"):
            raise OSError("disk full")
        return real_replace(src, dst, **kw)

    # move-in order is the entry order: dt=a, dt=c succeed, dt=d fails
    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="disk full"):
        store._commit("t", [
            (os.path.join(final, d), os.path.join(tmp, d)) for d in ("dt=a", "dt=c", "dt=d")
        ])
    monkeypatch.undo()

    # exact pre-upsert state: moved-in dirs gone, backups restored
    assert _file_state(final) == before
    rows = {r["pk"]: (r["dt"], r["v"]) for r in store.read("t").collect()}
    assert rows == {1: ("a", 10), 2: ("b", 20)}


def test_audit_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("x", None), ("y", "2")], "a string, b string")
    landed = audit_csv(df, str(tmp_path / "audit"), "rejects")
    path = landed.path
    # distributed write: a directory of header-carrying CSV parts
    assert path and path.endswith(".csv") and os.path.isdir(path)
    # the count is the one observed on the write; files/bytes are its parts
    parts = [p for p in os.listdir(path) if p.startswith("part-")]
    assert landed.rows == 2 and landed.files == len(parts) > 0
    assert landed.bytes == sum(os.path.getsize(os.path.join(path, p)) for p in parts)
    data_rows = []
    for part in os.listdir(path):
        if part.startswith("part-") and part.endswith(".csv"):
            lines = open(os.path.join(path, part)).read().strip().splitlines()
            if lines:
                assert lines[0] == "a,b"
                data_rows += lines[1:]
    assert sorted(data_rows) == ['"x",""', "y,2"] or sorted(data_rows) == ["x,", "y,2"]
    # Spark round-trip sees exactly the audited rows
    assert spark.read.option("header", True).csv(path).count() == 2
    # empty frame → no artifact: the empty output is removed after the
    # write, and an audit dir the call created goes with it
    empty = df.filter(F.col("a") == "zz")
    assert audit_csv(empty, str(tmp_path / "audit"), "r2") == Landed(0)
    assert sorted(os.listdir(tmp_path / "audit")) == [os.path.basename(path)]
    assert audit_csv(empty, str(tmp_path / "fresh"), "r3").path is None
    assert not os.path.exists(tmp_path / "fresh")


def test_audit_csv_concurrent_calls_share_fresh_dir(spark, tmp_path):
    """Audits at once into a dir none of them found, more of them than
    cores, with thread switches forced often: an empty one must not take
    the dir from under the others, whose rows survive and read back;
    when all are empty no dir is left behind."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    df = spark.createDataFrame([("x", None), ("y", "2")], "a string, b string")
    empty = df.filter(F.col("a") == "zz")

    def together(frames: dict, out: str) -> dict:
        start = threading.Barrier(len(frames), timeout=120)

        def audit(frame, reason):
            start.wait()
            return audit_csv(frame, out, reason)

        with ThreadPoolExecutor(len(frames)) as pool:
            futures = {r: pool.submit(audit, f, r) for r, f in frames.items()}
            return {r: f.result(timeout=300) for r, f in futures.items()}

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for i in range(2):
            out = str(tmp_path / f"fresh{i}")
            got = together({f"r{j}": empty if j % 2 else df for j in range(6)}, out)
            kept = sorted(os.path.basename(a.path) for a in got.values() if a.rows)
            assert [r for r, a in got.items() if a == Landed(0)] == ["r1", "r3", "r5"]
            assert sorted(os.listdir(out)) == kept and len(kept) == 3
            for name in kept:
                assert spark.read.option("header", True).csv(os.path.join(out, name)).count() == 2

        out = str(tmp_path / "fresh_empty")
        got = together({f"n{j}": empty for j in range(6)}, out)
        assert set(got.values()) == {Landed(0)}
        assert not os.path.exists(out)
    finally:
        sys.setswitchinterval(switch)


def test_jdbc_sink_wrapper(spark, monkeypatch):
    from etl_data_peri_institute_spark.sinks import (
        _jdbc_options,
        jdbc_upsert_sql,
        write_jdbc,
    )

    opts = _jdbc_options("jdbc:postgresql://h/db", "pagos", user="etl")
    assert opts == {
        "url": "jdbc:postgresql://h/db",
        "dbtable": "pagos",
        "batchsize": "10000",
        "user": "etl",
    }

    sql = jdbc_upsert_sql("pagos", "pagos_stage", "codigo_pago", ["codigo_pago", "monto"])
    assert sql == (
        'INSERT INTO "pagos" ("codigo_pago", "monto") '
        'SELECT "codigo_pago", "monto" FROM "pagos_stage" '
        'ON CONFLICT ("codigo_pago") DO UPDATE SET "monto" = EXCLUDED."monto"'
    )
    # identifiers are quoted: a reserved-word column must not produce an
    # invalid statement, and an embedded quote must not escape
    sql = jdbc_upsert_sql("t", "t_stage", "id", ["id", "order", 'we"ird'])
    assert '"order" = EXCLUDED."order"' in sql
    assert '"we""ird" = EXCLUDED."we""ird"' in sql

    # round-9 advisor finding: a schema-qualified target must quote
    # each component ("public"."users"), not the whole name as one
    # identifier with a literal dot (wrong relation)
    sql = jdbc_upsert_sql("public.users", "staging.users_stage", "id", ["id", "v"])
    assert 'INSERT INTO "public"."users"' in sql
    assert 'FROM "staging"."users_stage"' in sql

    # no JDBC driver in the image: intercept the terminal save and check
    # the writer was configured as a jdbc append
    from pyspark.sql.readwriter import DataFrameWriter

    captured = {}

    def fake_save(self, path=None):
        captured["saved"] = True

    monkeypatch.setattr(DataFrameWriter, "save", fake_save)
    df = spark.createDataFrame([(1, 2.0)], "codigo_pago int, monto double")
    write_jdbc(df, "jdbc:postgresql://h/db", "pagos", user="etl")
    assert captured.get("saved")


def test_salted_join_equals_plain(spark):
    from etl_data_peri_institute_spark.operators.skew import salted_join
    from etl_data_peri_institute_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).first()
    salted = salted_join(li, orders, "l_orderkey", n_salt=8).agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).first()
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])


def test_salted_join_left_modes_and_outer_rejection(spark):
    from etl_data_peri_institute_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "z")], "k int, pv string"
    )
    build = spark.createDataFrame([(1, "x"), (2, "y"), (5, "unmatched")], "k int, bv string")

    # left: unmatched probe row survives exactly once with null build cols
    left = salted_join(probe, build, "k", n_salt=4, how="left").collect()
    assert sorted((r["k"], r["pv"], r["bv"]) for r in left) == [
        (1, "a", "x"),
        (1, "b", "x"),
        (2, "c", "y"),
        (9, "z", None),
    ]

    # left_anti: only the unmatched probe row, once
    anti = salted_join(probe, build, "k", n_salt=4, how="left_anti").collect()
    assert [(r["k"], r["pv"]) for r in anti] == [(9, "z")]

    # outer modes would replicate the unmatched build row (k=5) per salt
    for bad in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(probe, build, "k", how=bad)


def test_sql_api_cte_and_views(spark):
    from etl_data_peri_institute_spark.sql_api import run_sql

    out = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """
        WITH rev AS (
          SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total
          FROM lineitem GROUP BY l_suppkey
        )
        SELECT s.s_name, round(rev.total, 2) AS total
        FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
        WHERE rev.total = (SELECT max(total) FROM rev)
        """,
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["total"] > 0


def test_scd2_fold(spark):
    from etl_data_peri_institute_spark.operators.scd import scd2_apply, scd2_init

    snap1 = spark.createDataFrame(
        [("C1", "Ana", 100.0), ("C2", "Luis", 200.0)], "pk string, name string, bal double"
    )
    dim = scd2_init(snap1, "2024-01-01")
    # day 2: C1 changed, C2 unchanged, C3 new
    snap2 = spark.createDataFrame(
        [("C1", "Ana", 150.0), ("C2", "Luis", 200.0), ("C3", "Eva", 50.0)],
        "pk string, name string, bal double",
    )
    out = scd2_apply(dim, snap2, "pk", ["name", "bal"], "2024-01-02")
    rows = sorted(
        ((r["pk"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"]) for r in out.collect())
    )
    assert rows == [
        ("C1", 100.0, "2024-01-01", "2024-01-02", False),  # closed old version
        ("C1", 150.0, "2024-01-02", "9999-12-31", True),   # new version
        ("C2", 200.0, "2024-01-01", "9999-12-31", True),   # untouched
        ("C3", 50.0, "2024-01-02", "9999-12-31", True),    # new key
    ]
    # idempotent fold: re-applying the same snapshot changes nothing
    out2 = scd2_apply(out, snap2, "pk", ["name", "bal"], "2024-01-03")
    assert out2.count() == out.count()
    assert out2.filter(F.col("is_current")).count() == 3


def test_snapshot_diff(spark):
    from etl_data_peri_institute_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "pk long, name string, bal double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 30.0), (4, "D", 40.0), (5, "e", 50.0)],
        "pk long, name string, bal double",
    )
    out = {
        r["pk"]: r["op"]
        for r in snapshot_diff(old, new, "pk", ["name", "bal"]).collect()
    }
    # 1 deleted; 2 NULL->20.0 registers as update (null-safe compare);
    # 3 unchanged (absent); 4 value change; 5 inserted
    assert out == {1: "D", 2: "U", 4: "U", 5: "I"}


def test_snapshot_diff_apply_roundtrip(spark):
    """Invariant: old + changelog == new (apply D/U removals, then add
    U/I new values) — the property that makes the diff a valid CDC feed."""
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.operators.scd import snapshot_diff
    from etl_data_peri_institute_spark.sources.tables import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    old = cust.filter(F.col("c_custkey") <= 100).select("c_custkey", "c_acctbal")
    new = cust.filter(F.col("c_custkey").between(41, 140)).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") * 2)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    log = snapshot_diff(old, new, "c_custkey", ["c_acctbal"])
    touched = log.select("c_custkey")
    rebuilt = (
        old.join(touched, "c_custkey", "left_anti")
        .unionByName(
            log.filter(F.col("op").isin("I", "U")).select(
                "c_custkey", F.col("new_c_acctbal").alias("c_acctbal")
            )
        )
    )
    a = sorted(map(tuple, rebuilt.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_multimodal_resize_and_frame_sample(spark):
    from etl_data_peri_institute_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
        sample_video_frames,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "y" * 40)], "doc_id long, text string"
    )
    mm = attach_binary_payload(docs)

    resized = {r["doc_id"]: r for r in resize_images(mm, target_bytes=64, fake=True).collect()}
    assert resized[1]["n_bytes"] == 64          # downsampled to target
    assert resized[2]["n_bytes"] == 40          # shorter than target: kept whole
    assert bytes(resized[2]["payload"]) == b"y" * 40

    frames = sample_video_frames(mm, frame_bytes=32, every_nth=4, fake=True).collect()
    by_doc: dict = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: 300 // 32 = 9 frames, sampled at 0,4,8
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 4, 8]
    assert all(r["n_frames"] == 9 for r in by_doc[1])
    assert len(bytes(by_doc[1][0]["frame"])) == 32
    # doc2: 40 // 32 = 1 frame → only frame 0
    assert [r["frame_idx"] for r in by_doc[2]] == [0]

    import pytest

    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        resize_images(mm, fake=False).collect()


def test_interval_overlap_join(spark):
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.operators.intervals import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        [(1, 10, 0.0, 10.0), (1, 11, 20.0, 30.0), (2, 12, 0.0, 5.0)],
        "k long, a_id long, a_s double, a_e double",
    )
    b = spark.createDataFrame(
        # 100: touches a10 at its right bound; 101: inside a11;
        # 102: same span as a12 but other key; 103: far away
        [(1, 100, 10.0, 12.0), (1, 101, 22.0, 23.0), (3, 102, 0.0, 5.0), (1, 103, 500.0, 600.0)],
        "k long, b_id long, b_s double, b_e double",
    )
    out = interval_overlap_join(a, b, "k", ("a_s", "a_e"), ("b_s", "b_e"), bin_width=8.0)
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}
    assert got == {(10, 100), (11, 101)}

    # degenerate end<start rows are dropped, not silently mis-binned
    bad = spark.createDataFrame(
        [(1, 99, 30.0, 0.0)], "k long, a_id long, a_s double, a_e double"
    )
    assert interval_overlap_join(
        bad, b, "k", ("a_s", "a_e"), ("b_s", "b_e"), bin_width=8.0
    ).count() == 0
    # closed-bound touch (10.0 == 10.0) included; key isolation holds
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_contract_report(spark):
    import pytest

    from etl_data_peri_institute_spark.operators.contracts import contract_report

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", 50.0), (3, "zz", 200.0)],
        "k long, s string, v double",
    )
    out = {
        (r["rule"], r["column"]): (r["n_violations"], r["passed"])
        for r in contract_report(
            df,
            not_null=["s"],
            unique=["k"],
            accepted={"s": ["a", "b"]},
            ranges={"v": (0.0, 100.0)},
        ).collect()
    }
    assert out[("not_null", "s")] == (1, False)
    assert out[("unique", "k")] == (1, False)       # k=2 twice
    assert out[("accepted_values", "s")] == (2, False)  # None + "zz"
    assert out[("range", "v")] == (2, False)        # -1.0 and 200.0
    with pytest.raises(ValueError, match="no rules"):
        contract_report(df)


def test_observe_metrics_without_extra_action(spark):
    """df.observe(): pipeline counters (rows seen, nulls, sums) ride the
    SAME job as the write/collect — at 100 TB this replaces the classic
    'count() then write()' double execution for monitoring metrics."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("ingest_metrics")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("n_null_v"),
        F.round(F.sum("v"), 2).alias("total_v"),
    )
    assert df.count() == 3  # the ONLY action
    got = obs.get
    assert got["n_rows"] == 3 and got["n_null_v"] == 1 and got["total_v"] == 40.0


def test_grouped_apply_in_arrow_matches_agg(spark):
    """groupBy().applyInArrow (Spark 4): grouped-map at the raw Arrow
    level — the grouped sibling of mapInArrow, no pandas conversion.
    Cross-checked against the built-in aggregation it reimplements."""
    import pyarrow as pa

    from etl_data_peri_institute_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "value"
    )

    def totals(key, table):
        import pyarrow.compute as pc

        return pa.table(
            {
                "event_type": [key[0]],
                "n": [table.num_rows],
                "cents": [int(round(pc.sum(table.column("value")).as_py() * 100))],
            }
        )

    arrow = {
        r["event_type"]: (r["n"], r["cents"])
        for r in ev.groupBy("event_type")
        .applyInArrow(totals, schema="event_type string, n long, cents long")
        .collect()
    }
    from pyspark.sql import functions as F

    builtin = {
        r["event_type"]: (r["n"], r["cents"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    }
    assert arrow == builtin


def test_pandas_api_on_spark_parity(spark):
    """The reference IS a pandas ETL — pyspark.pandas runs its idioms
    (read → value_counts / groupby-agg) distributed, unchanged. This
    pins that a reference user's pandas muscle memory keeps working on
    this engine while the execution becomes a Spark plan."""
    import warnings

    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.sources.tables import load_table

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas as ps

        pdf = ps.read_parquet("/root/testdata/sf0.001/documents.parquet")
        counts = pdf["lang"].value_counts().sort_index().to_dict()
    expected = {
        r["lang"]: r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == expected


def test_ts_interpolate_linear_hand_checked(spark, tmp_path):
    """Interior gaps take the exact time-weighted blend; edges fall back
    to nearest-fill; observed days pass through verbatim."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_data_peri_institute_spark.plans import catalog

    catalog.load_all()
    d = lambda day: datetime.datetime(2024, 1, day, 12, 0, 0)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([d(1), d(5)], pa.timestamp("us")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": pa.array(["view", "view"]),
            "value": pa.array([10.0, 30.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")
    rows = {
        r["day"].day: (r["interp_e4"], r["observed"])
        for r in catalog.QUERIES["ts_interpolate_linear"].fn(spark, str(tmp_path)).collect()
    }
    assert rows == {
        1: (100000, 1),   # observed 10.0
        2: (150000, 0),   # 10 + (30-10) * 1/4 = 15.0
        3: (200000, 0),   # 20.0
        4: (250000, 0),   # 25.0
        5: (300000, 1),   # observed 30.0
    }


def test_asof_nearest_picks_closer_side_and_breaks_ties_backward(spark):
    import datetime

    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.operators.asof import asof_join_nearest

    t = lambda s: datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, "u", t(10)), (2, "u", t(50)), (3, "u", t(100)), (4, "v", t(10))],
        "id long, k string, lt timestamp",
    )
    right = spark.createDataFrame(
        [("u", t(7)), ("u", t(52)), ("u", t(90)), ("u", t(110))],
        "k string, rt timestamp",
    )
    out = {
        r["id"]: (r["rt_nearest"], r["_nearest_dir"])
        for r in asof_join_nearest(
            left, right, on="k", left_time="lt", right_time="rt", value_cols=["rt"]
        ).collect()
    }
    assert out[1] == (t(7), "b")     # 3s back vs 42s forward
    assert out[2] == (t(52), "f")    # 2s forward vs 42s back
    assert out[3] == (t(90), "b")    # tie (10s both ways) -> backward
    assert out[4] == (None, "b")     # no match either way


def test_sharded_corpus_write_path_layout(spark, tmp_path):
    """The production shard write path (repartitionByRange → write): no
    global-window stage in the plan, N files, and the written files'
    hash ranges are contiguous and non-overlapping — the layout contract
    b_shard_manifest's exact-ntile gate query pins semantically."""
    from etl_data_peri_institute_spark.sinks import (
        sharded_corpus_manifest,
        sharded_frame,
        write_sharded_corpus,
    )
    from etl_data_peri_institute_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_in = docs.count()

    # plan shape: sampled range partitioner, no Window (no global ntile)
    plan = sharded_frame(docs, 4, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "Window" not in plan

    out = str(tmp_path / "shards")
    write_sharded_corpus(docs, out, n_shards=4, key_col="doc_id")
    manifest = sharded_corpus_manifest(spark, out).collect()
    assert 1 <= len(manifest) <= 4
    assert sum(r["n_docs"] for r in manifest) == n_in
    # contiguous, non-overlapping hash ranges in manifest (sorted) order
    for prev, cur in zip(manifest, manifest[1:]):
        assert prev["max_hash"] <= cur["min_hash"], (prev, cur)


def test_compact_preserves_meta_files(spark, tmp_path):
    """Maintenance rewrites must carry user meta files: compacting a
    rollup table that loses its _LAST_EPOCH marker silently re-enables
    the replay double-merge the marker exists to prevent."""
    store = ParquetStore(spark, str(tmp_path))
    df = spark.range(100).selectExpr("id", "id % 3 as g")
    store.overwrite(df, "roll", meta_files={"_LAST_EPOCH": "7"})
    assert store.read_meta("roll", "_LAST_EPOCH") == "7"
    store.compact("roll", target_files=1)
    assert store.read_meta("roll", "_LAST_EPOCH") == "7"
    assert store.read("roll").count() == 100
    # cluster_rewrite and upsert preserve it the same way
    store.cluster_rewrite("roll", by=["id"])
    assert store.read_meta("roll", "_LAST_EPOCH") == "7"
    store.upsert(spark.range(5).selectExpr("id", "id % 3 as g"), "roll", "id")
    assert store.read_meta("roll", "_LAST_EPOCH") == "7"


def test_delete_rows_all_rows_partitioned(spark, tmp_path):
    """Deleting EVERY row of a hive-partitioned table must commit (the
    table becomes validly empty) instead of failing schema inference
    and leaking the rewrite tmp dir."""
    store = ParquetStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id int, part string"
    )
    store.insert(df, "t", partition_by=["part"])
    keys = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    assert store.delete_rows("t", "id", keys) == 3
    # explicit schema makes the empty table readable
    assert store.read("t", schema=df.schema).count() == 0
    # no leaked tmp/backup dirs
    leftovers = [d for d in os.listdir(str(tmp_path)) if d.startswith(".t_")]
    assert leftovers == [], leftovers


@pytest.mark.parametrize("layout", ["flat", "hive"])
def test_delete_rows_one_job_and_count(spark, tmp_path, layout):
    """For a local key list, delete_rows launches ONE Spark job, the
    rewrite: the count removed is the table's footer row counts minus
    the rows the rewrite observed, with no count before or after. The
    count is right for a flat and a hive table, for keys that match no
    row or are null, and for a delete of every row."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(i, f"d{i % 2}", i) for i in range(6)], "pk int, dt string, v int")
    store.insert(df, "t", partition_by=["dt"] if layout == "hive" else None)
    sc = spark.sparkContext

    def delete(keys_sql, group):
        keys = spark.sql(f"SELECT * FROM VALUES {keys_sql} AS k(pk)")
        sc.setJobGroup(group, "delete_rows")
        try:
            removed = store.delete_rows("t", "pk", keys)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return removed, len(sc.statusTracker().getJobIdsForGroup(group))

    assert delete("(1), (4), (99), (NULL)", f"del_some_{layout}") == (2, 1)
    got = sorted(r["pk"] for r in store.read("t", df.schema).collect())
    assert got == [0, 2, 3, 5]
    assert delete("(0), (2), (3), (5)", f"del_all_{layout}") == (4, 1)
    assert store.read("t", df.schema).count() == 0
    assert store.delete_rows("t", "pk", spark.sql("SELECT 1 AS pk")) == 0


@pytest.mark.parametrize(
    "partition_by, part_ddl",
    [
        pytest.param(None, "int", id="flat"),
        pytest.param(["p"], "int", id="int_partition"),
        pytest.param(["p"], "string", id="date_string_partition"),
    ],
)
def test_read_typed_from_footer_launches_no_job(spark, tmp_path, partition_by, part_ddl):
    """``store.read(t)`` without a schema types the read from the Spark
    schema in a data file's footer: no schema-inference job, and the
    same schema and rows as Spark's inferred read of the directory,
    partition columns typed from their dir names (a date-like string
    partition comes back as ``date`` either way)."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    part = "id % 3" if part_ddl == "int" else "concat('2024-01-0', id % 3 + 1)"
    df = spark.range(30).selectExpr(
        "id",
        f"cast({part} as {part_ddl}) as p",
        "map('k', id) as m",
        "array(id, id + 1) as a",
        "named_struct('x', id, 'y', cast(id as string)) as s",
        "cast(id / 7 as decimal(12, 3)) as d",
        "timestamp_seconds(id * 1000) as ts",
    )
    store.insert(df.repartition(3), "t", partition_by=partition_by)
    sc = spark.sparkContext
    group = f"read_typed_{part_ddl}_{bool(partition_by)}"
    sc.setJobGroup(group, "store.read")
    try:
        got = store.read("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    inferred = spark.read.parquet(store.path("t"))
    assert got.schema == inferred.schema
    if partition_by and part_ddl == "string":
        assert got.schema["p"].dataType.typeName() == "date"

    def rows(frame):
        return sorted(frame.collect(), key=lambda r: r["id"])

    assert rows(got) == rows(inferred)


def test_read_table_without_spark_footer_launches_no_job(spark, tmp_path):
    """A table whose files were written outside Spark (pyarrow: no Spark
    schema in the footer) reads typed from the footer's Arrow schema,
    with no Spark job. A table dir with no data file has no schema to
    read without one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = ParquetStore(spark, str(tmp_path / "db"))
    os.makedirs(store.path("t"))
    table = pa.table({"id": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", None]})
    pq.write_table(table, os.path.join(store.path("t"), "part-0.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("read_arrow_footer", "store.read")
    try:
        got = store.read("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("read_arrow_footer")) == 0
    assert got.schema.simpleString() == "struct<id:bigint,v:string>"
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (2, "b"), (3, None)]
    os.makedirs(store.path("empty"))
    with pytest.raises(FileNotFoundError):
        store.read("empty")


def test_write_meta_atomic_and_validated(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    store.insert(spark.range(3), "m")
    store.write_meta("m", "_MARK", "42")
    assert store.read_meta("m", "_MARK") == "42"
    store.write_meta("m", "_MARK", "43")
    assert store.read_meta("m", "_MARK") == "43"
    with pytest.raises(ValueError, match="start with '_'"):
        store.write_meta("m", "MARK", "x")
    with pytest.raises(FileNotFoundError):
        store.write_meta("absent", "_MARK", "x")


def test_jdbc_upsert_sql_pk_only_degenerates_to_do_nothing():
    from etl_data_peri_institute_spark.sinks import jdbc_upsert_sql

    sql = jdbc_upsert_sql("t", "t_stage", "id", ["id"])
    assert sql.endswith('ON CONFLICT ("id") DO NOTHING')
    assert "DO UPDATE SET" not in sql
