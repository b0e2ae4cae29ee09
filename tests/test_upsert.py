"""ParquetStore.upsert, change first: only the keys whose stored rows
differ from the incoming rows are written.

The property test holds the upsert to the plain anti-join + union it
emulates (every stored row whose key arrives is replaced by the incoming
rows of that key; null keys never match), over flat, single-level and
nested hive tables, missing tables, nullable columns, duplicate incoming
keys and empty batches; and holds every stored file that has no row of
a changed key to its bytes and mtime."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow.parquet as pq

from etl_data_peri_institute_spark.sinks import ParquetStore

SCHEMA = "pk int, v string, d double, dt string"
COLS = ["pk", "v", "d", "dt"]

_ROW = st.tuples(
    st.sampled_from([0, 1, 2, 3, None]),
    st.sampled_from(["a", "b", None]),
    st.sampled_from([1.5, -2.0, None]),
    st.sampled_from(["x", "y", None]),
)


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


def _table_rows(store: ParquetStore, table: str) -> list[tuple]:
    if not store.exists(table):
        return []
    return _sorted(tuple(r) for r in store.read(table).select(*COLS).collect())


def _file_state(root: str) -> dict[str, tuple[int, int, str]]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(base, name)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = (os.path.getsize(p), os.stat(p).st_mtime_ns, digest)
    return out


def _changed_keys(stored: list[tuple], incoming: list[tuple]) -> set:
    """The incoming keys whose stored rows differ from their incoming
    rows as multisets (a null key is always new, never changed)."""
    return {
        k for k in {r[0] for r in incoming} - {None}
        if Counter(r for r in stored if r[0] == k) != Counter(r for r in incoming if r[0] == k)
    }


def _unchanged(stored: list[tuple], incoming: list[tuple]) -> bool:
    """Every incoming key already holds exactly the incoming rows."""
    return not _changed_keys(stored, incoming) and None not in {r[0] for r in incoming}


def _keys_in(path: str) -> set:
    return set(pq.read_table(path, columns=["pk"]).column("pk").to_pylist())


def _orphan_crcs(root: str) -> list[str]:
    """``.crc`` sidecars whose parquet file is gone."""
    return [
        os.path.join(base, n)
        for base, _dirs, files in os.walk(root)
        for n in files
        if n.startswith(".") and n.endswith(".crc") and n[1:-4] not in files
    ]


_LAYOUTS = {"flat": None, "hive": ["dt"], "nested": ["dt", "v"]}


@st.composite
def upsert_case(draw):
    stored = draw(st.lists(_ROW, max_size=6))
    # incoming rows re-use stored rows (unchanged keys), vary them
    # (changed keys) or bring new ones; duplicates and nulls included
    reused = draw(st.lists(st.sampled_from(stored), max_size=4)) if stored else []
    incoming = reused + draw(st.lists(_ROW, max_size=4))
    return stored, draw(st.permutations(incoming)), draw(st.sampled_from(sorted(_LAYOUTS)))


@given(upsert_case())
@settings(max_examples=25, deadline=None)
def test_upsert_matches_anti_join_union(spark, case):
    stored, incoming, layout = case
    root = tempfile.mkdtemp(prefix="upsert_prop_")
    try:
        store = ParquetStore(spark, root)
        # an empty seed creates no table: the missing-table case
        store.insert(spark.createDataFrame(stored, SCHEMA), "t", partition_by=_LAYOUTS[layout])
        existed = store.exists("t")
        before = _file_state(store.path("t")) if existed else None
        changed = _changed_keys(stored, incoming)
        # the stored files that hold no changed key: the upsert must not
        # touch them
        untouched = {
            rel: state for rel, state in (before or {}).items()
            if rel.endswith(".parquet") and not _keys_in(os.path.join(store.path("t"), rel)) & changed
        }

        landed = store.upsert(spark.createDataFrame(incoming, SCHEMA), "t", "pk")

        assert landed.rows == len(incoming)
        keys = {r[0] for r in incoming if r[0] is not None}
        want = [r for r in stored if r[0] is None or r[0] not in keys] + list(incoming)
        assert _table_rows(store, "t") == _sorted(want)
        if existed and _unchanged(stored, incoming):
            assert _file_state(store.path("t")) == before
            assert landed.delta_rows == 0
        if existed:
            after = _file_state(store.path("t"))
            assert {rel: after.get(rel) for rel in untouched} == untouched
            assert _orphan_crcs(store.path("t")) == []
            # every path keeps the layout
            assert store._detect_partition_cols("t") == (_LAYOUTS[layout] or [])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_upsert_paths_and_landed(spark, tmp_path):
    """No change: no file of the table is touched and nothing is left
    behind. Only new keys: the rows are appended beside the existing
    files. A changed key: the files that hold it are replaced by the
    merge of their rows with the changed ones."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "pk int, v string")
    assert store.upsert(base, "t", "pk").rows == 3
    first = _file_state(store.path("t"))

    # the same rows, duplicate key included, in another order
    again = spark.createDataFrame([(2, "b"), (1, "a"), (2, "b")], "pk int, v string")
    landed = store.upsert(again, "t", "pk")
    assert landed.rows == 3
    assert _file_state(store.path("t")) == first
    assert landed.delta_rows == landed.files == 0
    assert not [n for n in os.listdir(store.root) if n.startswith(".")]

    # one key new, one unchanged: appended, old files untouched
    landed = store.upsert(spark.createDataFrame([(1, "a"), (3, "c")], "pk int, v string"), "t", "pk")
    assert landed.rows == 2
    after = _file_state(store.path("t"))
    assert {k: v for k, v in after.items() if k in first} == first
    assert landed.delta_rows == 1 and landed.files >= 1
    assert len([k for k in after if k.endswith(".parquet")]) > len(
        [k for k in first if k.endswith(".parquet")]
    )

    # a changed multiset for key 2 (one copy instead of two)
    landed = store.upsert(spark.createDataFrame([(2, "b")], "pk int, v string"), "t", "pk")
    assert (landed.rows, landed.delta_rows) == (1, 1)
    rows = sorted(tuple(r) for r in store.read("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_upsert_map_column_merges_every_row(spark, tmp_path):
    """Maps cannot be compared, so every incoming row counts as changed:
    the plain merge, with the same result as before."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = "pk int, m map<string,int>"
    store.upsert(spark.createDataFrame([(1, {"a": 1}), (2, {"b": 2})], schema), "t", "pk")
    landed = store.upsert(spark.createDataFrame([(2, {"b": 3})], schema), "t", "pk")
    assert (landed.rows, landed.delta_rows) == (1, 1)
    rows = {r["pk"]: r["m"] for r in store.read("t").collect()}
    assert rows == {1: {"a": 1}, 2: {"b": 3}}


def test_upsert_schema_mismatch_still_raises(spark, tmp_path):
    """The typed read of the stored table is used only when its files
    carry the incoming schema; otherwise the stored table is read as it
    is, and a column the incoming rows lack fails the upsert instead of
    being dropped from the table."""
    import pytest
    from pyspark.errors import AnalysisException

    store = ParquetStore(spark, str(tmp_path / "db"))
    store.insert(spark.createDataFrame([(1, "a", 5)], "pk int, v string, w int"), "t")
    with pytest.raises(AnalysisException):
        store.upsert(spark.createDataFrame([(1, "z")], "pk int, v string"), "t", "pk")
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(1, "a", 5)]


def test_upsert_replaces_only_the_file_holding_a_changed_key(spark, tmp_path):
    """A flat table in two files, a changed key in one of them: the
    other file keeps its bytes and mtime, the replaced file goes with
    its ``.crc`` sidecar (no sidecar is left without its parquet file),
    and what landed is the re-staged file set."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    base = spark.range(4, numPartitions=2).selectExpr("cast(id as int) pk", "concat('v', id) v")
    store.insert(base, "t")
    final = store.path("t")
    before = _file_state(final)
    files = sorted(r for r in before if r.endswith(".parquet"))
    assert [_keys_in(os.path.join(final, r)) for r in files] == [{0, 1}, {2, 3}]
    assert all(f".{r}.crc" in before for r in files)

    landed = store.upsert(spark.createDataFrame([(3, "new")], "pk int, v string"), "t", "pk")

    after = _file_state(final)
    kept, replaced = files
    assert after[kept] == before[kept] and after[f".{kept}.crc"] == before[f".{kept}.crc"]
    assert replaced not in after and f".{replaced}.crc" not in after
    assert _orphan_crcs(final) == []
    new = sorted(r for r in after if r.endswith(".parquet") and r != kept)
    assert (landed.rows, landed.delta_rows, landed.files) == (1, 1, len(new))
    assert sorted(tuple(r) for r in store.read("t").collect()) == [
        (0, "v0"), (1, "v1"), (2, "v2"), (3, "new"),
    ]
    assert not [n for n in os.listdir(store.root) if n.startswith(".")]
