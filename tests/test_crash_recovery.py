"""Crash-consistency sweeps for ParquetStore's commit protocol.

Every mutation is one ``_commit`` (journal, backups, moves, committed
mark). The sweeps stop a mutation at every step of its commit in two
ways, through the ``_CRASH_HOOK`` test seam:

- a simulated process KILL (a BaseException subclass, which skips the
  ``except Exception`` in-process rollback exactly like a real kill,
  leaving the journal and any half-applied renames on disk): the next
  store access must repair the table to EXACTLY the pre-mutation state
  (killed before the committed mark) or EXACTLY the post-mutation state
  (killed after), never a mix, never missing rows, never a visible
  backup;
- an ordinary EXCEPTION: the in-process rollback must leave exactly the
  pre-state, with no journal, backup or staging dir left behind.

This is the systematic version of the point-wise rollback tests in
tests/test_operators.py: those pin one failure site each; this sweeps
every site, so a new step added to a commit is automatically covered.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import unittest.mock as mock
from concurrent.futures import ThreadPoolExecutor

import pytest

from etl_data_peri_institute_spark import sinks
from etl_data_peri_institute_spark.sinks import ParquetStore


class _SimulatedCrash(BaseException):
    """Not an Exception: must bypass in-process rollback like a kill."""


class _StepFailed(Exception):
    """An ordinary error: must be rolled back in-process."""


def _rows(store: ParquetStore, table: str) -> list[tuple]:
    """MULTISET of rows (sorted list, not a set): a recovery bug that
    leaves the same row visible twice (partition restored from backup
    while a moved-in copy also survives) must fail the compare."""
    df = store.read(table)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _state(store: ParquetStore):
    """Table ``t``'s rows (None when there is no table) and its
    ``_LAST_EPOCH`` marker; reading it runs recovery first."""
    rows = _rows(store, "t") if store.exists("t") else None
    return rows, store.read_meta("t", "_LAST_EPOCH")


def _leftovers(store: ParquetStore) -> list[str]:
    """Journals, staging dirs and backups: every dot-prefixed name in
    the store root, and every ``.__bak_`` name below it."""
    out = [n for n in os.listdir(store.root) if n.startswith(".")]
    for base, dirs, files in os.walk(store.root):
        out += [os.path.join(base, n) for n in dirs + files if ".__bak_" in n]
    return out


def _crash_labels(spark, tmp_path, monkeypatch, seed, mutate, sub) -> list[str]:
    """Dry run: count/record the crash points the mutation passes."""
    seen: list[str] = []
    store = ParquetStore(spark, str(tmp_path / f"{sub}_dry"))
    seed(store)
    monkeypatch.setattr(sinks, "_CRASH_HOOK", seen.append)
    try:
        mutate(store)
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    return seen


# labels AFTER which the mutation is committed (the hook fires after
# its step completes, so a kill AT this label leaves post-state)
_COMMIT_LABELS = {"commit:committed"}


def _stop_at(monkeypatch, k: int, exc: type[BaseException]) -> None:
    """Install a hook that raises ``exc`` at the k-th crash point."""
    calls = {"n": 0}

    def hook(lbl):
        if calls["n"] == k:
            raise exc(lbl)
        calls["n"] += 1

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)


def _sweep(spark, tmp_path, monkeypatch, seed, mutate, sub, changes=True) -> list[str]:
    """Kill, then raise, at every step index; assert exact pre/post
    recovery after a kill and exact pre-state after a raise."""
    labels = _crash_labels(spark, tmp_path, monkeypatch, seed, mutate, sub)
    assert labels, "mutation passed no crash points — seam not wired"

    # reference pre/post states from clean runs
    ref = ParquetStore(spark, str(tmp_path / f"{sub}_ref"))
    seed(ref)
    pre = _state(ref)
    mutate(ref)
    post = _state(ref)
    if changes:
        assert pre != post, "mutation must change the table or the sweep is vacuous"

    for mode, exc in (("kill", _SimulatedCrash), ("raise", _StepFailed)):
        for k, label in enumerate(labels):
            store = ParquetStore(spark, str(tmp_path / f"{sub}_{mode}{k}"))
            seed(store)
            _stop_at(monkeypatch, k, exc)
            try:
                with pytest.raises(exc):
                    mutate(store)
            finally:
                monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
            if mode == "raise":
                # rolled back in-process, before any further access
                assert _leftovers(store) == [], (k, label, _leftovers(store))
                expected = pre
            else:
                expected = post if label in _COMMIT_LABELS else pre
            assert _state(store) == expected, (
                f"{mode} at step {k} ({label}): recovered state is neither "
                f"exact pre nor the expected state"
            )
            # recovery consumes the journal and leaves no backups
            assert _leftovers(store) == [], (mode, k, label, _leftovers(store))
            # and is idempotent: a second read sees the same state
            assert _state(store) == expected
    return labels


def _seed_flat(store: ParquetStore, one_task: bool = False) -> None:
    """Table ``t``, flat; written by one task when ``one_task``: then it
    is one file, with its ``.crc`` sidecar, at any core count."""
    df = store.spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "pk int, v string"
    )
    store.insert(df.coalesce(1) if one_task else df, "t")


def _seed_partitioned(store: ParquetStore, one_task: bool = False) -> None:
    """Table ``t`` partitioned by ``dt`` (d1: keys 1 and 2, d2: key 3);
    one file per dir when ``one_task``."""
    df = store.spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "pk int, v string, dt string",
    )
    store.insert(df.coalesce(1) if one_task else df, "t", partition_by=["dt"])


def _seed_nested(store: ParquetStore) -> None:
    """Table ``t`` partitioned by l1, l2 in one task: one file in each
    of l1=a/l2=x (key 1), l1=a/l2=y (key 2) and l1=b/l2=x (key 3)."""
    df = store.spark.createDataFrame(
        [(1, "a", "a", "x"), (2, "b", "a", "y"), (3, "c", "b", "x")],
        "pk int, v string, l1 string, l2 string",
    )
    store.insert(df.coalesce(1), "t", partition_by=["l1", "l2"])


def _seed_flat_epoch(store: ParquetStore) -> None:
    _seed_flat(store)
    store.write_meta("t", "_LAST_EPOCH", "7")


def _seed_partitioned_epoch(store: ParquetStore) -> None:
    _seed_partitioned(store)
    store.write_meta("t", "_LAST_EPOCH", "7")


_SWAP = ["commit:journaled", "commit:backed_up", "commit:moved", "commit:committed"]


def test_crash_sweep_partition_scoped_upsert(spark, tmp_path, monkeypatch):
    """One entry per replaced file, staged file or new partition dir:
    key 2 moves from d1 to d2 and key 4 opens d3. The seed's d1 file
    (keys 1 and 2) is replaced, so the commit backs up that file and its
    ``.crc`` and moves in the re-staged d1 file (key 1), a new d2 file
    beside the untouched one, and the new dir d3 — a backed-up file, a
    moved-in file and a moved-in dir, each with NO backup, in one
    sweep."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(2, "B2", "d2"), (4, "d", "d3")], "pk int, v string, dt string"
        )
        store.upsert(inc, "t", pk="pk")

    seed = functools.partial(_seed_partitioned, one_task=True)
    labels = _sweep(spark, tmp_path, monkeypatch, seed, mutate, "pswap")
    assert labels.count("commit:backed_up") == 2  # d1's file and its .crc
    assert labels.count("commit:moved") == 3  # d1/part, d2/part, d3


def test_crash_sweep_overwrite_table_swap(spark, tmp_path, monkeypatch):
    """Whole-table swap: overwrite() is one entry, the staged dir put
    at the table dir."""

    def mutate(store: ParquetStore) -> None:
        out = store.spark.createDataFrame(
            [(9, "z")], "pk int, v string"
        )
        store.overwrite(out, "t")

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_flat, mutate, "tswap")
    assert labels == _SWAP


def test_crash_sweep_delete_rows_rewrite(spark, tmp_path, monkeypatch):
    """_rewrite_and_swap path (delete_rows) rides the same whole-table
    commit; the partitioned layout must survive pre-state recovery."""

    def mutate(store: ParquetStore) -> None:
        keys = store.spark.createDataFrame([(1,)], "pk int")
        store.delete_rows("t", "pk", keys)

    _sweep(spark, tmp_path, monkeypatch, _seed_partitioned, mutate, "del")


def test_crash_sweep_partitioned_append(spark, tmp_path, monkeypatch):
    """Append: a partitioned insert that extends an existing partition
    (a file entry) AND creates a new one (a dir entry) must be
    all-or-nothing — the old direct ``mode("append")`` write could leave
    a partial append visible after a kill."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(4, "d", "d2"), (5, "e", "d9")], "pk int, v string, dt string"
        )
        store.insert(inc, "t", partition_by=["dt"])

    labels = _sweep(
        spark, tmp_path, monkeypatch, _seed_partitioned, mutate, "papp"
    )
    assert "commit:backed_up" not in labels and labels.count("commit:moved") >= 2


def test_crash_sweep_flat_append(spark, tmp_path, monkeypatch):
    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(4, "d")], "pk int, v string")
        store.insert(inc, "t")

    _sweep(spark, tmp_path, monkeypatch, _seed_flat, mutate, "fapp")


def test_crash_sweep_write_meta(spark, tmp_path, monkeypatch):
    """write_meta is a one-entry commit: the marker is replaced whole or
    not at all, and no temp file is ever written into the table dir."""

    def mutate(store: ParquetStore) -> None:
        store.write_meta("t", "_LAST_EPOCH", "8")

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_flat_epoch, mutate, "wmeta")
    assert labels == _SWAP


def test_upsert_no_op_passes_no_crash_point(spark, tmp_path, monkeypatch):
    """Change-first upsert, no changed key: nothing is committed, so there
    is no step to kill — the table's files stay byte-identical and no
    staging dir is left behind (flat and hive layouts)."""
    import hashlib

    def state(root):
        out = {}
        for base, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(base, name)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = (
                        os.stat(p).st_mtime_ns, hashlib.sha256(fh.read()).hexdigest()
                    )
        return out

    for seed, sub in ((_seed_flat, "noop_flat"), (_seed_partitioned, "noop_hive")):
        store = ParquetStore(spark, str(tmp_path / sub))
        seed(store)
        same = store.read("t")  # the stored rows, upserted again
        before = state(store.path("t"))
        seen: list[str] = []
        monkeypatch.setattr(sinks, "_CRASH_HOOK", seen.append)
        try:
            assert store.upsert(same, "t", pk="pk").rows == 3
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
        assert seen == [], sub
        assert state(store.path("t")) == before, sub
        assert [n for n in os.listdir(store.root) if n.startswith(".")] == [], sub


def test_crash_sweep_upsert_append_only(spark, tmp_path, monkeypatch):
    """Change-first upsert, only new keys (beside an unchanged one): the
    rows are appended — nothing stored is renamed aside — flat and
    hive."""

    def mutate_flat(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(1, "a"), (4, "d")], "pk int, v string")
        store.upsert(inc, "t", pk="pk")

    def mutate_hive(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(1, "a", "d1"), (4, "d", "d1"), (5, "e", "d9")], "pk int, v string, dt string"
        )
        store.upsert(inc, "t", pk="pk")

    for seed, mutate, sub in (
        (_seed_flat, mutate_flat, "uapp_flat"),
        (_seed_partitioned, mutate_hive, "uapp_hive"),
    ):
        labels = _sweep(spark, tmp_path, monkeypatch, seed, mutate, sub)
        assert "commit:moved" in labels and "commit:backed_up" not in labels, labels


def test_crash_sweep_upsert_changed_key_flat(spark, tmp_path, monkeypatch):
    """Change-first upsert, a changed key on a flat table: the file that
    holds it is replaced, not the table. The seed is one file; the
    commit backs up that file and its ``.crc`` and moves in the two
    re-staged files (its surviving keys 1 and 3; the staged keys 2
    and 4)."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(1, "a"), (2, "B2"), (4, "d")], "pk int, v string")
        store.upsert(inc, "t", pk="pk")

    seed = functools.partial(_seed_flat, one_task=True)
    labels = _sweep(spark, tmp_path, monkeypatch, seed, mutate, "uchg")
    assert labels == (
        ["commit:journaled"] + ["commit:backed_up"] * 2 + ["commit:moved"] * 2 + ["commit:committed"]
    )


def test_crash_sweep_upsert_changed_key_nested(spark, tmp_path, monkeypatch):
    """Change-first upsert on a two-level table: key 2 changes in place,
    key 3 leaves l1=b/l2=x (the sole leaf under l1=b) for l1=a/l2=x,
    and key 4 opens l1=c. The commit backs up the dir l1=b (emptied, so
    removed at its shallowest emptied ancestor) and l1=a/l2=y's file
    and ``.crc``, and moves in a file in each of l1=a/l2=x and
    l1=a/l2=y and the new dir l1=c; l1=a/l2=x's own file is untouched."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(2, "B2", "a", "y"), (3, "c", "a", "x"), (4, "d", "c", "z")],
            "pk int, v string, l1 string, l2 string",
        )
        store.upsert(inc, "t", pk="pk")

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_nested, mutate, "unest")
    assert labels == (
        ["commit:journaled"] + ["commit:backed_up"] * 3 + ["commit:moved"] * 3 + ["commit:committed"]
    )


def test_recovery_ignores_foreign_and_half_written_journals(
    spark, tmp_path, monkeypatch
):
    """A journal for ANOTHER table is untouched; a half-written journal
    (the .tmp that never got its atomic rename) is ignored; recovery on
    a healthy table is a no-op."""
    store = ParquetStore(spark, str(tmp_path / "j"))
    _seed_flat(store)
    before = _rows(store, "t")
    other = os.path.join(store.root, ".__journal_other_tok.json")
    with open(other, "w") as fh:
        json.dump({"table": "other", "entries": [["other", ".x", ".other.__bak_y"]], "committed": False}, fh)
    half = os.path.join(store.root, ".__journal_t_tok.json.tmp")
    with open(half, "w") as fh:
        fh.write('{"table": "t", "entries"')  # truncated JSON
    assert _rows(store, "t") == before
    assert os.path.isfile(other), "foreign journal must not be consumed"
    assert os.path.isfile(half), ".tmp file must not be consumed"


def test_crash_sweep_first_ever_insert_restores_no_table(
    spark, tmp_path, monkeypatch
):
    """A killed FIRST-EVER insert must recover to 'no table at all' — an
    empty leftover dir would flip exists() to True and crash read() on
    schema inference. The insert is one entry, the staged dir put at the
    missing table dir, so rollback removes what moved in. Pre-state
    here is the ABSENCE of the table (``_state`` reads it as None)."""

    def mutate(store: ParquetStore) -> None:
        df = store.spark.createDataFrame([(1, "a", "d1")], "pk int, v string, dt string")
        store.insert(df, "t", partition_by=["dt"])

    labels = _sweep(spark, tmp_path, monkeypatch, lambda store: None, mutate, "first")
    assert labels == ["commit:journaled", "commit:moved", "commit:committed"]


def test_recovery_owns_by_payload_not_filename_prefix(
    spark, tmp_path, monkeypatch
):
    """Self-review finding: table names contain underscores, so the
    journal FILENAME '.__journal_t_<token>' for table 't' also
    prefix-matches a journal for sibling table 't_x'. Ownership must be
    decided by the payload's table field: recovering 't' must leave
    't_x's crash journal (and its half-applied state) untouched."""
    store = ParquetStore(spark, str(tmp_path / "own"))
    _seed_flat(store)
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    store.insert(df, "t_x")

    # crash t_x's overwrite right after its backup-rename: t_x is
    # renamed aside, journal left behind
    def hook(lbl):
        if lbl == "commit:backed_up":
            raise _SimulatedCrash(lbl)

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(_SimulatedCrash):
            store.overwrite(
                spark.createDataFrame([(9, "z")], "pk int, v string"), "t_x"
            )
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    journals = [
        n for n in os.listdir(store.root) if n.startswith(".__journal_")
    ]
    assert journals, "crash must leave t_x's journal"

    # reading table 't' must not consume t_x's journal
    assert _rows(store, "t") == [(1, "a"), (2, "b"), (3, "c")]
    assert [
        n for n in os.listdir(store.root) if n.startswith(".__journal_")
    ] == journals
    # t_x's own next access performs its recovery
    assert _rows(store, "t_x") == [(1, "a")]
    assert not any(
        n.startswith(".__journal_") for n in os.listdir(store.root)
    )


def test_writers_of_different_tables_run_concurrently(spark, tmp_path, monkeypatch):
    """One writer per table: two threads insert and upsert different
    tables of one store with both commits' journals live at once. Each
    thread's returned ``Landed`` is its own call's, both tables come out
    right, and no journal or backup is left."""
    store = ParquetStore(spark, str(tmp_path / "conc"))
    _seed_flat(store)
    both_journaled = threading.Barrier(2, timeout=120)
    labels: list[tuple[str, str]] = []

    def hook(label: str) -> None:
        labels.append((threading.current_thread().name, label))
        if label == "commit:journaled":
            both_journaled.wait()

    def insert():
        return store.insert(spark.range(0, 7).withColumnRenamed("id", "k"), "u")

    def upsert():
        inc = spark.createDataFrame([(2, "B"), (4, "d")], "pk int, v string")
        return store.upsert(inc, "t", pk="pk")

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with ThreadPoolExecutor(2, thread_name_prefix="writer") as pool:
            ins, ups = pool.submit(insert), pool.submit(upsert)
            landed_ins, landed_ups = ins.result(), ups.result()
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)

    assert (landed_ins.rows, landed_ins.delta_rows) == (7, 7)
    assert landed_ins.files > 0
    # key 2 changed and key 4 is new: a merge of two rows
    assert (landed_ups.rows, landed_ups.delta_rows) == (2, 2)
    assert landed_ups.files > 0
    assert _rows(store, "u") == [(k,) for k in range(7)]
    assert _rows(store, "t") == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert len({name for name, label in labels if label == "commit:journaled"}) == 2
    assert _leftovers(store) == []


def test_recover_skips_journal_removed_mid_scan(spark, tmp_path, monkeypatch):
    """Another thread's commit may finish, removing its journal, between
    a recovery's listing of the store root and its read of that journal:
    the vanished journal is skipped, not taken for a corrupt one."""
    store = ParquetStore(spark, str(tmp_path / "scan"))
    _seed_flat(store)
    gone = store._journal_path("u", ".u_0123456789ab")
    listdir = os.listdir

    def listdir_then_commit_finishes(path):
        names = listdir(path)
        if path == store.root:
            names = sorted(names + [os.path.basename(gone)])  # listed, never there
        return names

    monkeypatch.setattr(sinks.os, "listdir", listdir_then_commit_finishes)
    store._recover("t")
    store._recover("u")
    assert list(store._journals()) == []
    assert _rows(store, "t") == [(1, "a"), (2, "b"), (3, "c")]
    monkeypatch.setattr(sinks.os, "listdir", listdir)
    assert _leftovers(store) == []


def test_recovery_preserves_unknown_journal_kind(spark, tmp_path):
    """A journal not in the commit shape (version skew: here one of the
    earlier per-kind journals; or a mangled field) must NOT be silently
    deleted — it is the only repair record for whatever half-applied
    state is on disk. The store surfaces it loudly and preserves the
    file."""
    store = ParquetStore(spark, str(tmp_path / "unk"))
    _seed_flat(store)
    jp = os.path.join(store.root, ".__journal_t_tok.json")
    with open(jp, "w") as fh:
        fh.write('{"kind": "table_swap", "table": "t", "stage": "x", "backup": "y"}')
    with pytest.raises(RuntimeError, match="commit-journal shape"):
        store.read("t")
    assert os.path.isfile(jp), "journal must be preserved for manual repair"
    # an entry reaching outside its table is not in the shape either
    with open(jp, "w") as fh:
        json.dump({"table": "t", "entries": [["u/x", None, "u/.x.__bak_y"]], "committed": False}, fh)
    with pytest.raises(RuntimeError, match="commit-journal shape"):
        store.read("t")
    assert os.path.isfile(jp)


def test_crash_sweep_compact_preserves_meta(spark, tmp_path, monkeypatch):
    """compact() rides the whole-table commit via _rewrite_and_swap and
    must carry user meta files through EVERY outcome: pre-state
    recovery keeps the original meta, post-state recovery keeps the
    carried copy — losing the rollup's _LAST_EPOCH replay guard
    re-enables a double-merge (the round-8 meta-loss bug class, swept
    here). Compaction keeps the rows, so pre and post states agree."""

    def mutate(store: ParquetStore) -> None:
        store.compact("t", target_files=1)

    _sweep(
        spark, tmp_path, monkeypatch, _seed_partitioned_epoch, mutate, "cm", changes=False
    )


def test_crash_sweep_overwrite_meta_files_atomic(spark, tmp_path, monkeypatch):
    """overwrite(meta_files=...) commits data + meta in ONE rename:
    pre-state recovery must show the OLD meta with the OLD rows,
    post-state the NEW meta with the NEW rows — never a cross pairing
    (a new epoch marker on old rows would permanently skip a merge).
    ``_state`` holds rows and marker together."""

    def mutate(store: ParquetStore) -> None:
        new_df = store.spark.createDataFrame([(9, "z")], "pk int, v string")
        store.overwrite(new_df, "t", meta_files={"_LAST_EPOCH": "8"})

    _sweep(spark, tmp_path, monkeypatch, _seed_flat_epoch, mutate, "om")


def test_crash_sweep_append_with_meta_files(spark, tmp_path, monkeypatch):
    """insert(meta_files=...) on an existing table: the new files and
    the replaced marker are entries of one commit — the rows never land
    without the marker, nor the marker without the rows."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(4, "d")], "pk int, v string")
        store.insert(inc, "t", meta_files={"_LAST_EPOCH": "8"})

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_flat_epoch, mutate, "ameta")
    assert labels.count("commit:backed_up") == 1  # the marker


def test_exception_rollback_of_first_insert_removes_created_dir(
    spark, tmp_path, monkeypatch
):
    """Second-review finding: the EXCEPTION rollback of an append (not
    just the kill-recovery path) must remove a table directory the
    failed append created — otherwise exists() flips True on an empty
    dir, read() crashes on schema inference, and the next partitioned
    insert hits a false layout-mismatch."""
    store = ParquetStore(spark, str(tmp_path / "er"))
    df = spark.createDataFrame([(1, "a", "d1")], "pk int, v string, dt string")

    def hook(lbl):
        if lbl == "commit:moved":
            raise RuntimeError("disk full")  # ordinary Exception, after the move

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(RuntimeError, match="disk full"):
            store.insert(df, "t", partition_by=["dt"])
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    assert not store.exists("t")
    # and the table is cleanly creatable afterwards
    assert store.insert(df, "t", partition_by=["dt"]).rows == 1
    assert _rows(store, "t") == [("d1", 1, "a")]  # _rows sorts columns


def test_partitioned_insert_into_validly_empty_table(spark, tmp_path):
    """Second-review finding: delete_rows removing EVERY row leaves a
    validly-empty table (no files, no partition dirs); the layout guard
    must accept the next partitioned insert instead of bricking the
    ingest with a false [] != ['dt'] mismatch."""
    store = ParquetStore(spark, str(tmp_path / "em"))
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "pk int, v string, dt string"
    )
    store.insert(df, "t", partition_by=["dt"])
    keys = spark.createDataFrame([(1,), (2,)], "pk int")
    assert store.delete_rows("t", "pk", keys) == 2
    # table exists, holds nothing — re-ingest partitioned must work
    assert store.insert(df, "t", partition_by=["dt"]).rows == 2
    assert _rows(store, "t") == [("d1", 1, "a"), ("d2", 2, "b")]


def test_overwrite_rejects_unignorable_meta_names(spark, tmp_path):
    """Second-review finding: overwrite(meta_files=...) must enforce the
    same underscore-prefix rule as write_meta — a non-underscored name
    becomes an unreadable 'footer' that breaks every later scan, and a
    path separator would escape the staged dir."""
    store = ParquetStore(spark, str(tmp_path / "mn"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    for bad in ("last_epoch", "_a/b", "/etc/x"):
        with pytest.raises(ValueError, match="meta file name"):
            store.overwrite(df, "t", meta_files={bad: "1"})
    assert not store.exists("t"), "rejected overwrite must not commit"
    store.overwrite(df, "t", meta_files={"_LAST_EPOCH": "1"})
    assert store.read_meta("t", "_LAST_EPOCH") == "1"


def test_vacuum_reclaims_orphans_preserves_journaled_dirs(
    spark, tmp_path, monkeypatch
):
    """vacuum() removes kill-orphaned staging dirs and stray journal
    .tmp files but never a journal or the dirs a journal references."""
    store = ParquetStore(spark, str(tmp_path / "vac"))
    _seed_flat(store)
    # orphan stage dir (pre-journal kill leaves exactly this)
    orphan = os.path.join(store.root, ".t_stage_orphan123")
    os.makedirs(orphan)
    stray = os.path.join(store.root, ".__journal_t_x.json.tmp")
    with open(stray, "w") as fh:
        fh.write("{")
    # a crashed swap: journal + table renamed aside (uncommitted)
    def hook(lbl):
        if lbl == "commit:backed_up":
            raise _SimulatedCrash(lbl)

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(_SimulatedCrash):
            store.overwrite(
                spark.createDataFrame([(9, "z")], "pk int, v string"), "t"
            )
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    removed = store.vacuum()
    assert removed == [".__journal_t_x.json.tmp", ".t_stage_orphan123"]
    # the journal and the backup it names survived vacuum
    assert any(n.startswith(".__journal_t_") for n in os.listdir(store.root))
    assert any(".__bak_" in n for n in os.listdir(store.root))
    # ... so recovery still restores the table afterwards
    assert _rows(store, "t") == [(1, "a"), (2, "b"), (3, "c")]


def test_vacuum_preserves_append_and_pswap_staging_dirs(spark, tmp_path):
    """Round-9 advisor finding: the staging dir of a crashed uncommitted
    append (holding its not-yet-moved parquet files) was
    vacuum-deletable before recovery ran. vacuum must pin every
    root-level name a live journal's entries mention: the staging dirs
    of a file append and of a partition swap, and a table-level
    backup. Hand-crafts the exact post-kill state — a live uncommitted
    journal plus its root-level dirs — since an in-process simulated
    crash unwinds the callers' cleanup ``finally`` blocks, which a real
    kill would not."""
    store = ParquetStore(spark, str(tmp_path / "vac2"))
    _seed_flat(store)
    for token, entry in (
        (".t_ins_killed1", ["t/part-9.parquet", ".t_ins_killed1/part-9.parquet", None]),
        (".t_pmerge_killed2", ["t/dt=a", ".t_pmerge_killed2/dt=a", "t/.dt=a.__bak_k2"]),
        (".t_stage_killed3", ["t", ".t_stage_killed3", ".t.__bak_k3"]),
    ):
        os.makedirs(os.path.join(store.root, token))
        with open(os.path.join(store.root, token, "part-0.parquet"), "w") as fh:
            fh.write("staged")
        with open(store._journal_path("t", token), "w") as fh:
            json.dump({"table": "t", "entries": [entry], "committed": False}, fh)
    os.makedirs(os.path.join(store.root, ".t.__bak_k3"))
    # plus one genuine orphan to prove vacuum still reclaims
    orphan = os.path.join(store.root, ".t_stage_orphan456")
    os.makedirs(orphan)
    removed = store.vacuum()
    assert removed == [".t_stage_orphan456"]
    for name in (".t_ins_killed1", ".t_pmerge_killed2", ".t_stage_killed3", ".t.__bak_k3"):
        assert os.path.isdir(os.path.join(store.root, name)), name


def test_append_journal_records_src_staging_dir(spark, tmp_path, monkeypatch):
    """The live append journal written before any file move must name
    its staging dir (vacuum live-set contract above)."""
    store = ParquetStore(spark, str(tmp_path / "vac3"))
    _seed_flat(store)

    seen: dict = {}

    def hook(lbl):
        if lbl == "commit:journaled":
            for name in os.listdir(store.root):
                if name.startswith(".__journal_t_") and name.endswith(".json"):
                    with open(os.path.join(store.root, name)) as fh:
                        seen.update(json.load(fh))
            raise _SimulatedCrash(lbl)

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(_SimulatedCrash):
            store.insert(
                spark.createDataFrame([(9, "z")], "pk int, v string"), "t"
            )
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    assert seen.get("table") == "t" and seen.get("committed") is False
    assert seen["entries"] and all(
        dst.startswith("t/") and src.startswith(".t_stage_") and bak is None
        for dst, src, bak in seen["entries"]
    )


def test_simulate_kill_seam_inactive_without_hook(spark, tmp_path):
    """ADVICE round-9: an exception object carrying a truthy
    simulate_kill attribute must NOT skip the commit's in-process
    rollback when no crash hook is installed — the test seam may never
    be reachable from production exceptions. With the seam closed, a
    failing first insert rolls back cleanly: no journal left, table
    absent again (the insert created it)."""

    class _ProdError(Exception):
        simulate_kill = True  # hostile/accidental attribute

    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    assert sinks._CRASH_HOOK is None

    orig_replace = os.replace
    calls = {"n": 0}

    def failing_replace(src, dst):
        # fail the move of the staged dir onto the table dir, once
        if dst == store.path("t") and calls["n"] == 0:
            calls["n"] += 1
            raise _ProdError("disk full")
        return orig_replace(src, dst)

    with mock.patch.object(sinks.os, "replace", failing_replace):
        with pytest.raises(_ProdError):
            store.insert(df, "t")
    assert calls["n"] == 1
    # rollback ran: no journal, no half-created table
    assert [n for n in os.listdir(store.root) if n.startswith(".__journal_")] == []
    assert not store.exists("t")


def test_vacuum_corrupt_journal_shields_root_level_dirs(spark, tmp_path):
    """Self-review hardening of the corrupt-journal shield: the root
    sweep must not rmtree the crashed mutation's staging dirs or its
    table-level backup (a backup can hold the ONLY copy of the table's
    data — a parseable journal pins them through its entries, an
    unreadable one must shield by owner prefix)."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    store.insert(df, "t")
    backup = os.path.join(store.root, ".t.__bak_.t_xyz")
    stage = os.path.join(store.root, ".t_stage_abc")
    os.makedirs(backup)
    os.makedirs(stage)
    jp = store._journal_path("t", ".t_stage_abc")
    with open(jp, "w") as fh:
        fh.write("{ corrupt")
    removed = store.vacuum()
    assert os.path.isdir(backup), "backup dir may be the only data copy"
    assert os.path.isdir(stage)
    assert not any(r.startswith(".t") for r in removed)
    # an unrelated orphan is still reclaimed in the same pass
    orphan = os.path.join(store.root, ".u_stage_orphan")
    os.makedirs(orphan)
    assert ".u_stage_orphan" in store.vacuum()
    # once the corrupt journal is gone the dirs become ordinary orphans
    os.remove(jp)
    got = store.vacuum()
    assert ".t.__bak_.t_xyz" in got and ".t_stage_abc" in got


def test_recover_raises_loudly_on_own_corrupt_journal(spark, tmp_path):
    """Self-review: _recover used to `continue` past a corrupt journal
    — the table's half-applied state would be served forever with no
    diagnostic. It must now raise for the table's OWN unreadable
    journal (the only repair record), while a corrupt journal of a
    prefix-sibling (`.__journal_t_x_*` prefix-matches table `t`) stays
    that sibling's problem."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    store.insert(df, "t")
    store.insert(df, "t_x")
    # corrupt journal owned by the SIBLING t_x
    with open(store._journal_path("t_x", ".t_x_stage_a"), "w") as fh:
        fh.write("{ corrupt")
    # t's recovery skips the sibling's journal (ownership by filename)
    assert store.read("t").count() == 1
    with pytest.raises(RuntimeError, match="unreadable"):
        store.read("t_x")


def test_resharding_previous_export_replaces_hash_col(spark):
    """Second-review finding: sharded_frame on an input that already
    carries the hash column (re-sharding a previous export) must
    replace it, not produce a duplicate-named column."""
    from etl_data_peri_institute_spark.sinks import sharded_frame

    df = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")
    once = sharded_frame(df, 2, "doc_id")
    twice = sharded_frame(once, 2, "doc_id")
    assert twice.columns.count("shard_hash") == 1
    assert twice.count() == 3
