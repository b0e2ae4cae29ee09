"""Crash-consistency sweep for ParquetStore's journaled mutations.

Simulates a process kill BETWEEN every pair of steps of every journaled
directory mutation (whole-table swap, partition swap, append file
moves) by raising a BaseException subclass from the ``_CRASH_HOOK``
test seam — BaseException skips the ``except Exception`` in-process
rollbacks exactly like a real kill, leaving the journal and any
half-applied renames on disk. The next store access must then repair
the table to EXACTLY the pre-mutation state (crash before the commit
point) or EXACTLY the post-mutation state (crash after), never a mix,
never missing rows, never a visible backup dir.

This is the systematic version of the point-wise rollback tests in
tests/test_operators.py: those pin one failure site each; this sweeps
every site, so a new step added to a swap is automatically covered.
"""

from __future__ import annotations

import os

import pytest

from etl_data_peri_institute_spark import sinks
from etl_data_peri_institute_spark.sinks import ParquetStore


class _SimulatedCrash(BaseException):
    """Not an Exception: must bypass in-process rollback like a kill."""


def _rows(store: ParquetStore, table: str) -> list[tuple]:
    """MULTISET of rows (sorted list, not a set): a recovery bug that
    leaves the same row visible twice (partition restored from backup
    while a moved-in copy also survives) must fail the compare."""
    df = store.read(table)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


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
# its step completes, so crashing AT these labels leaves post-state)
_COMMIT_LABELS = {
    "table_swap:swapped",
    "partition_swap:committed",
    "append:committed",
}


def _sweep(spark, tmp_path, monkeypatch, seed, mutate, sub) -> list[str]:
    """Crash at every step index; assert exact pre/post recovery."""
    labels = _crash_labels(spark, tmp_path, monkeypatch, seed, mutate, sub)
    assert labels, "mutation passed no crash points — seam not wired"

    # reference pre/post row sets from clean runs
    ref = ParquetStore(spark, str(tmp_path / f"{sub}_ref"))
    seed(ref)
    pre = _rows(ref, "t")
    mutate(ref)
    post = _rows(ref, "t")
    assert pre != post, "mutation must change the table or the sweep is vacuous"

    for k, label in enumerate(labels):
        store = ParquetStore(spark, str(tmp_path / f"{sub}_k{k}"))
        seed(store)

        calls = {"n": 0}

        def hook(lbl, _k=k):
            if calls["n"] == _k:
                raise _SimulatedCrash(lbl)
            calls["n"] += 1

        monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
        try:
            with pytest.raises(_SimulatedCrash):
                mutate(store)
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)

        expected = post if label in _COMMIT_LABELS else pre
        got = _rows(store, "t")  # read() runs recovery first
        assert got == expected, (
            f"crash at step {k} ({label}): recovered rows are neither "
            f"exact pre nor the expected state"
        )
        # recovery must consume the journal and leave no visible backups
        root = store.root
        leftovers = [
            n for n in os.listdir(root) if n.startswith(".__journal_")
        ]
        assert leftovers == [], (k, label, leftovers)
        tdir = store.path("t")
        if os.path.isdir(tdir):
            baks = [n for n in os.listdir(tdir) if ".__bak_" in n]
            assert baks == [], (k, label, baks)
        # recovery is idempotent: a second read sees the same rows
        assert _rows(store, "t") == expected
    return labels


def _seed_flat(store: ParquetStore) -> None:
    df = store.spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "pk int, v string"
    )
    store.insert(df, "t")


def _seed_partitioned(store: ParquetStore) -> None:
    df = store.spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "pk int, v string, dt string",
    )
    store.insert(df, "t", partition_by=["dt"])


def test_crash_sweep_partition_scoped_upsert(spark, tmp_path, monkeypatch):
    """Partition-swap journal: the upsert touches an existing partition
    (update), moves a PK across partitions, and creates a brand-new
    partition — all three recovery cases (backed-up dir, moved-in dir
    with backup, moved-in dir with NO backup) are in one sweep."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(2, "B2", "d2"), (4, "d", "d3")], "pk int, v string, dt string"
        )
        store.upsert(inc, "t", pk="pk")

    labels = _sweep(
        spark, tmp_path, monkeypatch, _seed_partitioned, mutate, "pswap"
    )
    assert any(lbl.startswith("partition_swap:") for lbl in labels)


def test_crash_sweep_overwrite_table_swap(spark, tmp_path, monkeypatch):
    """Table-swap journal: overwrite() replaces the whole directory."""

    def mutate(store: ParquetStore) -> None:
        out = store.spark.createDataFrame(
            [(9, "z")], "pk int, v string"
        )
        store.overwrite(out, "t")

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_flat, mutate, "tswap")
    assert "table_swap:swapped" in labels


def test_crash_sweep_delete_rows_rewrite(spark, tmp_path, monkeypatch):
    """_rewrite_and_swap path (delete_rows) rides the same table-swap
    journal; the partitioned layout must survive pre-state recovery."""

    def mutate(store: ParquetStore) -> None:
        keys = store.spark.createDataFrame([(1,)], "pk int")
        store.delete_rows("t", "pk", keys)

    _sweep(spark, tmp_path, monkeypatch, _seed_partitioned, mutate, "del")


def test_crash_sweep_partitioned_append(spark, tmp_path, monkeypatch):
    """Append journal: a partitioned insert that extends an existing
    partition AND creates a new one must be all-or-nothing — the old
    direct ``mode("append")`` write could leave a partial append
    visible after a kill."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame(
            [(4, "d", "d2"), (5, "e", "d9")], "pk int, v string, dt string"
        )
        store.insert(inc, "t", partition_by=["dt"])

    labels = _sweep(
        spark, tmp_path, monkeypatch, _seed_partitioned, mutate, "papp"
    )
    assert "append:committed" in labels


def test_crash_sweep_flat_append(spark, tmp_path, monkeypatch):
    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(4, "d")], "pk int, v string")
        store.insert(inc, "t")

    _sweep(spark, tmp_path, monkeypatch, _seed_flat, mutate, "fapp")


def test_upsert_no_op_passes_no_crash_point(spark, tmp_path, monkeypatch):
    """Change-first upsert, no changed key: nothing is journaled, so there
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
            assert store.upsert(same, "t", pk="pk") == 3
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
        assert seen == [], sub
        assert state(store.path("t")) == before, sub
        assert [n for n in os.listdir(store.root) if n.startswith(".")] == [], sub


def test_crash_sweep_upsert_append_only(spark, tmp_path, monkeypatch):
    """Change-first upsert, only new keys (beside an unchanged one): the
    rows take the journaled append path, flat and hive."""

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
        assert labels and all(lbl.startswith("append:") for lbl in labels), labels


def test_crash_sweep_upsert_changed_key_flat(spark, tmp_path, monkeypatch):
    """Change-first upsert, a changed key on a flat table: the merge of
    the changed rows rides the table-swap journal."""

    def mutate(store: ParquetStore) -> None:
        inc = store.spark.createDataFrame([(1, "a"), (2, "B2"), (4, "d")], "pk int, v string")
        store.upsert(inc, "t", pk="pk")

    labels = _sweep(spark, tmp_path, monkeypatch, _seed_flat, mutate, "uchg")
    assert "table_swap:swapped" in labels


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
        fh.write('{"kind": "table_swap", "table": "other", "stage": "x", "backup": "y"}')
    half = os.path.join(store.root, ".__journal_t_tok.json.tmp")
    with open(half, "w") as fh:
        fh.write('{"kind": "append", "table"')  # truncated JSON
    assert _rows(store, "t") == before
    assert os.path.isfile(other), "foreign journal must not be consumed"
    assert os.path.isfile(half), ".tmp file must not be consumed"


def test_crash_sweep_first_ever_insert_restores_no_table(
    spark, tmp_path, monkeypatch
):
    """Self-review finding (confirmed live): a killed FIRST-EVER insert
    must recover to 'no table at all' — _append_files created the table
    dir before moving files, and deleting only the files left an empty
    husk that flipped exists() to True and crashed read() on schema
    inference. Pre-state here is the ABSENCE of the table."""
    labels = []
    dry = ParquetStore(spark, str(tmp_path / "first_dry"))
    df = spark.createDataFrame([(1, "a", "d1")], "pk int, v string, dt string")
    monkeypatch.setattr(sinks, "_CRASH_HOOK", labels.append)
    try:
        dry.insert(df, "t", partition_by=["dt"])
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    post = _rows(dry, "t")

    for k, label in enumerate(labels):
        store = ParquetStore(spark, str(tmp_path / f"first_k{k}"))
        calls = {"n": 0}

        def hook(lbl, _k=k):
            if calls["n"] == _k:
                raise _SimulatedCrash(lbl)
            calls["n"] += 1

        monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
        try:
            with pytest.raises(_SimulatedCrash):
                store.insert(df, "t", partition_by=["dt"])
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
        if label in _COMMIT_LABELS:
            assert store.exists("t") and _rows(store, "t") == post, (k, label)
        else:
            # recovery must restore "no table", not an empty directory
            assert not store.exists("t"), (k, label)
            with pytest.raises(FileNotFoundError):
                store.read("t")


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
    calls = {"n": 0}

    def hook(lbl):
        if lbl == "table_swap:backed_up":
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


def test_recovery_preserves_unknown_journal_kind(spark, tmp_path):
    """Self-review finding: an unrecognized journal kind (version skew,
    mangled field) must NOT be silently deleted — it is the only repair
    record for whatever half-applied state is on disk. The store
    surfaces it loudly and preserves the file."""
    store = ParquetStore(spark, str(tmp_path / "unk"))
    _seed_flat(store)
    jp = os.path.join(store.root, ".__journal_t_tok.json")
    with open(jp, "w") as fh:
        fh.write('{"kind": "future_thing", "table": "t"}')
    with pytest.raises(RuntimeError, match="unrecognized kind"):
        store.read("t")
    assert os.path.isfile(jp), "journal must be preserved for manual repair"


def test_crash_sweep_compact_preserves_meta(spark, tmp_path, monkeypatch):
    """compact() rides the table-swap journal via _rewrite_and_swap and
    must carry user meta files through EVERY crash outcome: pre-state
    recovery keeps the original meta, post-state recovery keeps the
    carried copy — losing the rollup's _LAST_EPOCH replay guard
    re-enables a double-merge (the round-8 meta-loss bug class, now
    swept under kills too)."""
    labels = []
    dry = ParquetStore(spark, str(tmp_path / "cm_dry"))
    _seed_partitioned(dry)
    dry.write_meta("t", "_LAST_EPOCH", "7")
    monkeypatch.setattr(sinks, "_CRASH_HOOK", labels.append)
    try:
        dry.compact("t", target_files=1)
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    post = _rows(dry, "t")

    for k, label in enumerate(labels):
        store = ParquetStore(spark, str(tmp_path / f"cm_k{k}"))
        _seed_partitioned(store)
        store.write_meta("t", "_LAST_EPOCH", "7")
        pre = _rows(store, "t")
        calls = {"n": 0}

        def hook(lbl, _k=k):
            if calls["n"] == _k:
                raise _SimulatedCrash(lbl)
            calls["n"] += 1

        monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
        try:
            with pytest.raises(_SimulatedCrash):
                store.compact("t", target_files=1)
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
        expected = post if label in _COMMIT_LABELS else pre
        assert _rows(store, "t") == expected, (k, label)
        # the replay guard must survive EVERY outcome
        assert store.read_meta("t", "_LAST_EPOCH") == "7", (k, label)


def test_crash_sweep_overwrite_meta_files_atomic(spark, tmp_path, monkeypatch):
    """overwrite(meta_files=...) commits data + meta in ONE rename:
    pre-state recovery must show the OLD meta with the OLD rows,
    post-state the NEW meta with the NEW rows — never a cross pairing
    (a new epoch marker on old rows would permanently skip a merge)."""
    labels = []
    dry = ParquetStore(spark, str(tmp_path / "om_dry"))
    _seed_flat(dry)
    dry.write_meta("t", "_LAST_EPOCH", "7")
    new_df = spark.createDataFrame([(9, "z")], "pk int, v string")
    monkeypatch.setattr(sinks, "_CRASH_HOOK", labels.append)
    try:
        dry.overwrite(new_df, "t", meta_files={"_LAST_EPOCH": "8"})
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    post = _rows(dry, "t")

    for k, label in enumerate(labels):
        store = ParquetStore(spark, str(tmp_path / f"om_k{k}"))
        _seed_flat(store)
        store.write_meta("t", "_LAST_EPOCH", "7")
        pre = _rows(store, "t")
        calls = {"n": 0}

        def hook(lbl, _k=k):
            if calls["n"] == _k:
                raise _SimulatedCrash(lbl)
            calls["n"] += 1

        monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
        try:
            with pytest.raises(_SimulatedCrash):
                store.overwrite(new_df, "t", meta_files={"_LAST_EPOCH": "8"})
        finally:
            monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
        if label in _COMMIT_LABELS:
            assert _rows(store, "t") == post, (k, label)
            assert store.read_meta("t", "_LAST_EPOCH") == "8", (k, label)
        else:
            assert _rows(store, "t") == pre, (k, label)
            assert store.read_meta("t", "_LAST_EPOCH") == "7", (k, label)


def test_exception_rollback_of_first_insert_removes_created_dir(
    spark, tmp_path, monkeypatch
):
    """Second-review finding: the EXCEPTION rollback in _append_files
    (not just the kill-recovery path) must remove a table directory the
    failed append created — otherwise exists() flips True on an empty
    dir, read() crashes on schema inference, and the next partitioned
    insert hits a false layout-mismatch."""
    store = ParquetStore(spark, str(tmp_path / "er"))
    df = spark.createDataFrame([(1, "a", "d1")], "pk int, v string, dt string")

    def hook(lbl):
        if lbl == "append:moved":
            raise RuntimeError("disk full")  # ordinary Exception, mid-move

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(RuntimeError, match="disk full"):
            store.insert(df, "t", partition_by=["dt"])
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    assert not store.exists("t")
    # and the table is cleanly creatable afterwards
    assert store.insert(df, "t", partition_by=["dt"]) == 1
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
    assert store.insert(df, "t", partition_by=["dt"]) == 2
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
    # a crashed swap: journal + backup present (uncommitted)
    def hook(lbl):
        if lbl == "table_swap:backed_up":
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
    assert ".t_stage_orphan123" in removed
    assert ".__journal_t_x.json.tmp" in removed
    # the journal and its referenced backup/stage survived vacuum
    assert any(n.startswith(".__journal_t_") for n in os.listdir(store.root))
    # ... so recovery still restores the table afterwards
    assert _rows(store, "t") == [(1, "a"), (2, "b"), (3, "c")]


def test_vacuum_preserves_append_and_pswap_staging_dirs(spark, tmp_path):
    """Round-9 advisor finding: append journals carry no 'stage' field,
    so the staging dir of a crashed uncommitted append (holding its
    not-yet-moved parquet files) was vacuum-deletable before recovery
    ran. The journal now records the staging dir under 'src' (and the
    partition-swap journal's 'token' names ITS staging tmp dir); vacuum
    must treat both as live. Hand-crafts the exact post-kill state —
    a live uncommitted journal plus its root-level staging dir — since
    an in-process simulated crash unwinds the callers' cleanup
    ``finally`` blocks, which a real kill would not."""
    import json as _json

    store = ParquetStore(spark, str(tmp_path / "vac2"))
    _seed_flat(store)
    for kind, field, token in (
        ("append", "src", ".t_ins_killed1"),
        ("partition_swap", "token", ".t_pmerge_killed2"),
    ):
        src = os.path.join(store.root, token)
        os.makedirs(src)
        with open(os.path.join(src, "part-0.parquet"), "w") as fh:
            fh.write("staged")
        payload = {"kind": kind, "table": "t", "files": [], "dirs": [], field: token}
        with open(
            os.path.join(store.root, f".__journal_t_{token}.json"), "w"
        ) as fh:
            _json.dump(payload, fh)
    # plus one genuine orphan to prove vacuum still reclaims
    orphan = os.path.join(store.root, ".t_stage_orphan456")
    os.makedirs(orphan)
    removed = store.vacuum()
    assert removed == [".t_stage_orphan456"]
    assert os.path.isdir(os.path.join(store.root, ".t_ins_killed1"))
    assert os.path.isdir(os.path.join(store.root, ".t_pmerge_killed2"))


def test_append_journal_records_src_staging_dir(spark, tmp_path, monkeypatch):
    """The live append journal written before any file move must name
    its staging dir (vacuum live-set contract above)."""
    import json as _json

    store = ParquetStore(spark, str(tmp_path / "vac3"))
    _seed_flat(store)

    seen: dict = {}

    def hook(lbl):
        if lbl == "append:journaled":
            for name in os.listdir(store.root):
                if name.startswith(".__journal_t_") and name.endswith(".json"):
                    with open(os.path.join(store.root, name)) as fh:
                        seen.update(_json.load(fh))
            raise _SimulatedCrash(lbl)

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(_SimulatedCrash):
            store.insert(
                spark.createDataFrame([(9, "z")], "pk int, v string"), "t"
            )
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
    assert seen.get("kind") == "append"
    assert seen.get("src") and seen["src"].startswith(".t_")


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
