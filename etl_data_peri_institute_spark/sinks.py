"""Sinks: a parquet-backed table store with INSERT / UPSERT semantics,
the audit-CSV sink for rejected rows, and a JDBC writer.

Replaces the reference's PostgREST sink (etl/load.py:260-346 — 100-row
JSON batches, 0.5 s pauses, retry/backoff ≈ 200 rows/s ceiling) with
parquet writes: Spark's task retries subsume the retry loop, and
throughput scales with executors instead of an HTTP rate limit.

UPSERT (reference etl/load.py:283 — insert-or-update on PK) without a
Delta/Iceberg jar in this image is emulated file by file: the stored
files that hold a changed key are rewritten without that key's rows,
beside the incoming rows, and swapped in by one journaled commit of
renames (``ParquetStore._commit``); every other file is left alone. On
a real deployment this is one ``MERGE INTO`` against Delta/Iceberg,
whose file pruning does the same — the surrounding plan (dedup →
integrity → merge) is identical.
The JDBC variant (the reference's actual Postgres target) is
``write_jdbc`` below: append straight to the table, or stage + the
``jdbc_upsert_sql`` MERGE statement for upsert.

Execution discipline: each sink runs the incoming plan EXACTLY ONCE —
every mutation is one write into a scratch dir (``ParquetStore._write``,
its row count an ``Observation`` on that write: no re-read of the
written files, no second pass) and then one ``_commit``; the call
returns what landed as a ``Landed``. Every store read is typed: by the
caller's schema, or else by ``sources.tables.parquet_schema`` — the
schema the table's first data file's footer records, read on the driver
— so no read launches a schema-inference job.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import threading
import uuid
from urllib.parse import unquote, urlparse
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.tables import _footers, _parquet_files, parquet_schema

# Test seam for the commit protocol (``ParquetStore._commit``): when
# set, called with a step label after every commit step —
# ``commit:journaled``, ``commit:backed_up`` (per backup),
# ``commit:moved`` (per move) and ``commit:committed``. A test hook
# that raises a BaseException subclass simulates a process kill BETWEEN
# steps (BaseException skips the ``except Exception`` rollback exactly
# like a real kill would; recovery on next access must then restore a
# consistent table); one that raises an ordinary Exception exercises
# the in-process rollback. Never set in production.
_CRASH_HOOK = None


def _crash_point(label: str) -> None:
    if _CRASH_HOOK is not None:
        _CRASH_HOOK(label)


@dataclass(frozen=True)
class Landed:
    """What one sink call wrote, returned by ``insert``, ``upsert``,
    ``overwrite`` and ``audit_csv``. ``rows``: the rows it was given,
    observed on its single write; ``delta_rows``: the rows that reached
    the target (an upsert writes only the keys whose stored rows
    differ); ``files``/``bytes``: the data files it added to or rewrote
    in the target; ``path``: the output directory of an audit."""

    rows: int
    delta_rows: int = 0
    files: int = 0
    bytes: int = 0
    path: str | None = None


def observed_stage(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"]
) -> tuple[DataFrame, Observation]:
    """Attach free single-pass metrics to a pipeline stage via Spark's
    Observation API: the named aggregates are computed DURING whatever
    action first consumes ``df`` — no second scan, unlike the
    ``.count()``-for-logging pattern, which at 100 TB doubles the read
    cost of every audited stage. After an action runs, ``obs.get``
    returns the metric dict.

    Metrics must be aggregate expressions (count/sum/min/max/...);
    typical stage telemetry is row count + null counts + key bounds.
    ``name`` must be unique among the observations of one plan.
    """
    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def _rows_observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    return observed_stage(df, name, {"rows": F.count(F.lit(1))})


def _data_files(root: str) -> tuple[int, int]:
    """(count, bytes) of the visible parquet files under ``root``."""
    rels = list(_parquet_files(root))
    return len(rels), sum(os.path.getsize(os.path.join(root, r)) for r in rels)


def _remove(path: str) -> None:
    """Remove a file or directory tree; a missing path is fine."""
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _is_commit_journal(payload) -> bool:
    """Whether ``payload`` has the shape ``ParquetStore._commit``
    writes: a table, a committed flag and ``[dst, src, backup]``
    entries whose dst and backup lie in the table (a rollback renames
    and removes only those)."""
    if not (
        isinstance(payload, dict)
        and isinstance(payload.get("table"), str)
        and isinstance(payload.get("committed"), bool)
        and isinstance(payload.get("entries"), list)
    ):
        return False

    def inside(dst) -> bool:
        return isinstance(dst, str) and os.path.normpath(dst).split(os.sep)[0] == payload["table"]

    def beside(bak, dst) -> bool:
        return isinstance(bak, str) and (
            os.path.dirname(os.path.normpath(bak)) == os.path.dirname(os.path.normpath(dst))
        )

    return all(
        isinstance(e, list)
        and len(e) == 3
        and inside(e[0])
        and (e[1] is None or isinstance(e[1], str))
        and (e[2] is None or beside(e[2], e[0]))
        for e in payload["entries"]
    )


def _q(name: str) -> str:
    """Backtick-quote a column name for ``F.col`` (dots stay literal)."""
    return "`" + name.replace("`", "``") + "`"


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can sort and compare values of ``dt`` (maps and
    variants cannot)."""
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    return not isinstance(dt, T.MapType) and dt.typeName() != "variant"


def _changed_rows(
    incoming: DataFrame, stored: DataFrame, pk: str
) -> tuple[DataFrame, Observation]:
    """The incoming rows of every key whose stored rows differ — the
    rows an upsert must write — as one lazy plan, observed for ``rows``
    (incoming rows) and ``files`` (the URIs, percent-encoded, of the
    stored files that hold a row of a changed key: the files the upsert
    replaces).

    A key is unchanged only when its stored and incoming rows are equal
    as multisets, nulls comparing equal: re-upserting it would delete
    and re-add the same rows. One shuffle on the key gathers both sides'
    rows per key, each stored row tagged with the file it was read from,
    and each side sorted so the compare ignores row order. Rows holding
    maps cannot be sorted or compared, so then every incoming key counts
    as changed, which is the plain merge. A null key never matches a
    stored row (the merge's anti-join on the key does not match nulls),
    so its incoming rows are always new. ``operators.scd.snapshot_diff``
    compares one row per key, so it cannot decide multiset equality and
    is not used here.

    The observation sits above the per-key aggregate: an observation
    below a union the optimizer proves empty is dropped with it, and
    would never report."""
    obs = Observation("upsert_delta")
    orderable = _orderable(incoming.schema)
    side, file = "__upsert_incoming", "__upsert_file"
    both = stored.withColumns({file: F.input_file_name(), side: F.lit(False)}).unionByName(
        incoming.withColumns({file: F.lit(None).cast("string"), side: F.lit(True)})
    )
    key = F.col(_q(pk))
    row = F.struct(*[F.col(_q(c)) for c in incoming.columns])
    old = ~F.col(side) & key.isNotNull()
    new = F.collect_list(F.when(F.col(side), row))
    aggs = [
        (F.sort_array(new) if orderable else new).alias("__new"),
        F.collect_set(F.when(old, F.col(file))).alias("__files"),
    ]
    changed = F.size("__new") > 0
    if orderable:
        aggs.append(F.sort_array(F.collect_list(F.when(old, row))).alias("__old"))
        changed = changed & ~F.col("__new").eqNullSafe(F.col("__old"))
    per_key = both.groupBy(key.alias("__k")).agg(*aggs).observe(
        obs,
        F.coalesce(F.sum(F.size("__new")), F.lit(0)).alias("rows"),
        F.array_distinct(F.flatten(F.collect_list(F.when(changed, F.col("__files"))))).alias("files"),
    )
    delta = per_key.filter(changed).select(F.explode("__new").alias("__r")).select("__r.*")
    return delta, obs


class ParquetStore:
    """Directory-per-table parquet 'database' used by the pipeline and
    its tests. A table is flat or hive-partitioned, as its first write
    chose (``insert(partition_by=...)``); the daily pipeline writes its
    four tables flat.

    ``insert``, ``upsert`` and ``overwrite`` return what they landed (a
    ``Landed``): the per-stage figures a caller reports without another
    Spark job. Appends and upserts commit file by file (an upsert
    replaces only the files that hold a changed key, in every layout);
    ``overwrite``, ``compact``, ``cluster_rewrite`` and ``delete_rows``
    swap the whole table dir.

    One writer per table: different tables may be written from
    different threads at the same time, but a table being written must
    not be written or read from another thread meanwhile (a read
    recovers the table, and would undo a commit in flight)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        self._recover(table)
        return os.path.isdir(self.path(table))

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """``table`` typed as ``schema``, else as ``parquet_schema`` types
        it from its first data file's footer, whoever wrote it: no Spark
        job. Partition columns the schema lacks are typed from their dir
        names. With a schema, a file-less table (``delete_rows`` removed
        every row) reads, a missing one as empty; without one, either
        raises ``FileNotFoundError``."""
        self._recover(table)
        final = self.path(table)
        if os.path.isdir(final):
            if schema is None:
                schema = parquet_schema(final)
            return self.spark.read.schema(schema).parquet(final)
        if schema is None:
            raise FileNotFoundError(table)
        # limit(0) makes the emptiness plain to the optimizer, which then
        # prunes the joins and scans that read this table, jobs included
        return self.spark.createDataFrame([], schema).limit(0)

    def _read_stored(self, table: str, schema: T.StructType, part_cols: list[str]) -> DataFrame:
        """``table`` read for an upsert of rows typed ``schema``: as
        ``schema`` when its footer records exactly ``schema``'s data
        columns, so the partition columns ``part_cols`` take the incoming
        types, not those their dir names suggest; else as its footer
        types it. A missing or file-less table reads as empty."""
        try:
            stored = parquet_schema(self.path(table))
        except FileNotFoundError:
            return self.read(table, schema)

        def types(fields):
            return {f.name: f.dataType.simpleString() for f in fields if f.name not in part_cols}

        if set(part_cols) <= set(schema.names) and types(stored.fields) == types(schema.fields):
            return self.read(table, schema)
        return self.read(table, stored)

    @contextlib.contextmanager
    def _scratch(self, table: str, kind: str):
        """A fresh dot-prefixed dir in the store root for staging a
        mutation of ``table``; removed on exit, whatever happened (a
        committed dir has already moved into the table by then). Made
        with the process umask (``mkdtemp`` makes 0700 dirs): a
        whole-table commit turns this dir into the table dir, which
        other readers must be able to list."""
        path = os.path.join(self.root, f".{table}_{kind}_{uuid.uuid4().hex[:12]}")
        os.mkdir(path)
        try:
            yield path
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def _write(
        self, df: DataFrame, dst: str, partition_by: list[str] | None = None
    ) -> Landed:
        """The one write of every mutation: ``df`` runs once into the
        scratch dir ``dst`` (hive layout when ``partition_by``). Returns
        its rows, observed on the write itself (no re-read of the
        written files), and the data files and bytes written."""
        # the scratch dir's name is unique, so concurrent writers'
        # observations never share a name
        observed, obs = _rows_observed(df, os.path.basename(dst))
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(dst)
        n = obs.get["rows"]
        return Landed(n, n, *_data_files(dst))

    # ---- the commit protocol --------------------------------------
    # Every mutation of a table is ONE ``_commit``: a list of entries,
    # each "put src at dst" or "remove dst". ``_commit`` writes a
    # JOURNAL into the store root listing the entries (with the backup
    # name of every dst that exists), renames each existing dst aside to
    # its ``.__bak_`` name, renames each src in, marks the journal
    # committed, drops the backups and removes the journal. Until the
    # committed mark every pre-state copy is still on disk, so
    # ``_rollback`` can undo the commit exactly. An EXCEPTION is undone
    # in-process; a PROCESS KILL leaves the journal behind, and
    # ``_recover`` — invoked from every public read/write entry point —
    # undoes an uncommitted journal or finishes a committed one (drops
    # its backups). Readers skip dot-prefixed names, so a backup is
    # never read as data, and the table directory stays the only record
    # of what the table holds: a plain directory read (pyarrow, Spark)
    # sees the pre-state or the post-state.
    # Cost: one root listdir per public entry call. Journals, backups
    # and scratch dirs carry the table's name, so writers of different
    # tables never touch each other's files; two writers of ONE table
    # are not safe.

    @staticmethod
    def _check_meta_name(name: str) -> None:
        """Meta files must be underscore-prefixed (parquet readers skip
        '_'/'.'-prefixed names — anything else becomes an unreadable
        'footer' that breaks every later scan) and must not escape the
        table directory. Enforced for write_meta AND
        overwrite(meta_files=...) — both land files next to data."""
        if not name.startswith("_") or "/" in name or os.sep in name:
            raise ValueError(
                f"meta file name must start with '_' (so parquet readers "
                f"ignore it) and contain no path separators, got {name!r}"
            )

    def vacuum(self) -> list[str]:
        """Reclaim orphaned dot-prefixed staging/backup dirs (and stray
        half-written journal .tmp files) left in the store ROOT by
        process kills: partial stage writes happen BEFORE any journal
        exists, so crash recovery cannot know about them, and they
        accumulate across crashed runs. Like Delta/Iceberg VACUUM this
        is an EXPLICIT maintenance call with the same precondition: run
        it only when no writer is active on the store — a live
        mutation's stage dir is indistinguishable from an orphan.
        Journals and every root-level name their entries mention are
        preserved (those belong to ``_recover``). Returns the removed
        names."""
        if not os.path.isdir(self.root):
            return []
        live: set[str] = set()
        shielded: list[str] = []
        for _name, owner, payload in self._journals():
            if payload is None:
                # an unreadable journal still owns its table's repair,
                # and which dirs it names is unknown — a backup may
                # hold the only copy of the table: shield every root
                # name of the owner (over-shielding only defers cleanup)
                shielded += [f".{owner}_", f".{owner}."]
            else:
                live.update(p.split(os.sep, 1)[0] for e in payload["entries"] for p in e if p)
        removed: list[str] = []
        for name in sorted(os.listdir(self.root)):
            if (
                not name.startswith(".")
                or name in live
                or name.startswith(tuple(shielded))
                or name.startswith(".__journal_") and name.endswith(".json")
            ):
                continue
            p = os.path.join(self.root, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(name)
            elif name.endswith(".json.tmp"):
                with contextlib.suppress(OSError):
                    os.remove(p)
                    removed.append(name)
        return removed

    def _journal_path(self, table: str, token: str) -> str:
        return os.path.join(self.root, f".__journal_{table}_{token}.json")

    def _journal_write(self, jp: str, payload: dict) -> None:
        tmp = jp + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, jp)
        # fsync the containing directory so the journal's rename is on
        # stable storage BEFORE any data rename that depends on it; the
        # stated fault model is process kills (fully covered), and this
        # closes the journal's own half of the power-loss window — full
        # power-loss atomicity of the data renames themselves would
        # additionally need a directory fsync after every os.replace,
        # which plain local parquet does not attempt (that is what a
        # Delta/Iceberg commit log buys).
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _journals(self):
        """(name, owner, payload) of each journal in the store root.
        ``payload`` is None when the file is unreadable or not in the
        commit shape. The owner is the payload's table; failing that it
        comes from the file name ``.__journal_{table}_{token}``, whose
        token starts ``.{table}_``, so it is what precedes the first
        ``_.`` (a foreign name without one yields the whole remainder)."""
        for name in sorted(os.listdir(self.root)):
            if not (name.startswith(".__journal_") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.root, name)) as fh:
                    payload = json.load(fh)
            except FileNotFoundError:
                continue  # another table's commit finished after the listing
            except (OSError, ValueError):
                payload = None
            owner = payload.get("table") if isinstance(payload, dict) else None
            if not isinstance(owner, str):
                owner = name[len(".__journal_"):-len(".json")].split("_.", 1)[0]
            yield name, owner, payload if _is_commit_journal(payload) else None

    def _recover(self, table: str) -> None:
        """Finish or undo every journal ``table`` owns. Ownership is
        decided by the payload (table names may contain underscores, so
        a file-name prefix also matches a sibling ``t_x``): another
        table's journal is left to that table's next access."""
        if not os.path.isdir(self.root):
            return
        for name, owner, payload in self._journals():
            if owner != table:
                continue
            if payload is None:
                # journals are written atomically (tmp+fsync+replace),
                # so this is corruption or version skew, not a
                # half-write — and the file is the ONLY record of
                # whatever half-applied state is on disk: keep it
                raise RuntimeError(
                    f"ParquetStore: journal {name} for table {table!r} "
                    f"is unreadable or not in the commit-journal shape; "
                    f"manual recovery required (file preserved — it is "
                    f"the only record of the crashed mutation)"
                )
            self._rollback(payload)
            os.remove(os.path.join(self.root, name))

    def _commit(self, table: str, entries: list[tuple[str, str | None]]) -> None:
        """Apply ``entries`` — (dst, src) paths: put ``src`` at ``dst``,
        or remove ``dst`` when ``src`` is None — as one all-or-nothing
        commit (the protocol above). Returns with every entry applied or
        raises with none applied; after a kill at any step the next
        access recovers the one or the other. A dst that exists is
        renamed aside, never deleted, until the committed mark: no step
        holds the only copy of the data mid-delete."""
        token = f".{table}_{uuid.uuid4().hex[:12]}"
        journal = []
        for dst, src in entries:
            d = os.path.relpath(dst, self.root)
            bak = None
            if os.path.lexists(dst):
                bak = os.path.join(os.path.dirname(d), f".{os.path.basename(d)}.__bak_{token}")
            journal.append([d, src and os.path.relpath(src, self.root), bak])
        payload = {"table": table, "entries": journal, "committed": False}
        jp = self._journal_path(table, token)
        self._journal_write(jp, payload)
        at = functools.partial(os.path.join, self.root)
        try:
            _crash_point("commit:journaled")
            for d, _src, bak in journal:
                if bak:
                    os.replace(at(d), at(bak))
                    _crash_point("commit:backed_up")
            for d, src, _bak in journal:
                if src:
                    os.replace(at(src), at(d))
                    _crash_point("commit:moved")
            payload["committed"] = True
            self._journal_write(jp, payload)
            _crash_point("commit:committed")
        except Exception as exc:
            if _CRASH_HOOK is not None and getattr(exc, "simulate_kill", False):
                # Test seam (streaming kill sweep): a BaseException-based
                # simulated kill deadlocks py4j's foreachBatch callback
                # thread, so the streaming tests raise a plain Exception
                # MARKED simulate_kill — skip the in-process rollback
                # exactly as a real kill would, leaving the journal for
                # _recover. Gated on the hook being installed so a
                # production exception that happens to carry the
                # attribute can never suppress rollback.
                raise
            if payload["committed"]:
                # the caller gets an error, so it must find the
                # pre-state; the backups still exist — un-mark first,
                # so a kill during the undo still rolls back
                payload["committed"] = False
                self._journal_write(jp, payload)
            self._rollback(payload)
            os.remove(jp)
            raise
        self._rollback(payload)
        os.remove(jp)

    def _rollback(self, payload: dict) -> None:
        """Undo an uncommitted journal's entries, last first: a dst with
        a backup gets it back (whatever moved in is removed first); a
        src moved onto a dst that did not exist is removed; a dst not
        yet renamed aside is still the pre-state. For a committed
        journal only the backups are dropped. Idempotent, so a kill
        mid-rollback is repaired by the next access."""
        for dst, src, bak in reversed(payload["entries"]):
            d = os.path.join(self.root, dst)
            b = bak and os.path.join(self.root, bak)
            if payload["committed"]:
                if b:
                    _remove(b)
            elif b and os.path.lexists(b):
                _remove(d)
                os.replace(b, d)
            elif src and not b:
                _remove(d)

    def insert(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        meta_files: dict[str, str] | None = None,
        before_commit: Callable[[], object] | None = None,
    ) -> Landed:
        """Append-only INSERT (reference insert mode, etl/load.py:285).

        One plan execution: stage in the table's layout (row count
        observed on the write) → append into the table directory.
        ``before_commit`` runs between the two: if it raises, nothing
        lands (the daily pipeline joins the work that must succeed
        before these rows may land there, so the stage write overlaps
        it).

        ``meta_files`` commit ATOMICALLY with the appended rows (entries
        of the same commit, rolled back together on a kill) — the streaming ingest's ``_LAST_INGEST_EPOCH`` replay
        marker uses this so there is NO window where rows are committed
        but the marker is not (the round-8 code documented that window
        as the at-least-once residual; round 9 closed it). On an empty
        batch nothing is appended and the meta files are NOT written —
        replaying an empty epoch is a no-op either way.

        ``partition_by`` writes hive-style partition directories
        (``col=value/``) — the layout that makes incremental reads prune
        at the file listing, before any row is decoded: a date-filtered
        scan of a date-partitioned 100 TB table touches only the
        matching directories (``PartitionFilters`` in the scan, pinned
        by tests/test_formats.py). Partition columns should be
        low-cardinality (date, source, status) — per-key partitioning
        produces a small-file explosion.

        Layout guard: inserting flat into a partitioned table (or vice
        versa, or with different partition columns) raises instead of
        silently producing a mixed layout that breaks pruning and
        readback. Note the hive round-trip dtype caveat: partition
        values live in directory NAMES, and Spark re-infers their type
        on read (a string ``dt`` column written as ``dt=2024-01-01/``
        comes back as ``date`` under the default
        ``spark.sql.sources.partitionColumnTypeInference``) — choose
        partition columns whose inferred type is the stored type, or
        disable inference session-wide."""
        self._recover(table)
        self._check_layout(table, partition_by)
        with self._scratch(table, "stage") as stage:
            landed = self._write(df, stage, partition_by)
            if before_commit is not None:
                before_commit()
            if not landed.rows:
                return Landed(0)
            self._append(stage, table, meta_files)
        return landed

    def _append(
        self,
        src_root: str,
        table: str,
        meta_files: dict[str, str] | None = None,
        replaced: list[str] | None = None,
    ) -> None:
        """Commit the parquet files under ``src_root`` (written in the
        table's layout) into the table, with ``meta_files`` (rows and
        meta commit together, so a replay marker never advances without
        its rows), removing the table's files ``replaced`` (paths
        relative to the table) in the same commit. A missing table is
        the whole ``src_root`` moved in; otherwise each file is an entry
        (writer-UUID-unique names), a partition dir the table lacks
        moves in whole, each meta file is an entry that replaces the
        stored one, and each replaced file is a removal entry together
        with its ``.crc`` sidecar — or, when the commit leaves a dir with
        no file, that dir is removed, at its shallowest emptied ancestor,
        so no empty partition dir is left for partition discovery and
        ``_detect_partition_cols`` to read. A direct ``mode("append")``
        into the live table would leave a PARTIAL append visible if the
        process died mid-write."""
        for name in meta_files or {}:
            self._check_meta_name(name)
        for name, contents in (meta_files or {}).items():
            with open(os.path.join(src_root, name), "w") as fh:
                fh.write(contents)
        final = self.path(table)
        if not os.path.isdir(final):
            self._commit(table, [(final, src_root)])
            return
        added = list(_parquet_files(src_root))
        gone = set()
        for rel in replaced or []:
            crc = os.path.join(os.path.dirname(rel), f".{os.path.basename(rel)}.crc")
            gone.update(r for r in (rel, crc) if os.path.lexists(os.path.join(final, r)))

        def dirs(rel: str):
            # the dirs ``rel`` lies in, below the table dir, shallowest first
            parts = rel.split(os.sep)
            return (os.path.join(*parts[:i]) for i in range(1, len(parts)))

        @functools.cache
        def emptied(d: str) -> bool:
            # no file stays in the table dir ``d`` and none lands in it
            if any(a.startswith(d + os.sep) for a in added):
                return False
            return all(
                os.path.relpath(os.path.join(base, n), final) in gone
                for base, _dirs, files in os.walk(os.path.join(final, d))
                for n in files
            )

        def head(rel: str) -> str:
            # the shallowest part of an added ``rel`` the table lacks
            return next((d for d in dirs(rel) if not os.path.isdir(os.path.join(final, d))), rel)

        removed = list(dict.fromkeys(next((d for d in dirs(r) if emptied(d)), r) for r in sorted(gone)))
        moved = list(dict.fromkeys(head(r) for r in added)) + list(meta_files or {})
        self._commit(
            table,
            [(os.path.join(final, r), None) for r in removed]
            + [(os.path.join(final, r), os.path.join(src_root, r)) for r in moved],
        )

    def overwrite(
        self, df: DataFrame, table: str, meta_files: dict[str, str] | None = None
    ) -> Landed:
        """Replace the table with ``df`` atomically: a one-entry commit
        of the staged dir over the table dir. The primitive under rollup
        maintenance: the replacement is computed BEFORE the old table is
        touched, and the commit never holds the only copy mid-delete.

        ``meta_files`` (name → contents) land inside the staged dir
        before the commit, so table data and metadata (e.g. the rollup's
        last-applied epoch marker) commit in the SAME rename —
        underscore-prefixed names are ignored by parquet readers."""
        self._recover(table)
        for name in meta_files or {}:
            self._check_meta_name(name)
        with self._scratch(table, "stage") as stage:
            landed = self._write(df, stage)
            for name, contents in (meta_files or {}).items():
                with open(os.path.join(stage, name), "w") as fh:
                    fh.write(contents)
            self._commit(table, [(self.path(table), stage)])
        return landed

    def read_meta(self, table: str, name: str) -> str | None:
        """Read a metadata file written via overwrite(meta_files=...) or
        write_meta; None when absent."""
        self._recover(table)
        p = os.path.join(self.path(table), name)
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return fh.read()

    def write_meta(self, table: str, name: str, contents: str) -> None:
        """Atomically write/replace one metadata file on an EXISTING
        table (a one-entry commit — readers never see a partial write).
        Not transactional with any data write: when metadata must commit
        with the data, use overwrite(meta_files=...) or
        insert(meta_files=...)."""
        self._recover(table)
        final = self.path(table)
        if not os.path.isdir(final):
            raise FileNotFoundError(table)
        self._check_meta_name(name)
        with self._scratch(table, "meta") as tmp:
            with open(os.path.join(tmp, name), "w") as fh:
                fh.write(contents)
            self._commit(table, [(os.path.join(final, name), os.path.join(tmp, name))])

    def _copy_meta_files(self, table: str, dst: str) -> None:
        """Carry user meta files (underscore-prefixed top-level files,
        e.g. the rollup's ``_LAST_EPOCH`` replay guard) from the live
        table into a rewrite staging dir, so maintenance rewrites
        (compact / cluster / delete) PRESERVE them — dropping
        the epoch marker would silently re-enable a replay double-merge.
        ``_SUCCESS`` is Spark's own marker; the staged dir has its own."""
        src = self.path(table)
        if not os.path.isdir(src):
            return
        for name in os.listdir(src):
            sp = os.path.join(src, name)
            if (
                name.startswith("_")
                and name != "_SUCCESS"
                and os.path.isfile(sp)
            ):
                shutil.copyfile(sp, os.path.join(dst, name))

    def _rewrite_and_swap(
        self, out: DataFrame, table: str, part_cols: list[str] | None, prefix: str
    ) -> Landed:
        """Shared whole-table rewrite (compact, cluster_rewrite,
        delete_rows): write ``out`` into a scratch dir
        (hive layout when ``part_cols``), carry the table's meta files
        over, then commit the dir over the table. Returns what was
        written."""
        with self._scratch(table, prefix) as tmp:
            landed = self._write(out, tmp, part_cols)
            self._copy_meta_files(table, tmp)
            self._commit(table, [(self.path(table), tmp)])
        return landed

    def compact(
        self, table: str, target_files: int, partition_by: list[str] | None = None
    ) -> int:
        """Small-file compaction: rewrite the table into ``target_files``
        parquet files (flat tables) and atomically swap. For partitioned
        tables each hive partition compacts to ONE file — the standard
        compaction goal; ``target_files`` only bounds the rewrite's task
        count, it cannot split a hot partition (splitting needs a
        within-partition bucket key — use cluster_rewrite with
        files_per_partition for that). Daily incremental inserts (especially
        partitioned ones) accrete small files until listing and per-file
        open dominate scan cost — the classic 100 TB table maintenance
        chore (Delta OPTIMIZE / Iceberg rewrite_data_files; this is the
        plain-parquet equivalent). ``repartition`` (not ``coalesce``) so
        the rewrite redistributes evenly instead of concatenating
        partitions on too few tasks.

        ``partition_by`` defaults to the table's detected hive layout
        (col=value first-level dirs), so compacting a partitioned table
        PRESERVES its pruning layout instead of flattening it; rows are
        repartitioned on the partition columns so each partition dir
        compacts to few files. Returns the parquet file count after
        compaction (the files the rewrite wrote)."""
        self._recover(table)
        if partition_by is None:
            partition_by = self._detect_partition_cols(table)
        current = self.read(table)
        if partition_by:
            out = current.repartition(target_files, *partition_by)
        else:
            out = current.repartition(target_files)
        return self._rewrite_and_swap(out, table, partition_by, "compact").files

    def cluster_rewrite(
        self, table: str, by: list[str], files_per_partition: int | None = None
    ) -> int:
        """Cluster the table's rows on ``by`` columns and atomically swap
        — the plain-parquet analogue of Delta ZORDER / Iceberg
        rewrite_sorted: ``repartitionByRange`` puts disjoint key ranges
        in disjoint files, ``sortWithinPartitions`` orders rows inside
        each file, so every parquet row group carries a TIGHT min/max
        for the cluster columns and a selective filter prunes whole
        files AND row groups before decoding anything.

        This is the complement to hive partitioning: partition on the
        low-cardinality operational key (date), cluster within on the
        high-cardinality filter key (user/order id) — at 100 TB a point
        lookup then touches one partition dir × a handful of row groups.
        Statistics-based pruning needs no directory explosion, which is
        why it's the right tool for high-cardinality keys where
        partitioning would produce millions of tiny files.

        ``files_per_partition`` bounds output file count per hive
        partition (default: Spark's shuffle partitioning). Returns the
        number of parquet files after the rewrite. Pruning effect pinned
        by ``tests/test_formats.py::test_cluster_rewrite_tightens_row_groups``.
        """
        self._recover(table)
        part_cols = self._detect_partition_cols(table)
        current = self.read(table)
        range_cols = part_cols + by
        if files_per_partition is not None:
            clustered = current.repartitionByRange(files_per_partition, *range_cols)
        else:
            clustered = current.repartitionByRange(*range_cols)
        clustered = clustered.sortWithinPartitions(*(part_cols + by))
        return self._rewrite_and_swap(clustered, table, part_cols, "cluster").files

    def _check_layout(self, table: str, partition_by: list[str] | None) -> None:
        """Raise when a write's partition layout disagrees with the
        table's existing hive layout — a mismatch silently flattens (or
        fragments) the directory structure and corrupts partition
        pruning for every later reader."""
        if not os.path.isdir(self.path(table)):
            return
        existing = self._detect_partition_cols(table)
        # ORDER-SENSITIVE compare: detection reports nesting order, and
        # a permuted partition_by (["l2","l1"] into an l1/l2 layout)
        # would append dirs nested the other way round — a mixed layout
        # Spark's partition discovery rejects at read time.
        requested = list(partition_by or [])
        if existing != requested:
            if not existing and next(_parquet_files(self.path(table)), None) is None:
                # a validly-EMPTY table (delete_rows removed every row:
                # no parquet files, no col=value dirs) has no layout to
                # corrupt — accept any requested layout instead of
                # bricking the partitioned ingest until a manual rewrite
                return
            raise ValueError(
                f"ParquetStore layout mismatch for table {table!r}: "
                f"existing partition columns {existing} != requested "
                f"{requested}; rewrite the table (overwrite/compact) to "
                f"change its layout"
            )

    def _detect_partition_cols(self, table: str) -> list[str]:
        """Infer hive partition columns from col=value directory levels,
        RECURSING through nested layouts so a table written with
        ``insert(partition_by=["l1", "l2"])`` reports ``["l1", "l2"]``
        in NESTING order (the order ``partitionBy`` must replay to
        preserve the layout on a rewrite). Every write replays it: an
        upsert's staged and re-staged files, the layout guard of
        ``insert`` and the whole-table rewrites, so a nested table
        mis-detected as single-level would get data files where its
        inner level's dirs are — a mixed layout no reader accepts. The
        one directory read per deeper level is why no write may leave
        an empty ``col=value`` dir behind (``_append`` removes a dir its
        commit empties). A level that mixes more than one column name (a
        layout no Spark write produces, nor reads) is reported with
        every name appended."""
        final = self.path(table)
        if not os.path.isdir(final):
            return []
        cols: list[str] = []
        base = final
        full_breadth = True  # level 1: full scan (the mixed-name guard)
        while True:
            names: set[str] = set()
            rep: str | None = None
            for d in os.listdir(base):
                p = os.path.join(base, d)
                if "=" in d and os.path.isdir(p):
                    names.add(d.split("=", 1)[0])
                    rep = p
                    if not full_breadth:
                        break  # deeper levels: one representative dir
            if not names:
                break
            if len(names) > 1:
                return cols + sorted(names)
            cols.append(names.pop())
            # Spark writes homogeneous layouts, so ONE representative
            # subdirectory per deeper level suffices — O(depth) listdir
            # calls total, not O(total partition dirs) per upsert.
            base = rep  # type: ignore[assignment]
            full_breadth = False
        return cols

    def upsert(self, df: DataFrame, table: str, pk: str) -> Landed:
        """Insert-or-update on PK (reference upsert, etl/load.py:283).
        Returns the ``Landed``: ``rows`` is the incoming row count,
        ``delta_rows`` the changed rows written, ``files``/``bytes``
        what the commit added to the table.

        Change first: ONE write job reads the stored table (typed, see
        ``_read_stored``) beside the incoming plan, keeps the incoming
        rows of every key whose stored rows differ (``_changed_rows``)
        and stages only those, in the table's layout; the incoming plan
        runs exactly once, and the incoming row count and the stored
        files that hold a changed key are observed on that write.
        Re-upserting an unchanged key would delete and re-add the same
        rows, so leaving it alone gives the same table. Then:

        - **No changed or new key**: nothing else runs — no commit, and
          no file of the table is touched (a master sheet re-upserted
          unchanged).
        - **No stored file holds a changed key** (only new keys): the
          staged files are appended (``_append``).
        - **Otherwise**: one write re-stages the staged rows plus the
          rows of those files whose key is not staged, in the table's
          layout, and one commit replaces those files by the re-staged
          ones (``_append`` with ``replaced``). Every other file keeps
          its bytes and mtime, in every layout: flat, single-level or
          nested hive. The work follows the files a change touches, not
          the table.

        A failed write never corrupts the table on any path: every path
        ends in one ``_commit``, which never holds the only copy
        mid-delete.
        """
        self._recover(table)
        final = self.path(table)
        part_cols = self._detect_partition_cols(table)
        stored = self._read_stored(table, df.schema, part_cols)
        delta, obs = _changed_rows(df, stored, pk)
        with self._scratch(table, "stage") as stage, self._scratch(table, "merge") as merged:
            staged = self._write(delta, stage, part_cols)
            d = obs.get
            if not staged.rows:
                return Landed(d["rows"])
            # input_file_name() gives percent-encoded URIs
            top = os.path.abspath(final)
            replaced = [os.path.relpath(unquote(urlparse(u).path), top) for u in sorted(d["files"])]
            written, src = staged, stage
            if replaced:
                staged_rows = self._read_files(stage, delta.schema, _parquet_files(stage))
                kept = self._read_files(final, stored.schema, replaced)
                kept = kept.join(staged_rows.select(pk), pk, "left_anti")
                written, src = self._write(kept.unionByName(staged_rows), merged, part_cols), merged
            self._append(src, table, replaced=replaced)
        return Landed(d["rows"], staged.rows, written.files, written.bytes)

    def _read_files(self, root: str, schema: T.StructType, rels: Iterable[str]) -> DataFrame:
        """The parquet files ``rels`` (relative to ``root``) read typed
        ``schema``, partition values from the dirs below ``root``. By
        file, with ``basePath``: for a root path whose own name starts
        with a dot Spark warns "All paths were ignored" (and reads it)."""
        reader = self.spark.read.schema(schema).option("basePath", root)
        return reader.parquet(*[os.path.join(root, r) for r in rels])

    def delete_rows(self, table: str, key: str, keys: DataFrame) -> int:
        """Targeted deletion — the right-to-be-forgotten / takedown
        primitive: remove every row whose ``key`` appears in ``keys``
        (a one-column DataFrame), atomically, preserving any hive
        partition layout. Returns the number of rows removed.

        Plain-parquet emulation of ``DELETE FROM t WHERE key IN (...)``:
        the delete-key set is request-sized (a takedown list, not a
        table), so it is collected to the driver (no job when it is a
        local list: ``VALUES``, a pandas frame) and the table is
        rewritten once without those keys, in one whole-table commit
        (no step holds the only copy mid-delete). The rewrite cost is
        O(table), which is what plain parquet costs — on Delta/Iceberg
        this becomes a MERGE/DELETE with file-level pruning, and the
        surrounding accounting is unchanged. The count removed is the
        table's parquet footer row counts, read on the driver, minus the
        rows the rewrite observed: no re-read, one Spark job for a local
        key list. The caller should audit the count, not the keys (the
        point is to STOP storing them)."""
        self._recover(table)
        n_before = sum(f.num_rows for f in _footers(self.path(table)))
        if not n_before:
            return 0
        # a null key matches no row, as in the anti-join this emulates
        drop = [r[0] for r in keys.collect() if r[0] is not None]
        if not drop:
            return 0
        col = F.col(_q(key))
        kept = self.read(table).filter(col.isNull() | ~col.isin(drop))
        part_cols = self._detect_partition_cols(table)
        return n_before - self._rewrite_and_swap(kept, table, part_cols, "delete").rows


# audit dir → [calls in flight, whether the dir was absent when the
# first of them started]
_AUDITS_IN_FLIGHT: dict[str, list] = {}
_AUDITS_LOCK = threading.Lock()


def audit_csv(df: DataFrame, out_dir: str, reason: str) -> Landed:
    """S8: back up rejected rows to a timestamped CSV (reference
    etl/load.py:114-122,141-151,183-190; artifacts retained by CI —
    daily-etl.yml:48-55).

    Distributed write — every reject row lands, however many there are
    (the reference, and an earlier version here, materialized rows on
    one node). Output is a directory of header-carrying CSV parts, the
    standard distributed-artifact layout. One write runs the rejects
    plan once and observes its row count; an empty output is removed
    afterwards. Returns the ``Landed`` rows, part files and bytes, with
    ``path`` the output directory, or None when there was nothing to
    audit.

    Audits of different reasons may run at the same time from several
    threads, into one dir: a dir that no audit in flight found existing
    is removed when the last of them finishes, and only if it is empty.
    """
    key = os.path.abspath(out_dir)
    with _AUDITS_LOCK:
        if key not in _AUDITS_IN_FLIGHT:
            _AUDITS_IN_FLIGHT[key] = [0, not os.path.isdir(out_dir)]
        _AUDITS_IN_FLIGHT[key][0] += 1
    try:
        # microseconds in the stamp: two same-reason audits within one
        # second must not overwrite each other's rejected rows
        stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
        path = os.path.join(out_dir, f"{reason}_{stamp}.csv")
        observed, obs = _rows_observed(df, f"audit_{reason}")
        observed.write.option("header", True).mode("overwrite").csv(path)
        n = obs.get["rows"]
        if not n:
            shutil.rmtree(path, ignore_errors=True)
            return Landed(0)
        parts = [name for name in os.listdir(path) if name.startswith("part-")]
        return Landed(n, n, len(parts), sum(os.path.getsize(os.path.join(path, p)) for p in parts), path)
    finally:
        with _AUDITS_LOCK:
            entry = _AUDITS_IN_FLIGHT[key]
            entry[0] -= 1
            if not entry[0]:
                del _AUDITS_IN_FLIGHT[key]
                if entry[1]:
                    with contextlib.suppress(OSError):
                        os.rmdir(out_dir)  # fails, as it should, unless empty


def _jdbc_options(
    url: str, table: str, batchsize: int = 10000, **options: str
) -> dict[str, str]:
    """Option dict for a JDBC write (pure function, unit-testable).
    ``batchsize`` is the rows-per-roundtrip knob — the distributed
    successor to the reference's 100-row HTTP batches."""
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    opts.update({k: str(v) for k, v in options.items()})
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10000,
    **options: str,
) -> None:
    """JDBC sink (reference target: Postgres via PostgREST,
    etl/load.py:283-285). Every partition opens its own connection and
    batches inserts, so throughput scales with executors.

    INSERT == ``mode="append"`` straight to the target table. UPSERT ==
    append to a staging table, then run ``jdbc_upsert_sql`` on the
    database (JDBC has no MERGE pushdown). Requires a JDBC driver jar
    on the classpath; callers in this image mock the terminal ``save``.
    """
    (
        df.write.format("jdbc")
        .mode(mode)
        .options(**_jdbc_options(url, table, batchsize, **options))
        .save()
    )


def _qi(ident: str) -> str:
    """Quote a SQL identifier (double quotes, embedded quotes doubled):
    a column named after a reserved word (``order``, ``user``) or with
    mixed case/special characters must not produce an invalid or
    wrong-target statement, and identifiers sourced from external
    schemas must not be an injection vector."""
    return '"' + ident.replace('"', '""') + '"'


def _qtable(name: str) -> str:
    """Quote a possibly schema-qualified relation name: each
    dot-separated component is quoted separately, so ``public.users``
    becomes ``"public"."users"`` (one quoted identifier with a literal
    dot would target the wrong relation). Columns keep using ``_qi``
    directly — a column name containing a dot is a single identifier,
    not a qualification. Note quoting disables case-folding: pass the
    relation's exact stored case (Postgres folds unquoted names to
    lowercase, so a table created unquoted is stored lowercase)."""
    return ".".join(_qi(p) for p in name.split("."))


def jdbc_upsert_sql(table: str, staging: str, pk: str, cols: list[str]) -> str:
    """The statement a coordinator runs after staging an upsert batch:
    Postgres INSERT .. ON CONFLICT DO UPDATE (the reference's
    insert-or-update contract, etl/load.py:283). All identifiers are
    quoted — DataFrame column names are arbitrary strings; table and
    staging names may be schema-qualified (``public.users``) and are
    quoted per component."""
    col_list = ", ".join(_qi(c) for c in cols)
    updates = ", ".join(f"{_qi(c)} = EXCLUDED.{_qi(c)}" for c in cols if c != pk)
    # pure key-presence table (no non-pk columns): an empty DO UPDATE
    # SET clause is a syntax error — the degenerate form is DO NOTHING
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return (
        f"INSERT INTO {_qtable(table)} ({col_list}) "
        f"SELECT {col_list} FROM {_qtable(staging)} "
        f"ON CONFLICT ({_qi(pk)}) {action}"
    )


def write_sharded_corpus(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    hash_col: str = "shard_hash",
) -> None:
    """Production write path behind ``b_shard_manifest``'s semantics:
    export a corpus as ``n_shards`` contiguous hash-range shards that a
    training loader can address deterministically.

    The gate query (plans/llmdata_ext.py, b_shard_manifest) pins the
    ASSIGNMENT SEMANTICS with an exact global-window ntile — fine as a
    correctness oracle, unusable as a write path (a single-partition
    global sort). This is the distributed equivalent:
    ``repartitionByRange(n_shards, hash, key)`` lets Spark's sampled
    range partitioner pick the boundaries (reservoir sample of the keys,
    no global sort stage), then each partition writes one file. Shards
    are still CONTIGUOUS and non-overlapping in hash space — the same
    layout contract — but boundary placement is sample-balanced rather
    than exact-ntile, which is what you want at 100 TB: no stage ever
    holds the global order.

    The content-independent md5(key) hash rides along in the output as
    ``hash_col`` so a reader can verify shard membership without
    recomputing it.
    """
    sharded_frame(df, n_shards, key_col, hash_col).write.mode("overwrite").parquet(out_dir)


def sharded_frame(
    df: DataFrame, n_shards: int, key_col: str, hash_col: str = "shard_hash"
) -> DataFrame:
    """The pre-write frame of ``write_sharded_corpus`` — exposed so the
    layout test can pin its plan shape (rangepartitioning, NO global
    window stage)."""
    # withColumn, not select("*", ...): an input that already carries a
    # column named hash_col (re-sharding a previous export) must have it
    # REPLACED — a duplicate name makes the repartition reference
    # ambiguous and the output unreadable
    hk = F.md5(F.col(key_col).cast("string"))
    return df.withColumn(hash_col, hk).repartitionByRange(
        n_shards, F.col(hash_col), F.col(key_col)
    )


def sharded_corpus_manifest(spark: SparkSession, out_dir: str, hash_col: str = "shard_hash") -> DataFrame:
    """Manifest over a ``write_sharded_corpus`` output: one row per
    shard file with its row count and hash-range boundaries — what a
    loader consumes to address shards. Metadata-scale output (one row
    per file); computed distributed via ``input_file_name``."""
    return (
        spark.read.schema(parquet_schema(out_dir)).parquet(out_dir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(hash_col).alias("min_hash"),
            F.max(hash_col).alias("max_hash"),
        )
        .orderBy("min_hash")
    )
