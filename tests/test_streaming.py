"""Structured Streaming runtime tests: bounded stream → windowed agg
equals the batch plan; stateful session windows in streaming mode."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_data_peri_institute_spark.sources.tables import load_table
from etl_data_peri_institute_spark.streaming.windows import (
    run_to_completion,
    stream_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_matches_batch_tumbling(spark):
    streamed = tumbling_counts(spark, SF).collect()
    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events", "total_value")
        .collect()
    )
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_streaming_session_window(spark):
    """Stateful session-window aggregation on a real stream."""
    ev = stream_events(spark, SF).filter(F.col("user_id") < 5)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("session_window.start").alias("s"), "n")
    )
    out = run_to_completion(agg).collect()
    assert out  # sessions exist
    # equivalent batch sessionization
    batch = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 5)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("session_window.start").alias("s"), "n")
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))


def test_streaming_incremental_availability(spark):
    """The stream source delivers all rows of the bounded input."""
    ev = stream_events(spark, SF)
    total = run_to_completion(ev.groupBy().agg(F.count("*").alias("n"))).first()["n"]
    assert total == load_table(spark, SF, "events").count()


def test_stateful_running_totals(spark):
    """applyInPandasWithState: final per-user state equals the batch agg."""
    from etl_data_peri_institute_spark.streaming.stateful import running_user_totals

    ev = stream_events(spark, SF).filter(F.col("user_id") < 10)
    out = run_to_completion(running_user_totals(ev), output_mode="update")
    # update mode emits one row per key per micro-batch; the last row per
    # user is the final state
    finals = {}
    for r in out.collect():
        finals[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    )
    expected = {r["user_id"]: (r["n"], r["t"]) for r in batch}
    assert set(finals) == set(expected)
    for uid, (n, t) in expected.items():
        assert finals[uid][0] == n
        assert abs(finals[uid][1] - t) < 0.05


def test_incremental_ingest_exactly_once(spark, tmp_path):
    """Checkpointed AvailableNow ingestion: first run drains the input,

    re-run is a no-op, newly landed files are picked up once."""

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import incremental_ingest

    src = tmp_path / "landing"
    src.mkdir()
    ev = load_table(spark, SF, "events").limit(500)
    ev.coalesce(1).write.parquet(str(src / "batch1"))

    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = spark.read.parquet(str(src / "batch1")).schema
    ckpt = str(tmp_path / "ckpt")

    n1 = incremental_ingest(
        spark, str(src / "*"), schema, store, "events_inc", ckpt
    )
    assert n1 == 500
    # re-run: nothing new → no-op
    n2 = incremental_ingest(
        spark, str(src / "*"), schema, store, "events_inc", ckpt
    )
    assert n2 == 0
    assert store.read("events_inc").count() == 500
    # new file lands → only it is processed
    ev2 = load_table(spark, SF, "events").filter(F.col("event_id") >= 9000)
    expected_new = ev2.count()
    ev2.coalesce(1).write.parquet(str(src / "batch2"))
    n3 = incremental_ingest(
        spark, str(src / "*"), schema, store, "events_inc", ckpt
    )
    assert n3 == expected_new
    assert store.read("events_inc").count() == 500 + expected_new


def test_incremental_rollup_maintenance(spark, tmp_path):
    """Rollup after N incremental batches == batch recompute over all
    data; a re-run with no new files is a no-op (checkpoint)."""
    import os

    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_rollup,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    schema = "k string, v double"
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema)
    b2 = spark.createDataFrame([("a", 3.0), ("c", 4.0)], schema)
    b1.write.parquet(str(src / "f1.parquet"))
    b2.write.parquet(str(src / "f2.parquet"))

    store = ParquetStore(spark, str(tmp_path / "db"))
    kw = dict(
        spark=spark,
        source_dir=str(src / "*"),
        schema=schema,
        store=store,
        table="rollup",
        checkpoint_dir=str(tmp_path / "ckpt"),
        group_cols=["k"],
        sum_cols={"total_v": "sum:v", "n": "count"},
        max_files_per_trigger=1,  # force one batch per file
    )
    incremental_rollup(**kw)
    got = {r["k"]: (r["total_v"], r["n"]) for r in store.read("rollup").collect()}
    assert got == {"a": (4.0, 2), "b": (2.0, 1), "c": (4.0, 1)}

    # idempotent re-run: checkpoint already drained both files
    incremental_rollup(**kw)
    again = {r["k"]: (r["total_v"], r["n"]) for r in store.read("rollup").collect()}
    assert again == got


def test_rocksdb_state_store_stateful_agg(spark):
    """The same watermarked streaming aggregation runs on the RocksDB
    state store provider — the production backend when state outgrows
    executor heap (100 TB-scale stateful streaming: dedup sets, session
    maps). Results must be identical to the default HDFS-backed
    provider; this pins that every stateful operator here is
    provider-agnostic."""
    from etl_data_peri_institute_spark.streaming.windows import (
        run_to_completion,
        stream_events,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prior = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        ev = stream_events(spark, SF).filter(F.col("user_id") < 10)
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        out = {
            r["user_id"]: r["n"]
            for r in run_to_completion(agg, output_mode="complete").collect()
        }
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    batch = load_table(spark, SF, "events").filter(F.col("user_id") < 10)
    expected = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert out == expected and len(out) > 0


def test_drop_duplicates_within_watermark_bounds_state(spark):
    """dropDuplicatesWithinWatermark: the state-BOUNDED streaming dedup.
    Plain dropDuplicates keeps every key seen in state forever (state =
    distinct-key count — unbounded on a 100 TB stream); the
    WithinWatermark variant evicts keys older than the watermark, so
    state tracks the dedup horizon instead. Results on this bounded
    source must equal batch per-key firsts for keys duplicated within
    the horizon (the testdata's dup (user_id, event_type) pairs all fall
    inside a generous watermark here, so streamed == batch distinct)."""
    from etl_data_peri_institute_spark.streaming.windows import (
        run_to_completion,
        stream_events,
    )

    ev = stream_events(spark, SF).filter(F.col("user_id") < 10)
    deduped = ev.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = run_to_completion(
        deduped.select("user_id", "event_type"), output_mode="append"
    ).collect()
    batch = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))


def test_transform_with_state_running_totals(spark):
    """Spark 4 transformWithStateInPandas running totals == batch agg.
    The new API's driver worker needs google.protobuf + the RocksDB
    state store; skip where the environment lacks them (this image
    ships no protobuf — the operator itself is the production path)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("transformWithState needs google.protobuf (not in image)")

    from etl_data_peri_institute_spark.streaming.stateful import (
        running_user_totals_tws,
    )
    from etl_data_peri_institute_spark.streaming.windows import (
        run_to_completion,
        stream_events,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prior = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        ev = stream_events(spark, SF).filter(F.col("user_id") < 10)
        out = {
            r.user_id: (r.n_events, r.total_value)
            for r in run_to_completion(
                running_user_totals_tws(ev), output_mode="update"
            ).collect()
        }
        batch = {
            r.user_id: (r.n, r.tv)
            for r in load_table(spark, SF, "events")
            .filter(F.col("user_id") < 10)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("tv"),
            )
            .collect()
        }
        assert out == batch
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_streaming_drift_monitor_incremental_psi(spark, tmp_path):
    """Two drains of the drift monitor: counts merge exactly once per
    file (epoch-guarded), and the PSI report equals the batch formula
    over the union of the drained data; an identical-to-baseline stream
    scores 0."""
    import datetime

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.drift import (
        baseline_bins,
        drift_monitor_drain,
        psi_report,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 2, 1)
    base_rows = [(i, t0, 1, "x", float((i * 37) % 400), "{}") for i in range(200)]
    baseline = baseline_bins(spark.createDataFrame(base_rows, schema))

    src = tmp_path / "src"
    src.mkdir()
    store = ParquetStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    # wave 1: same distribution as baseline -> PSI ~ 0
    spark.createDataFrame(base_rows, schema).coalesce(1).write.parquet(str(src / "w1"))
    drift_monitor_drain(spark, f"{src}/*", schema, store, "drift_bins", ckpt)
    psi0 = psi_report(store, "drift_bins", baseline).collect()[0]["psi"]
    assert abs(psi0) < 1e-9

    # wave 2: shifted distribution lands -> PSI grows; re-drain is
    # incremental (only the new file) and idempotent
    shift_rows = [(1000 + i, t0, 1, "x", 450.0, "{}") for i in range(200)]
    spark.createDataFrame(shift_rows, schema).coalesce(1).write.parquet(str(src / "w2"))
    drift_monitor_drain(spark, f"{src}/*", schema, store, "drift_bins", ckpt)
    psi1 = psi_report(store, "drift_bins", baseline).collect()[0]["psi"]
    assert psi1 > 0.1
    # total maintained counts = all drained rows, each counted once
    from pyspark.sql import functions as F

    total = store.read("drift_bins").agg(F.sum("n_cur")).first()[0]
    assert total == 400


def test_incremental_ingest_recovers_from_sink_crash(spark, tmp_path, monkeypatch):
    """Mid-stream FAILURE recovery — the path the clean-stop tests above
    don't exercise: the sink crashes while processing an epoch, the
    query dies, and a RESTART from the same checkpoint must replay that
    epoch exactly once (offsets commit only after foreachBatch returns,
    and the staged-parquet insert is all-or-nothing, so the failed
    attempt leaves no partial rows to duplicate)."""
    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_ingest,
    )

    src = tmp_path / "landing"
    src.mkdir()
    ev = load_table(spark, SF, "events").limit(200)
    ev.coalesce(1).write.parquet(str(src / "batch1"))

    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = spark.read.parquet(str(src / "batch1")).schema
    ckpt = str(tmp_path / "ckpt")

    real_insert = ParquetStore.insert
    calls = {"n": 0}

    def crashing_insert(self, batch_df, table, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected sink crash")
        return real_insert(self, batch_df, table, **kw)

    monkeypatch.setattr(ParquetStore, "insert", crashing_insert)

    with pytest.raises(Exception, match="injected sink crash"):
        incremental_ingest(spark, str(src / "*"), schema, store, "ev_rec", ckpt)
    # failed attempt must leave NO rows behind (atomic staged insert)
    assert not store.exists("ev_rec")

    # restart from the same checkpoint: the crashed epoch replays ONCE
    n = incremental_ingest(spark, str(src / "*"), schema, store, "ev_rec", ckpt)
    assert n == 200
    assert store.read("ev_rec").count() == 200

    # and the recovered checkpoint is drained: third run is a no-op
    assert (
        incremental_ingest(spark, str(src / "*"), schema, store, "ev_rec", ckpt)
        == 0
    )
    assert store.read("ev_rec").count() == 200


def test_incremental_rollup_replay_guard_after_durable_merge(
    spark, tmp_path, monkeypatch
):
    """The OTHER at-least-once crash window (the sink-crash test above
    covers failure BEFORE the write lands): the merge lands durably —
    atomic swap, _LAST_EPOCH committed with it — but the sink dies
    before Spark commits the stream offsets. The restart replays that
    epoch; the epoch guard must SKIP it (a bare merge would
    double-count) while later epochs still apply."""
    import os

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_rollup,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    schema = "k string, v double"
    spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame([("a", 3.0)], schema).write.parquet(
        str(src / "f2.parquet")
    )

    store = ParquetStore(spark, str(tmp_path / "db"))
    kw = dict(
        spark=spark,
        source_dir=str(src / "*"),
        schema=schema,
        store=store,
        table="rollup_rg",
        checkpoint_dir=str(tmp_path / "ckpt"),
        group_cols=["k"],
        sum_cols={"total_v": "sum:v", "n": "count"},
        max_files_per_trigger=1,  # one epoch per file
    )

    real_overwrite = ParquetStore.overwrite
    calls = {"n": 0}

    def crash_after_durable(self, df, table, **kwargs):
        out = real_overwrite(self, df, table, **kwargs)
        calls["n"] += 1
        if calls["n"] == 2:  # epoch 1's merge IS durable, then the crash
            raise RuntimeError("crash after durable merge")
        return out

    monkeypatch.setattr(ParquetStore, "overwrite", crash_after_durable)
    with pytest.raises(Exception, match="crash after durable merge"):
        incremental_rollup(**kw)
    # both epochs' merges landed before the crash
    assert store.read_meta("rollup_rg", "_LAST_EPOCH") == "1"

    # a third file lands while we were down
    spark.createDataFrame([("c", 7.0)], schema).write.parquet(
        str(src / "f3.parquet")
    )
    monkeypatch.setattr(ParquetStore, "overwrite", real_overwrite)
    incremental_rollup(**kw)

    # epoch 1 replayed and was SKIPPED (no double count of ("a", 3.0));
    # epoch 2 (the new file) applied
    got = {r["k"]: (r["total_v"], r["n"]) for r in store.read("rollup_rg").collect()}
    assert got == {"a": (4.0, 2), "b": (2.0, 1), "c": (7.0, 1)}


def test_incremental_ingest_replay_is_deduplicated(spark, tmp_path):
    """foreachBatch is at-least-once: if the checkpoint loses the
    offset commit after the insert landed (simulated by deleting the
    checkpoint after a single-epoch run), the replayed epoch must be a
    no-op — the _LAST_INGEST_EPOCH marker makes INSERT idempotent."""
    import shutil

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_ingest,
    )

    src = tmp_path / "landing"
    src.mkdir()
    load_table(spark, SF, "events").limit(100).coalesce(1).write.parquet(
        str(src / "b1")
    )
    store = ParquetStore(spark, str(tmp_path / "db"))
    schema = spark.read.parquet(str(src / "b1")).schema
    ckpt = str(tmp_path / "ckpt")

    assert incremental_ingest(spark, str(src / "*"), schema, store, "t", ckpt) == 100
    assert store.read_meta("t", "_LAST_INGEST_EPOCH") == "0"

    # lose the offset commit: the same files replay as epoch 0 again
    shutil.rmtree(ckpt)
    n = incremental_ingest(
        spark, str(src / "*"), schema, store, "t", str(tmp_path / "ckpt")
    )
    assert n == 0
    assert store.read("t").count() == 100  # no duplicate append


def test_incremental_rollup_detects_checkpoint_recreation(spark, tmp_path):
    """A recreated/moved checkpoint restarts epoch ids at 0; with the
    rollup table surviving at _LAST_EPOCH > 0 the replay guard would
    silently swallow that many batches of NEW data — the sink must
    fail loudly instead."""
    import os
    import shutil

    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_rollup,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    schema = "k string, v double"
    spark.createDataFrame([("a", 1.0)], schema).write.parquet(str(src / "f1.parquet"))
    spark.createDataFrame([("b", 2.0)], schema).write.parquet(str(src / "f2.parquet"))
    store = ParquetStore(spark, str(tmp_path / "db"))
    kw = dict(
        spark=spark,
        source_dir=str(src / "*"),
        schema=schema,
        store=store,
        table="r",
        checkpoint_dir=str(tmp_path / "ckpt"),
        group_cols=["k"],
        sum_cols={"t": "sum:v"},
        max_files_per_trigger=1,
    )
    incremental_rollup(**kw)
    # >= 1: availableNow may add trailing empty epochs beyond the two
    # data files; the guard only needs a POSITIVE applied epoch
    assert int(store.read_meta("r", "_LAST_EPOCH")) >= 1

    shutil.rmtree(str(tmp_path / "ckpt"))
    spark.createDataFrame([("c", 3.0)], schema).write.parquet(str(src / "f3.parquet"))
    with pytest.raises(Exception, match="epoch mismatch"):
        incremental_rollup(**kw)


def test_incremental_ingest_kill_mid_batch_sweep(spark, tmp_path, monkeypatch):
    """Round-9 (round-8 verdict item 5b): kill-point sweep THROUGH the
    streaming checkpoint path. test_incremental_ingest_exactly_once
    covers clean restarts; this kills the insert's commit at every step
    DURING a foreachBatch epoch (journal written, the stored epoch
    marker renamed aside, rows moved in, marker moved in, committed
    mark) and asserts that restarting the stream on the same checkpoint
    yields exactly-once: 500 rows, no duplicates, no skips, marker ==
    epoch — including the kill between the data move and the marker
    move, the window the round-8 code documented as at-least-once
    residual (closed by insert(meta_files=...): rows and marker are
    entries of ONE commit)."""
    from etl_data_peri_institute_spark import sinks
    from etl_data_peri_institute_spark.sinks import ParquetStore
    from etl_data_peri_institute_spark.streaming.incremental import (
        incremental_ingest,
    )

    class _SimulatedCrash(Exception):
        """Exception (py4j's foreachBatch callback thread deadlocks on
        BaseException) carrying the simulate_kill marker, which makes
        the commit skip its in-process rollback exactly like a real
        kill — the journal is left for _recover."""

        simulate_kill = True

    ev = load_table(spark, SF, "events").limit(500)
    expected = sorted(tuple(r) for r in ev.collect())

    # (label, occurrence, reached on a fresh table). A first insert is
    # one entry — the staged dir, marker inside, put at the table dir —
    # so it has no backup and one move. On the pre-existing table the
    # batch is one file: the first move is the rows', the second the
    # marker's, which the commit renamed aside first.
    for label, nth, on_fresh in (
        ("commit:journaled", 0, True),
        ("commit:backed_up", 0, False),
        ("commit:moved", 0, True),
        ("commit:moved", 1, False),
        ("commit:committed", 0, True),
    ):
        base = tmp_path / f"{label.replace(':', '_')}{nth}"
        src = base / "landing"
        src.mkdir(parents=True)
        ev.coalesce(1).write.parquet(str(src / "batch1"))
        store = ParquetStore(spark, str(base / "db"))
        schema = spark.read.parquet(str(src / "batch1")).schema
        ckpt = str(base / "ckpt")

        def run_killed(_label=label, _nth=nth) -> bool:
            """Ingest with a kill at the _nth `_label`; whether it fired."""
            seen = {"n": 0, "fired": False}

            def hook(lbl):
                if lbl == _label:
                    if seen["n"] == _nth:
                        seen["fired"] = True
                        raise _SimulatedCrash(lbl)
                    seen["n"] += 1

            monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
            raised = None
            try:
                incremental_ingest(spark, str(src / "*"), schema, store, "ev", ckpt)
            except Exception as exc:
                raised = exc
            finally:
                monkeypatch.setattr(sinks, "_CRASH_HOOK", None)
            assert (raised is not None) == seen["fired"], raised
            return seen["fired"]

        assert run_killed() == on_fresh, (label, nth)
        # restart on the same checkpoint: recovery + replay (or skip, if
        # the kill landed after the committed mark) must land EXACTLY
        # the 500 rows and the epoch marker, at every kill point
        incremental_ingest(spark, str(src / "*"), schema, store, "ev", ckpt)
        got = sorted(tuple(r) for r in store.read("ev").collect())
        assert got == expected, f"rows diverge after kill at {label}"
        assert store.read_meta("ev", "_LAST_INGEST_EPOCH") == "0", label
        # and the stream is healthy: a further run is a no-op, a new
        # file is picked up exactly once
        assert (
            incremental_ingest(spark, str(src / "*"), schema, store, "ev", ckpt)
            == 0
        ), label
        ev2 = load_table(spark, SF, "events").filter(F.col("event_id") < 50)
        n2 = ev2.count()
        ev2.coalesce(1).write.parquet(str(src / "batch2"))
        assert (
            incremental_ingest(spark, str(src / "*"), schema, store, "ev", ckpt)
            == n2
        ), label
        assert store.read("ev").count() == 500 + n2, label

        # SECOND-EPOCH kill on the now-PRE-EXISTING table: the round-9
        # review's live repro showed the first sweep (epoch 0, freshly
        # created table) could not catch a marker left advanced by a
        # rollback — removing the created table removes the marker as a
        # side effect. Killing while a PRIOR marker exists pins that the
        # marker rolls back WITH the rows (an advanced marker would make
        # the replay silently SKIP the epoch).
        ev3 = load_table(spark, SF, "events").filter(
            (F.col("event_id") >= 50) & (F.col("event_id") < 80)
        )
        n3 = ev3.count()
        assert n3 > 0
        ev3.coalesce(1).write.parquet(str(src / "batch3"))
        assert run_killed(), (label, nth)
        incremental_ingest(spark, str(src / "*"), schema, store, "ev", ckpt)
        assert store.read("ev").count() == 500 + n2 + n3, (
            f"epoch-2 rows lost or duplicated after kill at {label} "
            f"on a pre-existing table"
        )
        assert store.read_meta("ev", "_LAST_INGEST_EPOCH") == "2", label
