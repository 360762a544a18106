"""SparkWarehouse lifecycle round-trips — the local-catalog analog of
the reference's live-BigQuery integration tests
(test/test_bigquery.py:447-518)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from load_datawarehouse_spark.errors import (
    WarehouseInvalidInput,
    WarehouseTableNotFound,
    WarehouseTableRowsInvalid,
)
from load_datawarehouse_spark.warehouse import QuerySort, SparkWarehouse

RECORDS = [
    {"id": 1, "name": "alpha", "score": 1.5, "tags": ["a", "b"]},
    {"id": 2, "name": "beta", "score": 2.5, "tags": ["c"]},
    {"id": 3, "name": "gamma", "score": None, "tags": []},
]


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "wh")


def test_get_missing_raises(spark, root):
    with pytest.raises(WarehouseTableNotFound):
        SparkWarehouse.get(spark, root, "nope")


def test_create_load_fetch_query(spark, root):
    wh = SparkWarehouse.new(spark, root, "t1")
    assert wh.exists()
    records = [
        {**r, "day": dt.date(2020, 1, r["id"]), "blob": bytes([r["id"], 0])}
        for r in RECORDS
    ]
    # inference reads a date as DATETIME; a declared DATE field wins
    day = [{"name": "day", "type": "DATE", "mode": "NULLABLE"}]
    assert wh.load(records, schema=day) is True
    # inferred schema recorded in metadata
    types = {f["name"]: (f["type"], f["mode"]) for f in wh.schema}
    assert types["id"] == ("INTEGER", "NULLABLE")
    assert types["score"] == ("FLOAT", "NULLABLE")
    assert types["tags"] == ("STRING", "REPEATED")
    assert types["day"] == ("DATE", "NULLABLE")
    assert types["blob"] == ("BYTES", "NULLABLE")
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[2]["day"] == dt.date(2020, 1, 2)
    assert bytes(rows[3]["blob"]) == b"\x03\x00"

    got = wh.fetch(fields=["id", "name"], sort=[("id", QuerySort.DESCENDING)], count=2).collect()
    assert [r["id"] for r in got] == [3, 2]

    out = wh.query("SELECT COUNT(*) AS n FROM t1").collect()
    assert out[0]["n"] == 3


def test_load_appends_and_reuses_schema(spark, root):
    wh = SparkWarehouse.new(spark, root, "t2")
    wh.load(RECORDS)
    # second load: ints arrive for a FLOAT column -> coerced by the
    # adopted schema (existing-schema-wins)
    wh.load([{"id": 4, "name": "delta", "score": 7, "tags": "solo"}])
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] == 7.0
    assert rows[4]["tags"] == ["solo"]  # scalar wrapped into REPEATED
    assert wh.df().count() == 4


def test_load_append_never_narrows_schema(spark, root):
    # appending a batch that OMITS an existing column must keep the
    # column in both the metadata schema and the read path (older
    # files lack newer columns; the declared-schema read nulls them)
    wh = SparkWarehouse.new(spark, root, "t2n")
    wh.load(RECORDS)
    wh.load([{"id": 4, "name": "delta"}])  # no score, no tags
    names = {f["name"] for f in wh.schema}
    assert {"id", "name", "score", "tags"} <= names
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] is None
    assert rows[1]["score"] == 1.5
    # and the widening direction still works: a NEW column appears
    wh.load([{"id": 5, "name": "eps", "flag": "x"}])
    assert "flag" in {f["name"] for f in wh.schema}
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[5]["flag"] == "x"
    assert rows[1]["flag"] is None


def test_fetch_single_string_field(spark, root):
    # fetch(fields="name") must select the column, not its characters
    wh = SparkWarehouse.new(spark, root, "t2s")
    wh.load(RECORDS)
    got = wh.fetch(fields="name", sort=[("name", QuerySort.ASCENDING)], count=1).collect()
    assert got[0].asDict() == {"name": "alpha"}


def test_new_replace_semantics(spark, root):
    SparkWarehouse.new(spark, root, "t3", data=RECORDS)
    with pytest.raises(WarehouseInvalidInput):
        SparkWarehouse.new(spark, root, "t3")
    wh = SparkWarehouse.new(spark, root, "t3", replace=True)
    assert wh.df().count() == 0  # replaced empty, no data dir yet


def test_rebuild_preserves_schema(spark, root):
    wh = SparkWarehouse.new(spark, root, "t4")
    wh.load(RECORDS)
    schema_before = wh.schema
    wh.rebuild()
    assert wh.df().count() == 0
    assert wh.schema == schema_before


def test_update_upsert(spark, root):
    wh = SparkWarehouse.new(spark, root, "t5")
    wh.load(RECORDS)
    wh.update([{"id": 2, "name": "BETA2", "score": 9.0, "tags": []},
               {"id": 9, "name": "new", "score": 0.5, "tags": ["z"]}], keys=["id"])
    rows = {r["id"]: r for r in wh.df().collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[2]["name"] == "BETA2"
    assert rows[9]["score"] == 0.5


def test_delete_and_not_found_ok(spark, root):
    wh = SparkWarehouse.new(spark, root, "t6", data=RECORDS)
    assert wh.delete() is True
    assert wh.delete() is False  # not_found_ok default
    with pytest.raises(WarehouseTableNotFound):
        wh.delete(not_found_ok=False)


def test_expiry_round_trip(spark, root):
    wh = SparkWarehouse.new(spark, root, "t7")
    future = dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc)
    wh.set_expiry(future)
    assert not wh.is_expired()
    past = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
    wh.set_expiry(past)
    assert wh.is_expired()
    # staged (update=False) not applied until apply_changes
    wh.set_expiry(None, update=False)
    assert wh.is_expired()
    wh.apply_changes()
    assert not wh.is_expired()


def test_pandas_load(spark, root):
    import pandas as pd

    pdf = pd.DataFrame([{"a b": 1, "x": "u"}, {"a b": 2, "x": "v"}])
    wh = SparkWarehouse.new(spark, root, "t8", data=pdf)
    assert wh.df().columns == ["a_b", "x"]
    assert wh.df().count() == 2


def test_append_preserves_declared_column_order(spark, tmp_path):
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    root = str(tmp_path / "wh_order")
    wh = SparkWarehouse.new(
        spark, root, "t",
        data=[{"id": 1, "score": 2.5, "name": "a"}],
    )
    first_order = [f["name"] for f in wh.schema]
    # append omitting 'score' and adding a new trailing field
    wh.load([{"id": 2, "name": "b", "extra": True}])
    after = [f["name"] for f in wh.schema]
    # existing fields keep their positions; only genuinely new fields append
    assert after[: len(first_order)] == first_order
    assert after[len(first_order):] == ["extra"]
    assert wh.df().columns[: len(first_order)] == first_order


def test_snapshot_time_travel_lifecycle(spark, tmp_path):
    from load_datawarehouse_spark.errors import WarehouseTableNotFound
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(
        spark, str(tmp_path), "tt", data=[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    )
    v1 = wh.snapshot()
    wh.load([{"id": 3, "v": "c"}])
    v2 = wh.snapshot()
    wh.update([{"id": 1, "v": "A"}], keys=["id"])

    assert (v1, v2) == (1, 2)
    assert [v["version"] for v in wh.versions()] == [1, 2]
    assert wh.df_at(v1).count() == 2
    assert wh.df_at(v2).count() == 3
    # v2 predates the upsert: id 1 still lowercase there
    assert wh.df_at(v2).filter("id = 1").first()["v"] == "a"
    assert wh.df().filter("id = 1").first()["v"] == "A"

    with pytest.raises(WarehouseTableNotFound):
        wh.df_at(99)
    ghost = SparkWarehouse(spark, str(tmp_path), "nope")
    with pytest.raises(WarehouseTableNotFound):
        ghost.snapshot()


def test_vacuum_drops_old_snapshots_keeps_numbering(spark, tmp_path):
    from load_datawarehouse_spark.errors import WarehouseTableNotFound
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(spark, str(tmp_path), "vc", data=[{"id": 1}])
    v1 = wh.snapshot()
    wh.load([{"id": 2}])
    v2 = wh.snapshot()
    wh.load([{"id": 3}])
    v3 = wh.snapshot()

    assert wh.vacuum(keep_last=1) == [v1, v2]
    assert [v["version"] for v in wh.versions()] == [v3]
    assert wh.df_at(v3).count() == 3
    for gone in (v1, v2):
        with pytest.raises(WarehouseTableNotFound):
            wh.df_at(gone)
    # version numbers are monotonic across vacuum, never reused
    assert wh.snapshot() == v3 + 1
    # keep_last larger than history is a no-op
    assert wh.vacuum(keep_last=10) == []
    with pytest.raises(ValueError):
        wh.vacuum(keep_last=-1)


def test_merge_applies_insert_update_delete(spark, tmp_path):
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(
        spark, str(tmp_path), "m",
        data=[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}, {"id": 3, "v": "c"}],
    )
    wh.merge(
        [
            {"id": 2, "v": "B", "op": "U"},
            {"id": 3, "v": "c", "op": "D"},
            {"id": 4, "v": "d", "op": "I"},
        ],
        keys=["id"],
    )
    got = {r["id"]: r["v"] for r in wh.df().collect()}
    assert got == {1: "a", 2: "B", 4: "d"}
    # schema sidecar must NOT have absorbed the op column
    assert [f["name"] for f in wh.schema] == ["id", "v"]


# --- DataFrame-native bulk load (VERDICT r14 #5) ---------------------------


def _records_as_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    rows = [(r["id"], r["name"], r["score"], r["tags"]) for r in RECORDS]
    return spark.createDataFrame(rows, schema)


def test_load_dataframe_bulk_path_matches_records_goldens(spark, root):
    """The DataFrame-in load must land the SAME metadata schema and
    rows as the records path on equivalent input — distributed
    inference (treeAggregate) and driver inference share the
    observation lattice, so the condensed api_repr is identical."""
    a = SparkWarehouse.new(spark, root, "lr")
    a.load(RECORDS)
    b = SparkWarehouse.new(spark, root, "ld")
    assert b.load(_records_as_df(spark)) is True
    assert b.schema == a.schema
    key = lambda r: r["id"]
    got = sorted((r.asDict() for r in b.df().collect()), key=key)
    want = sorted((r.asDict() for r in a.df().collect()), key=key)
    assert got == want


def test_load_dataframe_append_widen_and_existing_wins(spark, root):
    # append a DataFrame batch onto a records-loaded table: the FLOAT
    # column coerces an int batch (existing-schema-wins), an omitted
    # column survives as NULL (never narrows), a new column appends
    # AFTER the existing fields (stable order), and a scalar arriving
    # for a REPEATED field wraps into a 1-element array
    wh = SparkWarehouse.new(spark, root, "ldw")
    wh.load(RECORDS)
    batch = spark.createDataFrame(
        [(4, "delta", 7, "solo", "x")],
        "id long, name string, score long, tags string, flag string",
    )
    wh.load(batch)
    names = [f["name"] for f in wh.schema]
    assert names[:4] == ["id", "name", "score", "tags"]
    assert "flag" in names and names.index("flag") == len(names) - 1
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] == 7.0
    assert rows[4]["tags"] == ["solo"]
    assert rows[4]["flag"] == "x"
    assert rows[1]["flag"] is None
    assert wh.df().count() == 4


def test_load_dataframe_nested_struct_evolution_matches_records_path(spark, root):
    """ADVICE r15 #1: a DataFrame batch whose STRUCT column is missing
    nested fields (or carries extras) relative to the table schema
    must conform like the records path — missing nested fields
    backfill NULL, extras drop, NULL structs stay NULL — instead of
    failing the whole-struct cast. Both paths are driven with the
    same logical batches and must land identical rows."""
    rec_schema = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
            {"name": "a", "type": "STRING", "mode": "NULLABLE"},
            {"name": "b", "type": "INTEGER", "mode": "NULLABLE"},
        ]},
    ]
    base = [
        {"id": 1, "meta": {"a": "x", "b": 10}},
        {"id": 2, "meta": None},
    ]
    batch = [
        # missing nested 'b', extra nested 'z' (dropped by conform)
        {"id": 3, "meta": {"a": "y", "z": "extra"}},
    ]
    a = SparkWarehouse.new(spark, root, "nr")
    a.load(base, schema=rec_schema)
    a.load(batch)

    b = SparkWarehouse.new(spark, root, "nd")
    b.load(
        spark.createDataFrame(
            [(1, ("x", 10)), (2, None)],
            "id long, meta struct<a string, b long>",
        ),
        schema=rec_schema,
    )
    b.load(
        spark.createDataFrame(
            [(3, ("y", "extra"))],
            "id long, meta struct<a string, z string>",
        )
    )
    assert [f["name"] for f in b.schema] == [f["name"] for f in a.schema]
    key = lambda r: r["id"]
    got = sorted((r.asDict(recursive=True) for r in b.df().collect()), key=key)
    want = sorted((r.asDict(recursive=True) for r in a.df().collect()), key=key)
    assert got == want
    assert got[2]["meta"] == {"a": "y", "b": None}
    assert got[1]["meta"] is None


def test_load_dataframe_array_of_struct_nested_evolution(spark, root):
    """Nested evolution inside REPEATED RECORD columns: each array
    element conforms field-by-field (missing nested -> NULL), matching
    _conform_record's per-item recursion on the records path."""
    arr_schema = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "items", "type": "RECORD", "mode": "REPEATED", "fields": [
            {"name": "k", "type": "STRING", "mode": "NULLABLE"},
            {"name": "v", "type": "INTEGER", "mode": "NULLABLE"},
        ]},
    ]
    a = SparkWarehouse.new(spark, root, "anr")
    a.load(
        [{"id": 1, "items": [{"k": "a", "v": 1}, {"k": "b", "v": 2}]}],
        schema=arr_schema,
    )
    a.load([{"id": 2, "items": [{"k": "c"}]}])

    b = SparkWarehouse.new(spark, root, "and")
    b.load(
        spark.createDataFrame(
            [(1, [("a", 1), ("b", 2)])],
            "id long, items array<struct<k string, v long>>",
        ),
        schema=arr_schema,
    )
    b.load(
        spark.createDataFrame(
            [(2, [("c",)])], "id long, items array<struct<k string>>"
        )
    )
    key = lambda r: r["id"]
    got = sorted((r.asDict(recursive=True) for r in b.df().collect()), key=key)
    want = sorted((r.asDict(recursive=True) for r in a.df().collect()), key=key)
    assert got == want
    assert got[1]["items"] == [{"k": "c", "v": None}]


def test_load_dataframe_cleans_keys_like_records_path(spark, root):
    # dirty top-level column names sanitize identically to clean_keys
    # on the same records (metadata-only rename, no shuffle)
    dirty_records = [{"user id": 1, "amount$": 2.0}]
    a = SparkWarehouse.new(spark, root, "kr")
    a.load(dirty_records)
    df = spark.createDataFrame([(1, 2.0)], "`user id` long, `amount$` double")
    b = SparkWarehouse.new(spark, root, "kd")
    b.load(df)
    assert [f["name"] for f in b.schema] == [f["name"] for f in a.schema]


# --- record batches as Arrow local relations -------------------------------


def _merge_model(table_rows, batch, key="id"):
    """What ``merge`` commits: every table row whose key no change names
    (a null key matches nothing), then every I/U change row as given."""
    changed = {c[key] for c in batch if c[key] is not None}
    kept = [r for r in table_rows if r[key] is None or r[key] not in changed]
    upserts = [
        {k: v for k, v in c.items() if k != "op"}
        for c in batch
        if c.get("op", "U") in ("I", "U")
    ]
    return kept + upserts


def _multiset(rows):
    return sorted((r["id"] is None, r["id"] or 0, r["v"]) for r in rows)


_BASE = [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}, {"id": 3, "v": "c"}]


@pytest.mark.parametrize(
    "table_rows, batch",
    [
        pytest.param(_BASE, [{"id": 2, "v": "B", "op": "U"}, {"id": 2, "v": None, "op": "D"}], id="u-then-d"),
        pytest.param(_BASE, [{"id": 2, "v": "B1", "op": "U"}, {"id": 2, "v": "B2", "op": "U"}], id="two-u"),
        pytest.param(
            _BASE + [{"id": None, "v": "null-key"}],
            [{"id": 1, "v": "A", "op": "U"}],
            id="null-key-in-table",
        ),
        pytest.param(
            _BASE + [{"id": None, "v": "null-key"}],
            [{"id": None, "v": "n", "op": "U"}, {"id": None, "v": None, "op": "D"}, {"id": 3, "v": None, "op": "D"}],
            id="null-key-in-batch",
        ),
        pytest.param(_BASE, [], id="empty-batch"),
        pytest.param(_BASE, [{"id": k, "v": None, "op": "D"} for k in (1, 3, 9)], id="all-d"),
    ],
)
def test_merge_matches_model(spark, tmp_path, table_rows, batch):
    schema = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "v", "type": "STRING", "mode": "NULLABLE"},
    ]
    wh = SparkWarehouse.new(spark, str(tmp_path), "mm", data=table_rows, schema=schema)
    assert wh.merge(batch, keys=["id"]) is True
    got = [r.asDict() for r in wh.df().collect()]
    assert _multiset(got) == _multiset(_merge_model(table_rows, batch))


def test_merge_dataframe_change_set_matches_model(spark, tmp_path):
    batch = [
        {"id": 2, "v": "B1", "op": "U"},
        {"id": 2, "v": "B2", "op": "U"},
        {"id": 3, "v": None, "op": "D"},
        {"id": None, "v": "n", "op": "I"},
        {"id": 4, "v": "d", "op": "I"},
    ]
    wh = SparkWarehouse.new(spark, str(tmp_path), "mdf", data=_BASE)
    changes = spark.createDataFrame(
        [(c["id"], c["v"], c["op"]) for c in batch], "id long, v string, op string"
    )
    wh.merge(changes, keys=["id"])
    got = [r.asDict() for r in wh.df().collect()]
    assert _multiset(got) == _multiset(_merge_model(_BASE, batch))


def test_record_timestamps_match_row_path_in_local_zone(spark):
    """A naive TIMESTAMP value is process-local time, as ``TimestampType``
    reads it on the row path (``time.mktime``); Arrow would read it as
    UTC. Conformed records must land the same instants as the row path,
    at top level, in a RECORD and in a REPEATED RECORD, for naive and
    aware values; a naive ``pandas.Timestamp`` lands as its datetime."""
    import os
    import time

    import pandas as pd

    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.warehouse import _conform_record, _records_frame

    api = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "ts", "type": "TIMESTAMP", "mode": "NULLABLE"},
        {"name": "ntz", "type": "DATETIME", "mode": "NULLABLE"},
        {"name": "rec", "type": "RECORD", "mode": "NULLABLE", "fields": [
            {"name": "ts", "type": "TIMESTAMP", "mode": "NULLABLE"},
        ]},
        {"name": "recs", "type": "RECORD", "mode": "REPEATED", "fields": [
            {"name": "ts", "type": "TIMESTAMP", "mode": "NULLABLE"},
        ]},
    ]
    struct = wtypes.api_repr_to_struct_type(api)
    naive = dt.datetime(2021, 7, 1, 12, 0, 0, 123456)
    aware = dt.datetime(2021, 1, 15, 9, 30, tzinfo=dt.timezone(dt.timedelta(hours=5)))
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        raw = [
            {"id": 1, "ts": naive, "ntz": naive, "rec": {"ts": naive}, "recs": [{"ts": naive}]},
            {"id": 2, "ts": aware, "ntz": naive, "rec": {"ts": aware}, "recs": [{"ts": aware}, {"ts": None}]},
            {"id": 3, "ts": None, "ntz": None, "rec": None, "recs": None},
        ]
        # a pandas frame's datetime column arrives as pandas.Timestamp,
        # which the row path refuses
        from_pandas = {"id": 4, "ts": pd.Timestamp(naive), "ntz": None, "rec": None, "recs": None}
        row_path = spark.createDataFrame(raw, struct)
        conformed = [_conform_record(r, api) for r in raw + [from_pandas]]
        arrow = _records_frame(spark, conformed, struct, "tz")
        assert arrow.filter("id < 4").orderBy("id").collect() == row_path.orderBy("id").collect()
        epochs = {
            r["id"]: (r["ts"], r["rec_ts"], r["recs_ts"])
            for r in arrow.select(
                "id",
                F.col("ts").cast("long").alias("ts"),
                F.col("rec.ts").cast("long").alias("rec_ts"),
                F.col("recs")[0]["ts"].cast("long").alias("recs_ts"),
            ).collect()
        }
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
    # 12:00 EDT is 16:00 UTC; 09:30+05:00 is 04:30 UTC
    assert epochs[1] == (1625155200,) * 3
    assert epochs[2] == (1610685000,) * 3
    assert epochs[3] == (None, None, None)
    assert epochs[4] == (1625155200, None, None)


_TYPED = [
    {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
    {"name": "amount", "type": "NUMERIC", "mode": "NULLABLE"},
    {"name": "ts", "type": "TIMESTAMP", "mode": "NULLABLE"},
]


@pytest.mark.parametrize("verb", ["load", "merge", "update"])
@pytest.mark.parametrize(
    "bad, cause",
    [
        pytest.param({"amount": 1.5}, pa.ArrowTypeError, id="float-numeric"),
        pytest.param({"ts": "2020-01-01 00:00:00"}, pa.ArrowTypeError, id="str-timestamp"),
        pytest.param({"id": None}, ValueError, id="null-required"),
        pytest.param({"id": 2**64}, OverflowError, id="int-overflow"),
    ],
)
def test_bad_record_value_raises_rows_invalid(spark, tmp_path, verb, bad, cause):
    import decimal

    wh = SparkWarehouse.new(
        spark, str(tmp_path), "typed",
        data=[{"id": 1, "amount": decimal.Decimal("2.5"), "ts": dt.datetime(2020, 1, 1)}],
        schema=_TYPED,
    )
    row = {"id": 2, **bad}
    call = {
        "load": lambda: wh.load([row]),
        "merge": lambda: wh.merge([{**row, "op": "U"}], keys=["id"]),
        "update": lambda: wh.update([row], keys=["id"]),
    }[verb]
    with pytest.raises(WarehouseTableRowsInvalid, match="'typed'") as err:
        call()
    assert isinstance(err.value.__cause__, cause)
    assert wh.df().count() == 1


def test_numeric_rounds_like_row_path(spark):
    import decimal

    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.warehouse import _conform_record, _records_frame

    api = [{"name": "n", "type": "NUMERIC", "mode": "NULLABLE"}]
    struct = wtypes.api_repr_to_struct_type(api)
    raw = [{"n": decimal.Decimal(v)} for v in ("1.1234567895", "-1.1234567885", "2", "1e28")]
    arrow = _records_frame(spark, [_conform_record(r, api) for r in raw], struct, "n")
    assert arrow.collect() == spark.createDataFrame(raw, struct).collect()


def test_record_merge_broadcasts_change_set_without_shuffle(spark, tmp_path):
    """Counter lock on the merge plan: the record batch is a local
    relation broadcast into the anti-join, so no stage writes shuffle
    bytes, and the merge runs at most two jobs (broadcast and write)."""
    sc = spark.sparkContext
    wh = SparkWarehouse.new(
        spark, str(tmp_path), "lock",
        data=[{"id": k, "v": str(k)} for k in range(200)],
    )
    batch = [{"id": 5, "v": "five", "op": "U"}, {"id": 7, "op": "D"}, {"id": 500, "v": "new", "op": "I"}]
    scheduler = sc._jsc.sc().dagScheduler()
    lo = scheduler.numTotalJobs()
    wh.merge(batch, keys=["id"])
    hi = scheduler.numTotalJobs()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = [tracker.getJobInfo(j) for j in range(lo, hi)]
    assert 1 <= len(jobs) <= 2
    stage_ids = [s for job in jobs for s in job.stageIds]
    assert stage_ids
    assert [int(store.lastStageAttempt(s).shuffleWriteBytes()) for s in stage_ids] == [0] * len(stage_ids)
    assert wh.df().count() == 200
