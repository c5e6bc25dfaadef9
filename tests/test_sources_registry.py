"""Source registry, parquet cache, and the driver-contract registry."""

from __future__ import annotations

import hashlib

import pytest

from accident_prediction_montreal_spark.plans import REGISTRY
from accident_prediction_montreal_spark.sources.cache import parquet_cache
from accident_prediction_montreal_spark.sources.registry import TABLES, load_table

SF = "/root/testdata/sf0.001"


def test_load_table_schema_contract(spark):
    for name in ("lineitem", "events", "documents", "embeddings"):
        df = load_table(spark, name, SF)
        assert df.columns == TABLES[name].fieldNames()
    # Event time is TIMESTAMP_NTZ engine-wide: naive micros, exactly what
    # the parquet stores and what DuckDB oracles compute on, and — unlike
    # any conversion-expression wrapper — pushdown-transparent (the r3
    # testdata regeneration to timestamp[us] was caught by this pin's
    # predecessor; test_plan_shapes.py::test_scan_pushdown guards the
    # pushdown half of the contract).
    assert dict(load_table(spark, "events", SF).dtypes)["ts"] == "timestamp_ntz"


def test_load_table_exact_micros(spark):
    # Value half of the timestamp contract: the loaded column holds the
    # EXACT stored micros (no session-TZ shift, no unit confusion — the
    # r3 bug decoded micros as nanos and compressed time 1000x).
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from accident_prediction_montreal_spark.sources.registry import epoch_us

    tbl = pq.read_table(f"{SF}/events.parquet", columns=["event_id", "ts"])
    want = {
        eid.as_py(): us.as_py()
        for eid, us in zip(
            tbl.column("event_id")[:5], pc.cast(tbl.column("ts"), "int64")[:5]
        )
    }
    df = load_table(spark, "events", SF)
    got_rows = (
        df.select("event_id", epoch_us(df["ts"], dict(df.dtypes)["ts"]).alias("us"))
        .filter(df["event_id"].isin(list(want)))
        .collect()
    )
    got = {r["event_id"]: r["us"] for r in got_rows}
    assert got == want


def test_load_table_unknown_name(spark):
    with pytest.raises(KeyError):
        load_table(spark, "nope", SF)


def test_parquet_cache_roundtrip(spark, tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "x")

    p = str(tmp_path / "cached")
    first = parquet_cache(spark, p, compute)
    assert first.count() == 5 and len(calls) == 1
    second = parquet_cache(spark, p, compute)
    assert second.count() == 5 and len(calls) == 1  # reloaded, not recomputed
    third = parquet_cache(spark, p, compute, overwrite=True)
    assert third.count() == 5 and len(calls) == 2


def test_registry_contract():
    assert len(REGISTRY) >= 50
    for name, spec in REGISTRY.items():
        assert callable(spec.fn), name
        assert spec.description, name


#: SHA-256 of "\n".join(REGISTRY): the registration ORDER that
#: __spark_entry__.queries() exposes (the first 50 names are the oracle
#: check window). Adding, removing or reordering a query changes it;
#: update it only on purpose.
_REGISTRY_ORDER_SHA256 = (
    "eba10139a7ac9bfeb137c478b4fc69d8bf2ca429489b79cbde8fc3b688ae1356"
)


def test_registry_order_pinned():
    assert len(REGISTRY) == 264
    digest = hashlib.sha256("\n".join(REGISTRY).encode()).hexdigest()
    assert digest == _REGISTRY_ORDER_SHA256


def test_entry_module_contract(spark):
    import __spark_entry__ as mod

    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    df = mod.entry(spark)
    assert df.count() > 0


def test_python_datasource_values_and_pushdown(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from accident_prediction_montreal_spark.sources.pydatasource import (
        WeatherFixtureReader,
        register,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    df = (
        spark.read.format("weatherfix")
        .option("stations", "3")
        .option("days", "2")
        .load()
    )
    rows = {(r["station_id"], r["day_of_year"], r["hour"]): r for r in df.collect()}
    assert len(rows) == 3 * 2 * 24
    # spot-check the closed form the oracle regenerates
    r = rows[(2, 1, 5)]
    assert r["temp"] == float(((2 * 31 + 1 * 7 + 5 * 3) % 50) - 10)
    assert r["risky_weather"] == (1.0 if (2 * 3 + 1 + 5) % 10 == 0 else 0.0)

    # end-to-end: equality filter returns exactly one station's rows
    assert df.filter(F.col("station_id") == 1).count() == 2 * 24

    # reader-level: EqualTo and In prune partitions; others are residual
    rd = WeatherFixtureReader({"stations": "4", "days": "2"})
    residual = list(rd.pushFilters([EqualTo(("station_id",), 2)]))
    assert residual == [] and len(rd.partitions()) == 1
    rd2 = WeatherFixtureReader({"stations": "4", "days": "2"})
    gt = GreaterThan(("hour",), 5)
    residual2 = list(rd2.pushFilters([In(("station_id",), (1, 3)), gt]))
    assert residual2 == [gt] and len(rd2.partitions()) == 2
    # contradictory pushdown -> zero partitions, zero rows
    rd3 = WeatherFixtureReader({"stations": "4", "days": "2"})
    list(rd3.pushFilters([EqualTo(("station_id",), 1), EqualTo(("station_id",), 2)]))
    assert rd3.partitions() == []


def test_python_stream_source_offsets(spark):
    # offset arithmetic at the reader level: 10 days in 4-day batches
    from accident_prediction_montreal_spark.sources.pydatasource import (
        WeatherFixtureStreamReader,
    )

    rd = WeatherFixtureStreamReader({"stations": "2", "days": "10", "days_per_batch": "4"})
    assert rd.initialOffset() == {"next_day": 1}
    assert rd.latestOffset() == {"next_day": 11}
    parts = rd.partitions({"next_day": 1}, {"next_day": 5})
    assert len(parts) == 2 and parts[0].start_day == 1 and parts[0].end_day == 5
    rows = list(rd.read(parts[0]))
    assert len(rows) == 4 * 24
    assert {r[1] for r in rows} == {1, 2, 3, 4}  # exactly days [1, 5)


def test_atomic_text_sink_two_phase_commit(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from accident_prediction_montreal_spark.sources.pydatasource import (
        AtomicTextWriter,
        StagedFile,
        register_sink,
    )

    register_sink(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    df = spark.range(20).select((F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    df.write.format("atomictext").option("path", out).mode("overwrite").save()
    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names and "_staging" not in names
    back = spark.read.schema("k LONG, v LONG").csv(out)
    assert back.count() == 20
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(20))
    # overwrite replaces prior visible files
    df.filter(F.col("v") < 5).write.format("atomictext").option(
        "path", out
    ).mode("overwrite").save()
    assert spark.read.schema("k LONG, v LONG").csv(out).count() == 5

    # abort path: staged files removed, target untouched
    w = AtomicTextWriter({"path": out}, overwrite=False)
    msg = w.write(iter([(1, 2)]))
    assert isinstance(msg, StagedFile) and os.path.exists(msg.staged_path)
    w.abort([msg])
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert spark.read.schema("k LONG, v LONG").csv(out).count() == 5
