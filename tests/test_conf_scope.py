"""Scoped confs (conf_scope.py) and the nanosAsLong events path they
serve: a registry session is plain and shared, so whatever a query sets
must leave the conf exactly as it found it (CLAUDE.md conv 5)."""

import pytest

from etl_marketeye_airflow_spark.conf_scope import scoped_conf, state_partitions

ABSENT = "spark.sql.session.timeZone"  # has a default, so a bad restore shows
PRESENT = "spark.sql.shuffle.partitions"


@pytest.fixture
def plain(spark):
    """A session of its own with ABSENT really unset and PRESENT set."""
    s = spark.newSession()
    s.conf.unset(ABSENT)
    s.conf.set(PRESENT, "5")
    return s


def test_absent_key_is_unset_not_set_to_its_default(plain):
    with scoped_conf(plain, {ABSENT: "UTC"}):
        assert plain.conf.get(ABSENT) == "UTC"
    assert ABSENT not in plain.conf.getAll


def test_present_key_gets_its_old_value_back(plain):
    with scoped_conf(plain, {PRESENT: "8"}):
        assert plain.conf.get(PRESENT) == "8"
    assert plain.conf.get(PRESENT) == "5"


def test_exception_in_body_restores_every_key(plain):
    before = plain.conf.getAll
    with pytest.raises(RuntimeError, match="mid-drain"):
        with scoped_conf(plain, {ABSENT: "UTC", PRESENT: "8"}):
            raise RuntimeError("mid-drain")
    assert plain.conf.getAll == before


def test_several_keys_in_one_call(plain):
    before = plain.conf.getAll
    confs = {ABSENT: "UTC", PRESENT: "8", "spark.sql.legacy.parquet.nanosAsLong": "true"}
    with scoped_conf(plain, confs):
        assert {k: plain.conf.get(k) for k in confs} == confs
    assert plain.conf.getAll == before


def test_state_partitions_sizes_by_file_bytes(spark, tmp_path):
    (tmp_path / "small.parquet").write_bytes(b"x")
    with open(tmp_path / "big.parquet", "wb") as f:
        f.truncate(64 << 20)  # sparse: the rule reads the size only
    assert state_partitions(spark, str(tmp_path), "small") == "8"
    assert state_partitions(spark, str(tmp_path), "missing") == "8"
    assert state_partitions(spark, str(tmp_path), "big") == str(
        spark.sparkContext.defaultParallelism
    )


def test_nanos_events_read_exactly_and_leave_no_conf(spark, tmp_path):
    """Events written as TIMESTAMP(NANOS), the format of earlier testdata
    rounds: the batch and stream readers give exact µs, the stream drains
    every row after the reader's scoped conf is gone, and nothing leaks."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_marketeye_airflow_spark.sources.tables import (
        load_events,
        load_events_stream,
    )
    from etl_marketeye_airflow_spark.streaming.ingest import drain_available_now

    n = 100
    ts_ns = [1_700_000_000_000_000_000 + i * 1_000_123_456 for i in range(n)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": ["click"] * n,
            "value": [float(i) for i in range(n)],
            "props": ["{}"] * n,
        }),
        tmp_path / "events.parquet",
    )
    sf = str(tmp_path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert key not in spark.conf.getAll

    got = sorted(r.ts_us for r in load_events(spark, sf).select("ts_us").collect())
    assert got == [t // 1000 for t in ts_ns]

    name = f"nanos_stream_{uuid.uuid4().hex[:8]}"
    q = (
        load_events_stream(spark, sf)
        .select("event_id", "ts_us")
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    rows = spark.table(name).collect()
    assert sorted(r.ts_us for r in rows) == [t // 1000 for t in ts_ns]
    assert key not in spark.conf.getAll
