"""Regression lock for the round-2 incident: the testdata generator
switched events.ts from timestamp[ns] to timestamp[us] (NTZ) between
rounds and broke 10 queries + the bench. load_table and
read_events_stream must yield IDENTICAL UTC-instant TIMESTAMP values
for every physical encoding the generator could plausibly emit:

  - timestamp[us] no-tz  -> Spark TIMESTAMP_NTZ   (round 2+ data)
  - timestamp[ns] no-tz  -> int64 via nanosAsLong  (round 1 data)
  - int64 ns-since-epoch -> plain bigint
  - timestamp[us] UTC    -> Spark TIMESTAMP (already an instant)
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.streaming.stream_events import read_events_stream

from tests.conftest import count_jobs

# Epoch-microsecond instants (UTC), incl. a sub-millisecond component
# so µs precision loss would be caught.
TS_US = [1704067798778549, 1704068166738090, 1735689600000001]
BASE = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["click", "purchase", "click"],
    "value": [1.5, 2.5, 3.5],
    "props": ['{"k":1}', '{"k":2}', '{"k":3}'],
}

VARIANTS = {
    "us_ntz": pa.array(TS_US, type=pa.timestamp("us")),
    "ns_ntz": pa.array([t * 1000 for t in TS_US], type=pa.timestamp("ns")),
    "int64_ns": pa.array([t * 1000 for t in TS_US], type=pa.int64()),
    "us_utc": pa.array(TS_US, type=pa.timestamp("us", tz="UTC")),
}


def _write_variant(tmp_path, name: str) -> str:
    sf_dir = tmp_path / name
    os.makedirs(sf_dir, exist_ok=True)
    cols = dict(BASE)
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], type=pa.int64()),
            "ts": VARIANTS[name],
            "user_id": pa.array(cols["user_id"], type=pa.int64()),
            "event_type": pa.array(cols["event_type"]),
            "value": pa.array(cols["value"], type=pa.float64()),
            "props": pa.array(cols["props"]),
        }
    )
    pq.write_table(table, str(sf_dir / "events.parquet"))
    return str(sf_dir)


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, variant):
    """Twice per variant: the first load infers the schema, the second
    is served from the catalog's schema cache and runs no Spark job."""
    sf_dir = _write_variant(tmp_path, variant)
    for attempt in ("miss", "hit"):
        df, jobs = count_jobs(spark, lambda: load_table(spark, sf_dir, "events"))
        if attempt == "hit":
            assert jobs == 0, f"{variant}: warm load ran {jobs} jobs"
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"{variant} ({attempt}): expected TIMESTAMP, got {dict(df.dtypes)['ts']}"
        )
        got = [
            r["us"]
            for r in df.selectExpr("unix_micros(ts) AS us")
            .orderBy("us")
            .collect()
        ]
        assert got == sorted(TS_US), f"{variant} ({attempt}): instants differ: {got}"


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_stream_schema_normalized_every_ts_encoding(spark, tmp_path, variant):
    sf_dir = _write_variant(tmp_path, variant)
    for attempt in ("miss", "hit"):
        stream = read_events_stream(spark, sf_dir)
        assert stream.isStreaming
        assert dict(stream.dtypes)["ts"] == "timestamp", (
            f"{variant} ({attempt}): stream ts dtype {dict(stream.dtypes)['ts']}"
        )


def test_stream_values_match_batch_for_legacy_ns(spark, tmp_path):
    """Full drain of the ns-encoded variant through the streaming
    engine — the encoding that silently broke in round 2's flip."""
    import tempfile
    import uuid

    sf_dir = _write_variant(tmp_path, "ns_ntz")
    stream = read_events_stream(spark, sf_dir).selectExpr(
        "unix_micros(ts) AS us"
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="apspark_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["us"] for r in spark.table(name).collect())
    assert got == sorted(TS_US)
