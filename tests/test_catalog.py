"""Catalog contracts: the dual encoding of event time
(catalog.normalize_event_time) and the bit-exact values of
catalog.local_frame.

The driver's `events.ts` has shipped as parquet TIMESTAMP(NANOS) in
one testdata generation and as timestamp[us] (with and without a UTC
zone annotation) in another. These tests write all three physical
encodings of the SAME instants and assert the canonical (ts_ns, ts)
pair is identical — including under a non-UTC caller session, which
the NTZ branch must not let shift the clock.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ai_data_pipeline_spark.catalog import local_frame, normalize_event_time

# whole-µs instants: representable exactly in every encoding under test
_INSTANTS_US = [
    1704103200_000000,  # 2024-01-01T10:00:00Z
    1704103200_123456,
    1735689599_999999,  # 2024-12-31T23:59:59.999999Z
]


def _write(tmp_path, name: str, arrow_type) -> str:
    unit = arrow_type.unit
    scale = {"us": 1, "ns": 1000}[unit]
    arr = pa.array([v * scale for v in _INSTANTS_US], type=arrow_type)
    tbl = pa.table({"event_id": pa.array(range(len(_INSTANTS_US)), pa.int64()), "ts": arr})
    path = str(tmp_path / name)
    pq.write_table(tbl, path)
    return path


@pytest.fixture()
def encoded_paths(tmp_path):
    return {
        "nanos": _write(tmp_path, "nanos.parquet", pa.timestamp("ns")),
        "us_utc": _write(tmp_path, "us_utc.parquet", pa.timestamp("us", tz="UTC")),
        "us_ntz": _write(tmp_path, "us_ntz.parquet", pa.timestamp("us")),
    }


def _canonical(spark, path):
    # mirror load_table's runtime confs for the NANOS encoding (no-op
    # for µs files)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = normalize_event_time(spark.read.parquet(path))
    return {
        r["event_id"]: (r["ts_ns"], r["ts"].replace(tzinfo=None))
        for r in out.select("event_id", "ts_ns", "ts").collect()
    }


def test_all_encodings_yield_identical_canonical_pair(spark, encoded_paths):
    got = {k: _canonical(spark, p) for k, p in encoded_paths.items()}
    assert got["nanos"] == got["us_utc"] == got["us_ntz"]
    for eid, us in enumerate(_INSTANTS_US):
        assert got["nanos"][eid][0] == us * 1000  # exact ns-epoch


def test_ntz_branch_enforces_utc_under_non_utc_session(spark, encoded_paths):
    """A caller on a skewed session zone must still get UTC-correct
    ts_ns — normalize_event_time sets the session zone itself rather
    than trusting load_table to have run first."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        out = normalize_event_time(spark.read.parquet(encoded_paths["us_ntz"]))
        ns = {r["event_id"]: r["ts_ns"] for r in out.select("event_id", "ts_ns").collect()}
        assert ns == {eid: us * 1000 for eid, us in enumerate(_INSTANTS_US)}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_local_frame_values_round_trip_bit_exact(spark):
    """Inlined doubles and longs come back with the same bits, extremes,
    signed zero and non-finite values included; strings (bound as
    parameters) keep their quotes and backslashes; NULL stays NULL."""
    import math
    import struct

    doubles = [0.1, -0.0, 0.0, 5e-324, -2.2250738585072014e-308, 1.7976931348623157e308,
               1e-05, 1e16, -123456.789e-200, 2.0 / 3.0, float("inf"), float("-inf"), float("nan")]
    longs = [0, -1, 2**31, -(2**63), 2**63 - 1]
    strings = ["it's", "a\\b", "", "ünï"]
    n = max(len(doubles), len(longs), len(strings))
    rows = [
        (i, doubles[i % len(doubles)], longs[i % len(longs)], strings[i % len(strings)],
         doubles[: i % 4] + [None] if i % 5 else [])
        for i in range(n)
    ] + [(n, None, None, None, None)]
    cols = [("i", "BIGINT"), ("d", "DOUBLE"), ("l", "BIGINT"), ("s", "STRING"), ("a", "ARRAY<DOUBLE>")]
    got = sorted(tuple(r) for r in local_frame(spark, cols, rows).collect())

    def bits(x):
        return None if x is None else struct.pack(">d", x) if not math.isnan(x) else "nan"

    def key(r):
        return (r[0], bits(r[1]), r[2], r[3], None if r[4] is None else [bits(x) for x in r[4]])

    assert [key(r) for r in got] == [key(r) for r in rows]
