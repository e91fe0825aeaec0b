"""Tests for pipeline operators: incremental maintenance (A14/P8),
archive write/scan with pruning (S5/S6), compaction (§4), synthetic
generation (S12), percentiles (A12), and the optional Avro gate (S3)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from datapipe_spark.operators import maintenance
from datapipe_spark.plans import events_queries as ev
from datapipe_spark.plans import incremental as inc
from datapipe_spark.plans import marts
from datapipe_spark.sources import avro_codec, datagen
from datapipe_spark.sources.cdc import synth_changelog, write_archive
from datapipe_spark.util import fresh_dir


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_incremental_equals_full_recompute(spark, sf_dir):
    got = inc.incremental_daily_metrics(spark, sf_dir)
    full = marts.daily_business_metrics(spark, sf_dir)
    assert _rows(got) == _rows(full)


def test_incremental_is_idempotent_per_chunk(spark, sf_dir):
    """Re-applying the same increment must not change the table
    (dynamic partition overwrite replaces, never appends)."""
    base = fresh_dir("test_incr_idem")
    o = marts._orders_base(spark, sf_dir)
    inc.apply_increment(spark, o, base)
    first = _rows(spark.read.parquet(inc._table_path(base)))
    inc.apply_increment(spark, o, base)
    assert _rows(spark.read.parquet(inc._table_path(base))) == first


def test_incremental_refuses_mixed_partition_grain(spark, sf_dir):
    """Dynamic partition overwrite replaces only same-VALUED
    partitions, so applying an increment at a different unit than the
    table's existing grain would silently duplicate every re-derived
    date (order_part=2024 coexisting with order_part=2024-03). The
    guard must refuse instead."""
    import pytest

    base = fresh_dir("test_incr_grain")
    o = marts._orders_base(spark, sf_dir)
    inc.apply_increment(spark, o, base, unit="year")
    with pytest.raises(ValueError, match="grain mismatch"):
        inc.apply_increment(spark, o, base, unit="month")
    # same unit still fine (idempotent re-apply)
    inc.apply_increment(spark, o, base, unit="year")


def test_incremental_rejects_unknown_partition_unit(spark, sf_dir):
    """An unsupported unit must fail with a descriptive ValueError at
    the top of apply_increment/partition_start, not a bare KeyError
    from the partition-regex table mid-guard."""
    import datetime

    import pytest

    base = fresh_dir("test_incr_unit")
    o = marts._orders_base(spark, sf_dir)
    with pytest.raises(ValueError, match="unsupported partition unit"):
        inc.apply_increment(spark, o, base, unit="day")
    with pytest.raises(ValueError, match="unsupported partition unit"):
        inc.partition_start(datetime.date(2024, 3, 15), unit="day")


def test_archive_hour_granularity_layout_and_pruning(spark, sf_dir):
    """S5 hour-level hive layout on a bounded slice + S6: partition
    predicates must prune at plan level, not post-scan."""
    cl = synth_changelog(spark, sf_dir)
    first_month = cl.select(
        F.min(F.date_trunc("month", "__source_ts_ms"))
    ).first()[0]
    bounded = cl.filter(F.date_trunc("month", "__source_ts_ms") == F.lit(first_month))
    path = fresh_dir("test_archive_hourly")
    write_archive(bounded, path, granularity="hour")
    # hive layout present
    years = [d for d in os.listdir(path) if d.startswith("year=")]
    assert years
    some_year = os.path.join(path, years[0])
    months = [d for d in os.listdir(some_year) if d.startswith("month=")]
    assert months
    assert any(
        d.startswith("hour=")
        for d in os.listdir(
            os.path.join(
                some_year, months[0],
                os.listdir(os.path.join(some_year, months[0]))[0],
            )
        )
    )
    archived = spark.read.parquet(path)
    pruned = archived.filter(
        (F.col("day") == bounded.select(F.min(F.dayofmonth("__source_ts_ms"))).first()[0])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    # round-trip count parity
    assert archived.count() == bounded.count()


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir):
    path = fresh_dir("test_compact")
    df = spark.range(10_000).withColumn("k", F.col("id") % 7)
    df.repartition(64).write.mode("overwrite").parquet(path)
    before_files = maintenance.parquet_file_count(path)
    before_rows = _rows(spark.read.parquet(path))
    after_files = maintenance.compact_parquet(spark, path)
    assert after_files < before_files
    assert after_files == 1  # tiny table → single target file
    assert _rows(spark.read.parquet(path)) == before_rows


def test_compact_partitioned_table_keeps_layout(spark, sf_dir):
    path = fresh_dir("test_compact_part")
    df = spark.range(5_000).withColumn("part", (F.col("id") % 3).cast("int"))
    df.repartition(16).write.mode("overwrite").partitionBy("part").parquet(path)
    before_rows = _rows(spark.read.parquet(path))
    maintenance.compact_parquet(spark, path, partition_cols=["part"])
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == [
        "part=0", "part=1", "part=2",
    ]
    assert _rows(spark.read.parquet(path)) == before_rows


def test_cluster_parquet_disjoint_ranges_and_pruning(spark, sf_dir):
    """Range-cluster rewrite: content preserved, per-file shipdate
    ranges (near-)disjoint, and a narrow range predicate now
    intersects a small fraction of file footers — the data-skipping
    win an unclustered layout cannot give (there every file spans the
    whole key range)."""
    path = fresh_dir("test_cluster")
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    # shuffled write = worst-case layout: every file spans the key range
    src.repartition(8).write.mode("overwrite").parquet(path)
    lo, hi = src.select(F.min("l_shipdate"), F.max("l_shipdate")).first()
    span_days = (hi - lo).days

    def covering(ranges, a, b):
        return [r for r in ranges if not (r[2] < a or r[1] > b)]

    pred_lo, pred_hi = lo, lo + datetime.timedelta(days=max(1, span_days // 20))
    before = maintenance.file_column_ranges(path, "l_shipdate")
    assert len(covering(before, pred_lo, pred_hi)) == len(before)  # no skipping
    before_rows = _rows(spark.read.parquet(path))

    n_files = maintenance.cluster_parquet(
        spark, path, ["l_shipdate"], target_bytes=16 * 1024
    )
    after = maintenance.file_column_ranges(path, "l_shipdate")
    assert len(after) == n_files and n_files >= 4
    assert _rows(spark.read.parquet(path)) == before_rows
    # files ordered by min: each file's range must not reach past the
    # next file's min (equal boundary keys may share two files)
    ordered = sorted(after, key=lambda r: (r[1], r[2]))
    for (_, _, amax), (_, bmin, _) in zip(ordered, ordered[1:]):
        assert amax <= bmin
    # the 5%-of-keyspace predicate touches a minority of footers now
    touched = covering(after, pred_lo, pred_hi)
    assert len(touched) < len(after) / 2
    # and the filtered read over the clustered table is still correct
    got = (
        spark.read.parquet(path)
        .filter((F.col("l_shipdate") >= pred_lo) & (F.col("l_shipdate") <= pred_hi))
        .count()
    )
    want = src.filter(
        (F.col("l_shipdate") >= pred_lo) & (F.col("l_shipdate") <= pred_hi)
    ).count()
    assert got == want


def test_lineitem_cluster_rewrite_matches_oracle(spark, sf_dir):
    """The registry form of the cluster rewrite: hash parity with the
    original-table oracle proves content preservation end to end."""
    from datapipe_spark.plans import layout
    from tests.oracle import compare_to_oracle

    compare_to_oracle(
        spark,
        layout.lineitem_cluster_rewrite,
        layout.LINEITEM_CLUSTER_REWRITE_SQL,
        sf_dir,
    )


def test_zorder_parquet_prunes_on_both_columns(spark, sf_dir):
    """Z-order on (l_partkey, l_suppkey): a range predicate on EITHER
    column must skip files (single-column clustering can only serve
    one), and a compound box predicate prunes hardest. Content must be
    preserved."""
    path = fresh_dir("test_zorder")
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    src.repartition(8).write.mode("overwrite").parquet(path)
    before_rows = _rows(spark.read.parquet(path))

    def touched(col, lo, hi):
        rng = maintenance.file_column_ranges(path, col)
        return len([r for r in rng if not (r[2] < lo or r[1] > hi)]), len(rng)

    pmax = src.select(F.max("l_partkey")).first()[0]
    smax = src.select(F.max("l_suppkey")).first()[0]
    # worst-case shuffled layout: a 10% range on either column touches
    # every file footer
    assert touched("l_partkey", 0, pmax // 10)[0] == 8
    assert touched("l_suppkey", 0, smax // 10)[0] == 8

    n_files = maintenance.zorder_parquet(
        spark, path, ["l_partkey", "l_suppkey"], target_bytes=6 * 1024
    )
    assert n_files >= 6
    assert _rows(spark.read.parquet(path)) == before_rows
    pt, total = touched("l_partkey", 0, pmax // 10)
    st, _ = touched("l_suppkey", 0, smax // 10)
    assert pt < total * 0.7 and st < total * 0.7
    # compound box predicate: multiplicative pruning
    box = [
        r
        for r in maintenance.file_column_ranges(path, "l_partkey")
        if not (r[2] < 0 or r[1] > pmax // 10)
    ]
    sup = {
        r[0]
        for r in maintenance.file_column_ranges(path, "l_suppkey")
        if not (r[2] < 0 or r[1] > smax // 10)
    }
    both = [r for r in box if r[0] in sup]
    assert len(both) <= min(pt, st)
    assert len(both) < total * 0.5
    # filtered read correctness over the rewritten table
    got = (
        spark.read.parquet(path)
        .filter((F.col("l_partkey") <= pmax // 10) & (F.col("l_suppkey") <= smax // 10))
        .count()
    )
    want = src.filter(
        (F.col("l_partkey") <= pmax // 10) & (F.col("l_suppkey") <= smax // 10)
    ).count()
    assert got == want


def test_synthetic_orders_deterministic_and_valid(spark, sf_dir):
    a = datagen.synthetic_orders(spark, sf_dir)
    b = datagen.synthetic_orders(spark, sf_dir)
    assert _rows(a) == _rows(b)
    assert a.count() == datagen.N_ROWS
    bad = a.filter(
        ~F.col("status").isin(*datagen._STATUSES)
        | (F.col("total_amount") < 10.0)
        | (F.col("total_amount") > 1000.0)
        | ~F.col("email").rlike(r"^user_\d+@example\.com$")
    )
    assert bad.count() == 0


def test_approx_funnel_tracks_exact(spark, sf_dir):
    """A6: HLL estimate within documented rel. error of the exact twin."""
    exact = {r["event_date"]: r["unique_users"] for r in ev.funnel_daily(spark, sf_dir).collect()}
    approx = {
        r["event_date"]: r["approx_unique_users"]
        for r in ev.funnel_daily_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for d, n in exact.items():
        assert abs(approx[d] - n) / max(n, 1) < 0.1


def test_avro_gate(spark):
    """S3 is feature-gated: absent jar → clean probe, no crash."""
    ok = avro_codec.avro_available(spark)
    if not ok:
        pytest.skip("spark-avro jar not bundled in this environment")
    import pyspark.sql.functions as SF

    df = spark.range(5).select(SF.struct("id").alias("s"))
    assert df.select(avro_codec.encode(F.col("s"))).count() == 5


def test_avro_py_roundtrip_matches_oracle(spark, sf_dir):
    """S3 runtime path (jarless fallback): Confluent-framed Avro
    encode → decode must be the identity — checked value-for-value
    against the DuckDB identity projection."""
    from datapipe_spark.sources import avro_py
    from tests.oracle import compare_to_oracle

    compare_to_oracle(spark, avro_py.avro_roundtrip, avro_py.AVRO_ROUNDTRIP_SQL, sf_dir)


def test_avro_py_wire_framing_and_primitives():
    """Byte-level spec checks: magic byte, big-endian schema id,
    zigzag varints, null-union branches, IEEE doubles, utf-8 strings."""
    from datapipe_spark.sources.avro_py import (
        decode_record,
        encode_record,
    )

    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "a", "type": ["null", "long"], "default": None},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "double"], "default": None},
            {"name": "d", "type": "boolean"},
            {"name": "e", "type": ["null", "bytes"], "default": None},
        ],
    }
    rec = {"a": -1234567890123, "b": "héllo", "c": 2.5, "d": True, "e": b"\x00\xff"}
    msg = encode_record(rec, schema, schema_id=7)
    assert msg[0] == 0  # Confluent magic
    assert msg[1:5] == (7).to_bytes(4, "big")
    sid, back = decode_record(msg, schema)
    assert sid == 7 and back == rec
    # null branches round-trip
    rec2 = {"a": None, "b": "", "c": None, "d": False, "e": None}
    assert decode_record(encode_record(rec2, schema, 1), schema)[1] == rec2
    # zigzag edge: small negatives are 1 byte
    small = {"a": -1, "b": "", "c": None, "d": False, "e": None}
    body = encode_record(small, schema, 1)[5:]
    assert body[0:2] == bytes([2, 1])  # union branch 1, zigzag(-1)=1


def test_avro_py_logical_types_roundtrip(spark):
    """Date/timestamp columns must survive encode→decode as logical
    values (Avro date / timestamp-micros annotations), not raw ints —
    and the emitted schema must carry the logicalType so external
    readers can restore them too."""
    import datetime

    from datapipe_spark.sources.avro_py import (
        decode_records,
        encode_records,
        schema_for,
    )

    df = spark.createDataFrame(
        [
            (1, datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 12, 30, 45, 123456)),
            (2, None, None),
        ],
        "id long, d date, ts timestamp",
    )
    schema = schema_for(df, name="L")
    lts = {f["name"]: f["type"][1] for f in schema["fields"] if f["name"] != "id"}
    assert lts["d"]["logicalType"] == "date"
    assert lts["ts"]["logicalType"] == "timestamp-micros"
    out = {r["id"]: r for r in decode_records(encode_records(df, schema), schema).collect()}
    assert out[1]["d"] == datetime.date(2024, 2, 29)
    assert out[1]["ts"] == datetime.datetime(2024, 2, 29, 12, 30, 45, 123456)
    assert out[2]["d"] is None and out[2]["ts"] is None


def test_avro_py_union_branch_by_runtime_type():
    """Multi-branch unions must pick the branch matching the value's
    runtime type (a blind first-non-null choice corrupts bytes)."""
    import pytest as _pytest

    from datapipe_spark.sources.avro_py import decode_record, encode_record

    schema = {
        "type": "record",
        "name": "U3",
        "fields": [{"name": "x", "type": ["null", "long", "string"]}],
    }
    for v in (5, "five", None):
        assert decode_record(encode_record({"x": v}, schema, 1), schema)[1] == {"x": v}
    with _pytest.raises(ValueError, match="no union branch"):
        encode_record({"x": 1.5}, schema, 1)


def test_avro_py_backward_evolution(spark):
    """BACKWARD rule: bytes written with the OLD schema must decode
    under a reader that added a nullable/defaulted field (filled with
    the default), matching the registry compatibility the reference
    enforces (users-debezium-connector.json:19-25)."""
    from datapipe_spark.sources.avro_py import (
        decode_records,
        encode_records,
        schema_for,
    )

    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    w_schema = schema_for(old, name="U")
    encoded = encode_records(old, w_schema, schema_id=3)
    r_schema = {
        "type": "record",
        "name": "U",
        "fields": w_schema["fields"]
        + [{"name": "email", "type": ["null", "string"], "default": None}],
    }
    out = decode_records(encoded, w_schema, reader_schema=r_schema)
    rows = {(r["id"], r["name"], r["email"]) for r in out.collect()}
    assert rows == {(1, "a", None), (2, "b", None)}


def test_schema_evolution_merge(spark):
    """BACKWARD-compat evolution: later generation adds a nullable
    column; merged read exposes union schema with nulls for old rows
    (reference task9-validate-cdc.sh:296-320 semantics)."""
    p1, p2 = fresh_dir("test_evo_a"), fresh_dir("test_evo_b")
    spark.range(3).select("id").write.mode("overwrite").parquet(p1)
    spark.range(3).select(
        "id", F.lit("x").alias("new_col")
    ).write.mode("overwrite").parquet(p2)
    merged = avro_codec.schema_evolution_merge(spark, p1, p2)
    assert set(merged.columns) == {"id", "new_col"}
    assert merged.filter(F.col("new_col").isNull()).count() == 3


def test_salted_join_equals_plain_join(spark):
    from datapipe_spark.operators.skew import salted_join

    # hot key 1 owns 80% of the large side
    large = spark.range(5_000).select(
        F.when(F.col("id") % 5 != 0, 1).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    got = salted_join(large, small, "k")
    plain = large.join(small, "k")
    assert sorted(map(repr, got.collect())) == sorted(map(repr, plain.collect()))
    # left rows with unmatched keys under "left" semantics too
    got_l = salted_join(large, small.filter(F.col("k") < 50), "k", how="left")
    plain_l = large.join(small.filter(F.col("k") < 50), "k", "left")
    assert sorted(map(repr, got_l.collect())) == sorted(map(repr, plain_l.collect()))


def test_lineage_injection(spark, sf_dir):
    from datapipe_spark.functions import with_lineage
    from datapipe_spark.sources.tables import load_table

    df = with_lineage(load_table(spark, sf_dir, "orders"))
    assert {"loaded_at", "batch_id", "file_name"} <= set(df.columns)
    stats = df.agg(
        F.countDistinct("batch_id").alias("b"),
        F.count(F.when(F.col("loaded_at").isNull(), 1)).alias("null_loaded"),
        F.count(F.when(F.col("file_name") == "", 1)).alias("empty_files"),
    ).first()
    assert stats["b"] == 1  # one batch id per ingest batch, not per row
    assert stats["null_loaded"] == 0 and stats["empty_files"] == 0


def test_project_tolerant(spark, sf_dir):
    from datapipe_spark.functions import project_tolerant
    from datapipe_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "orders")
    out = project_tolerant(df, ["o_orderkey", "no_such_col", "o_orderstatus"])
    assert out.columns == ["o_orderkey", "o_orderstatus"]
    assert project_tolerant(df, ["nope"]).columns == df.columns


def test_snapshot_commit_time_travel_history_expire(spark):
    """S8 semantics on plain parquet: atomic commits, time travel,
    history, retention (reference .devcontainer/test_spark.py:75-143)."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots")
    v1 = snap.commit_snapshot(spark.range(5).selectExpr("id", "id * 2 AS x"), table)
    v2 = snap.commit_snapshot(
        spark.range(5, 8).selectExpr("id", "id * 2 AS x"), table, mode="append"
    )
    v3 = snap.commit_snapshot(spark.range(2).selectExpr("id", "id * 3 AS x"), table)
    assert (v1, v2, v3) == (1, 2, 3)
    # latest = full overwrite of v3
    assert snap.read_snapshot(spark, table).count() == 2
    # time travel: v2 = v1 rows + appended rows
    assert snap.read_snapshot(spark, table, version=2).count() == 8
    assert snap.read_snapshot(spark, table, version=1).count() == 5
    hist = snap.history(table)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[1]["parent"] == 1 and hist[1]["mode"] == "append"
    # retention keeps newest 2 and the pointer target
    dropped = snap.expire_snapshots(table, keep=2)
    assert dropped == [1]
    assert snap.read_snapshot(spark, table).count() == 2  # pointer intact
    assert [h["version"] for h in snap.history(table)] == [2, 3]
    # reachability-aware expiry: v2's manifest SHARES v1's files
    # (append staged only the increment), so expiring v1 removes it
    # from history but must leave every file v2 references readable
    assert snap.read_snapshot(spark, table, version=2).count() == 8


def test_snapshot_partitioned_append_and_partition_filter(spark):
    """The reference's last uncovered Iceberg integration check
    (.devcontainer/test_spark.py:104-126): append to a (date, hour)-
    partitioned events table, then a partition-predicate count must
    return exactly the matching rows AND prune partitions at the scan
    (Iceberg does it from table metadata; the stand-in from the hive
    layout — both surface as PartitionFilters)."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_part")
    base = spark.createDataFrame(
        [
            ("evt_001", "user_001", "page_view", "2024-01-01", 10),
            ("evt_002", "user_001", "click", "2024-01-01", 10),
            ("evt_003", "user_002", "purchase", "2024-01-01", 11),
            ("evt_004", "user_002", "page_view", "2024-01-01", 12),
        ],
        "event_id string, user_id string, event_type string, event_date string, hour int",
    )
    v1 = snap.commit_snapshot(base, table, partition_by=("event_date", "hour"))
    appended = spark.createDataFrame(
        [("evt_005", "user_003", "search", "2024-01-02", 9)],
        "event_id string, user_id string, event_type string, event_date string, hour int",
    )
    v2 = snap.commit_snapshot(
        appended, table, mode="append", partition_by=("event_date", "hour")
    )
    assert (v1, v2) == (1, 2)
    latest = snap.read_snapshot(spark, table)
    assert latest.count() == 5
    # pinned commit schema: partition type inference must NOT coerce
    # the string date to DATE or reorder columns across the round-trip
    assert latest.dtypes == base.dtypes
    assert snap.read_snapshot(spark, table, version=1).dtypes == base.dtypes
    filtered = latest.filter(
        (F.col("event_date") == "2024-01-01") & (F.col("hour") == 10)
    )
    assert {r["event_id"] for r in filtered.collect()} == {"evt_001", "evt_002"}
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2 and seg[1].splitlines()[0].rstrip("]").strip(), plan
    # time travel still sees the pre-append partition set
    assert snap.read_snapshot(spark, table, version=1).count() == 4


def test_snapshot_files_and_partitions_metadata_tables(spark):
    """r11 verdict ask #3 — the ``.files`` / ``.partitions`` metadata
    tables the reference exercises (.devcontainer/test_spark.py:95-117)
    on the stand-in: per-file rows carry the hive partition tuple, the
    footer row count, and real byte sizes; the partition rollup's
    record counts must reconcile exactly with the data read, and time
    travel lists the OLD snapshot's files."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_meta")
    base = spark.createDataFrame(
        [
            ("evt_001", "2024-01-01"),
            ("evt_002", "2024-01-01"),
            ("evt_003", "2024-01-02"),
        ],
        "event_id string, event_date string",
    ).repartition("event_date")
    snap.commit_snapshot(base, table, partition_by=("event_date",))
    snap.commit_snapshot(
        spark.createDataFrame(
            [("evt_004", "2024-01-03")], "event_id string, event_date string"
        ),
        table,
        mode="append",
        partition_by=("event_date",),
    )

    files = snap.snapshot_files(spark, table).collect()
    assert all(r["file_path"].endswith(".parquet") for r in files)
    assert all(r["file_size_in_bytes"] > 0 for r in files)
    # every file's partition tuple comes from its own hive path;
    # paths are TABLE-relative (vNNNNN/event_date=...) because append
    # manifests legitimately reference ancestor version dirs
    assert all(
        r["partition"].startswith("event_date=")
        and f"/{r['partition']}/" in f"/{r['file_path']}"
        and r["file_path"].split("/", 1)[0].startswith("v000")
        for r in files
    )
    assert sum(r["record_count"] for r in files) == 4
    # O(increment) append attested structurally: the latest manifest
    # spans BOTH version dirs — v1's dates stay physically in v00001
    # (shared, not rewritten), only 2024-01-03 was staged into v00002
    roots = {r["file_path"].split("/", 1)[0] for r in files}
    assert roots == {"v00001", "v00002"}
    assert all(
        r["file_path"].startswith("v00002/")
        == (r["partition"] == "event_date=2024-01-03")
        for r in files
    )

    parts = {
        r["partition"]: (r["record_count"], r["file_count"])
        for r in snap.snapshot_partitions(spark, table).collect()
    }
    assert parts.keys() == {
        "event_date=2024-01-01", "event_date=2024-01-02",
        "event_date=2024-01-03",
    }
    assert parts["event_date=2024-01-01"][0] == 2
    # record counts reconcile with the partition-filtered data read
    latest = snap.read_snapshot(spark, table)
    for part, (n, _fc) in parts.items():
        d = part.split("=", 1)[1]
        assert latest.filter(F.col("event_date") == d).count() == n
    # time travel: v1's listing has no 2024-01-03 partition
    v1_parts = {
        r["partition"]
        for r in snap.snapshot_partitions(spark, table, version=1).collect()
    }
    assert v1_parts == {"event_date=2024-01-01", "event_date=2024-01-02"}


def test_snapshot_phantom_commit_invisible_and_healed(spark, monkeypatch):
    """r12 verdict nit #1 / ask #3 — the pointer swap IS the commit.
    Kill a writer between its metadata write and the ``_LATEST`` swap
    (the crash window the old code exposed): the phantom version's
    staged data and metadata exist on disk, but history() must not
    attest it, readers must refuse to time-travel to it, expiry must
    not count it against ``keep``, and the next commit must reuse the
    version number and overwrite the debris (mirrors the SCD2 journal
    crash tests)."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_phantom")
    snap.commit_snapshot(spark.range(5).selectExpr("id", "id * 2 AS x"), table)

    def boom(table_dir, version):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(snap, "_swap_pointer", boom)
    with pytest.raises(OSError):
        snap.commit_snapshot(
            spark.range(5, 9).selectExpr("id", "id * 2 AS x"),
            table, mode="append",
        )
    monkeypatch.undo()

    # phantom debris is on disk...
    assert os.path.isdir(os.path.join(table, "v00002"))
    assert os.path.exists(os.path.join(table, "_meta", "v00002.json"))
    # ...but invisible everywhere a reader looks
    assert snap.current_version(table) == 1
    assert [h["version"] for h in snap.history(table)] == [1]
    assert snap.read_snapshot(spark, table).count() == 5
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, table, version=2)
    with pytest.raises(FileNotFoundError):
        snap.snapshot_files(spark, table, version=2)
    # expiry counts committed versions only — the phantom must not
    # push v1 (the sole real snapshot AND pointer target) out of keep
    assert snap.expire_snapshots(table, keep=1) == []
    assert snap.read_snapshot(spark, table).count() == 5

    # the retried writer reuses version 2 and overwrites the debris
    v2 = snap.commit_snapshot(
        spark.range(5, 8).selectExpr("id", "id * 2 AS x"), table, mode="append"
    )
    assert v2 == 2
    assert snap.read_snapshot(spark, table).count() == 8
    assert [
        (h["version"], h["row_count"]) for h in snap.history(table)
    ] == [(1, 5), (2, 8)]


def test_snapshot_append_schema_evolution_and_type_refusal(spark):
    """Iceberg add-column semantics on the manifest append: an
    appended increment may ADD columns (ancestor files read them back
    as NULL under the evolved pinned schema) or OMIT columns (its own
    files read back NULL), but a same-named column changing type is
    refused BEFORE anything is staged — and time travel still returns
    each old version under the schema pinned at ITS commit."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_evolve")
    snap.commit_snapshot(
        spark.range(3).selectExpr("id", "id * 2 AS x"), table
    )
    snap.commit_snapshot(
        spark.range(3, 5).selectExpr("id", "id * 2 AS x", "'new' AS y"),
        table, mode="append",
    )
    latest = snap.read_snapshot(spark, table)
    assert latest.columns == ["id", "x", "y"]
    rows = {r["id"]: r["y"] for r in latest.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "new", 4: "new"}
    # v1 time travel keeps its original two-column schema
    assert snap.read_snapshot(spark, table, version=1).columns == ["id", "x"]

    # an increment omitting x: x survives in the schema, NULL for the
    # new rows
    snap.commit_snapshot(
        spark.range(5, 6).selectExpr("id", "'tail' AS y"), table, mode="append"
    )
    v3 = snap.read_snapshot(spark, table)
    assert v3.columns == ["id", "x", "y"]
    assert v3.filter("id = 5").collect()[0]["x"] is None
    assert v3.count() == 6

    # a type flip is refused with no phantom debris and no new version
    with pytest.raises(ValueError, match="changes type of column 'x'"):
        snap.commit_snapshot(
            spark.range(6, 7).selectExpr("id", "'oops' AS x"),
            table, mode="append",
        )
    assert snap.current_version(table) == 3
    assert not os.path.isdir(os.path.join(table, "v00004"))
    assert snap.read_snapshot(spark, table).count() == 6


def test_snapshot_commit_serialized_by_writer_lease(spark):
    """Lost-update guard: an append stages against its parent's
    manifest, so committers must serialize — a second writer finding
    a live lease fails fast (StoreLockedError), exactly the SCD2
    store posture, instead of silently dropping the other committer's
    rows at the pointer swap."""
    from concurrent.futures import ThreadPoolExecutor

    from datapipe_spark.operators import lease, snapshots as snap

    table = fresh_dir("test_snapshots_lease")
    snap.commit_snapshot(spark.range(4).selectExpr("id"), table)
    # hold the lease from ANOTHER thread — the lease is reentrant
    # within its owning thread, so a same-thread hold would not
    # exercise the second-writer path
    with ThreadPoolExecutor(max_workers=1) as pool:
        token = pool.submit(lease.acquire, table).result()
        try:
            with pytest.raises(lease.StoreLockedError):
                snap.commit_snapshot(
                    spark.range(4, 6).selectExpr("id"), table, mode="append"
                )
        finally:
            pool.submit(lease.release, table, token).result()
    # lease released → the retried commit lands normally
    assert snap.commit_snapshot(
        spark.range(4, 6).selectExpr("id"), table, mode="append"
    ) == 2
    assert snap.read_snapshot(spark, table).count() == 6


def test_remove_orphan_files_reclaims_phantoms_and_spares_inflight(
    spark, monkeypatch
):
    """Iceberg ``remove_orphan_files`` parity: crashed-writer debris
    (a phantom version's data + staged metadata) is reclaimed, but
    only past the ``older_than`` safety valve — a young file may
    belong to an IN-FLIGHT commit that has not swapped its pointer
    yet, so a conservative cutoff must leave everything intact."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_orphans")
    snap.commit_snapshot(spark.range(6).selectExpr("id"), table)
    monkeypatch.setattr(
        snap, "_swap_pointer",
        lambda *_a: (_ for _ in ()).throw(OSError("crash")),
    )
    with pytest.raises(OSError):
        snap.commit_snapshot(
            spark.range(6, 9).selectExpr("id"), table, mode="append"
        )
    monkeypatch.undo()

    # conservative cutoff: the phantom could still be an in-flight
    # writer — nothing may be touched
    assert snap.remove_orphan_files(table, older_than_s=3600) == []
    assert os.path.isdir(os.path.join(table, "v00002"))

    removed = snap.remove_orphan_files(table, older_than_s=0)
    assert any(r.startswith("v00002/") for r in removed)
    assert os.path.join("_meta", "v00002.json") in removed
    assert not os.path.isdir(os.path.join(table, "v00002"))
    # live data untouched; the table still commits and reads
    assert snap.read_snapshot(spark, table).count() == 6
    v2 = snap.commit_snapshot(
        spark.range(6, 9).selectExpr("id"), table, mode="append"
    )
    assert v2 == 2 and snap.read_snapshot(spark, table).count() == 9
    # a clean table has no orphans at any cutoff
    assert snap.remove_orphan_files(table, older_than_s=0) == []


def test_snapshot_commit_fsyncs_pointer_and_meta(spark, monkeypatch):
    """The ``_LATEST`` swap is the snapshot store's commit point, so it
    and the version meta it blesses must be durable across power loss,
    not only process crashes: an append fsyncs both files (and their
    directories) before it returns. A tag write is fsynced the same
    way."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_fsync")
    snap.commit_snapshot(spark.range(3).selectExpr("id"), table)
    synced: list[int] = []
    real_fsync = os.fsync

    def spy(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    v = snap.commit_snapshot(spark.range(3, 5).selectExpr("id"), table, mode="append")
    monkeypatch.undo()
    pointer = os.path.join(table, "_LATEST")
    meta = os.path.join(table, "_meta", f"v{v:05d}.json")
    assert os.stat(pointer).st_ino in synced
    assert os.stat(meta).st_ino in synced
    assert os.stat(table).st_ino in synced  # the rename itself
    assert os.stat(os.path.join(table, "_meta")).st_ino in synced
    assert snap.current_version(table) == v == 2

    synced.clear()
    monkeypatch.setattr(os, "fsync", spy)
    snap.tag_snapshot(table, "gold")
    monkeypatch.undo()
    assert os.stat(os.path.join(table, "_meta", "refs.json")).st_ino in synced
    assert snap.refs(table) == {"gold": 2}


def test_remove_orphan_files_sweeps_pid_suffixed_tmp_debris(spark):
    """An interrupted fsynced atomic write leaves ``<name>.tmp-<pid>``
    behind; the orphan sweep reclaims it like a bare ``.tmp`` while
    committed metas and refs stay."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_tmp_pid")
    snap.commit_snapshot(spark.range(2).selectExpr("id"), table)
    snap.tag_snapshot(table, "keep")
    meta_dir = os.path.join(table, "_meta")
    for name in ("v00002.json.tmp-4242", "refs.json.tmp-7", "v00001.json.tmp"):
        with open(os.path.join(meta_dir, name), "w") as f:
            f.write("{")
    removed = snap.remove_orphan_files(table, older_than_s=0)
    assert sorted(removed) == [
        os.path.join("_meta", n)
        for n in ("refs.json.tmp-7", "v00001.json.tmp", "v00002.json.tmp-4242")
    ]
    assert sorted(os.listdir(meta_dir)) == ["refs.json", "v00001.json"]
    assert snap.refs(table) == {"keep": 1}


def test_snapshot_expire_reclaims_only_unreferenced_files(spark):
    """Reachability-aware retention (r12 verdict ask #2): a chain
    overwrite→append→append→overwrite, expired down to the last two
    versions, must physically delete exactly the files no surviving
    manifest references — v1/v2's shared files stay while they are
    reachable from v3, and a later expiry that drops v3 reclaims
    them."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_reach")
    snap.commit_snapshot(spark.range(4).selectExpr("id"), table)
    snap.commit_snapshot(
        spark.range(4, 6).selectExpr("id"), table, mode="append"
    )
    snap.commit_snapshot(
        spark.range(6, 7).selectExpr("id"), table, mode="append"
    )
    snap.commit_snapshot(spark.range(100, 103).selectExpr("id"), table)

    assert snap.expire_snapshots(table, keep=2) == [1, 2]
    # v3's manifest reaches into v00001 and v00002 — both dirs survive
    assert snap.read_snapshot(spark, table, version=3).count() == 7
    assert snap.read_snapshot(spark, table).count() == 3
    assert os.path.isdir(os.path.join(table, "v00001"))

    # dropping v3 leaves v4 (self-contained overwrite) the only
    # survivor: the shared ancestor files are now unreachable and gone
    assert snap.expire_snapshots(table, keep=1) == [3]
    assert not os.path.isdir(os.path.join(table, "v00001"))
    assert not os.path.isdir(os.path.join(table, "v00002"))
    assert not os.path.isdir(os.path.join(table, "v00003"))
    assert snap.read_snapshot(spark, table).count() == 3
    assert [h["version"] for h in snap.history(table)] == [4]


def test_overwrite_partitions_replaces_only_touched(spark):
    """Dynamic partition overwrite (idempotent backfill): only the
    partitions present in the frame are replaced — untouched ones
    carry the PARENT's physical files by manifest reference (no
    rewrite), the committed row_count stays exact, time travel sees
    the pre-backfill day, and an incremental read refuses to cross
    the replacement."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_pow")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", i * 10) for i in range(9)],
        "id long, event_date string, value long",
    ).repartition("event_date")
    snap.commit_snapshot(base, table, partition_by=("event_date",))

    backfill = spark.createDataFrame(
        [(100, "2024-01-02", 7), (101, "2024-01-02", 8)],
        "id long, event_date string, value long",
    ).repartition("event_date")
    v2 = snap.overwrite_partitions(backfill, table, ("event_date",))
    assert v2 == 2

    latest = snap.read_snapshot(spark, table)
    assert latest.count() == 8  # 3 + 2 + 3
    assert {
        r["id"] for r in latest.filter("event_date = '2024-01-02'").collect()
    } == {100, 101}
    # untouched partitions: physically the PARENT's files
    files = snap.snapshot_files(spark, table).collect()
    by_part = {r["partition"]: r["file_path"] for r in files}
    assert by_part["event_date=2024-01-01"].startswith("v00001/")
    assert by_part["event_date=2024-01-03"].startswith("v00001/")
    assert by_part["event_date=2024-01-02"].startswith("v00002/")
    assert snap.history(table)[-1]["row_count"] == 8
    assert snap.read_snapshot(spark, table, version=1).count() == 9
    with pytest.raises(ValueError, match="non-append version 2"):
        snap.read_incremental(spark, table, 1, 2)
    # partition-column mismatch and unpartitioned calls are refused
    with pytest.raises(ValueError, match="do not match"):
        snap.overwrite_partitions(backfill, table, ("id",))
    with pytest.raises(ValueError, match="requires partition columns"):
        snap.overwrite_partitions(backfill, table, ())
    # idempotent backfill: the same overwrite lands the same content
    snap.overwrite_partitions(backfill, table, ("event_date",))
    assert snap.read_snapshot(spark, table).count() == 8


def _jobs_submitted(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, the number of
    Spark jobs it submitted)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_EV_SCHEMA = "id long, event_date string, value long"


@pytest.mark.parametrize(
    "case, rows, row_count",
    [
        # a 4-row increment over the 9 committed rows
        ("append", [(100 + i, f"2024-01-0{1 + i % 2}", i) for i in range(4)], 13),
        # an empty increment stages no files
        ("append", [], 9),
        # 2 rows replace the 3 of day 2
        ("overwrite_partitions", [(100, "2024-01-02", 7), (101, "2024-01-02", 8)], 8),
    ],
    ids=["append", "empty-increment", "overwrite-partitions"],
)
def test_commit_row_count_from_staged_footers(spark, case, rows, row_count):
    """A commit counts its staged rows from the footers of the files it
    just wrote: the write is its only Spark job, and ``row_count`` stays
    exact for appends, empty increments and partition overwrites."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_footer_count")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", i * 10) for i in range(9)], _EV_SCHEMA
    )
    snap.commit_snapshot(base, table, partition_by=("event_date",))
    inc = spark.createDataFrame(rows, _EV_SCHEMA)
    if case == "append":
        commit = lambda: snap.commit_snapshot(  # noqa: E731
            inc, table, mode="append", partition_by=("event_date",)
        )
    else:
        commit = lambda: snap.overwrite_partitions(  # noqa: E731
            inc, table, ("event_date",)
        )
    v, n_jobs = _jobs_submitted(spark, commit)
    assert (v, n_jobs) == (2, 1)
    head = snap.history(table)[-1]
    staged = [f for f in head["files"] if f.startswith("v00002")]
    assert bool(staged) == bool(rows)
    assert head["row_count"] == row_count
    assert snap.read_snapshot(spark, table).count() == row_count


def test_load_table_infers_each_file_schema_once(spark, tmp_path):
    """``load_table`` pays Spark's footer-inference job once per table
    file: a second load of the same file submits no job, and a file
    rewritten with another schema is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datapipe_spark.sources.tables import load_table

    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), path)
    first = load_table(spark, str(tmp_path), "orders")
    again, n_jobs = _jobs_submitted(
        spark, lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert n_jobs == 0
    assert again.schema == first.schema
    assert again.count() == 3

    pq.write_table(
        pa.table({"o_orderkey": [4, 5], "o_comment": ["a", "b"]}), path
    )
    rewritten = load_table(spark, str(tmp_path), "orders")
    assert rewritten.columns == ["o_orderkey", "o_comment"]
    assert sorted(r["o_orderkey"] for r in rewritten.collect()) == [4, 5]


def test_snapshot_tags_block_expiry_and_resolve_reads(spark):
    """Iceberg refs: a tagged version reads by name, survives every
    expiry (a retention root like the pointer target, its files kept
    by reachability), and becomes expirable again once the tag is
    dropped."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_tags")
    for i in range(4):
        snap.commit_snapshot(
            spark.range(i * 10, i * 10 + 3).selectExpr("id"),
            table, mode="append",
        )
    assert snap.tag_snapshot(table, "baseline", version=2) == 2
    assert snap.refs(table) == {"baseline": 2}
    assert snap.read_snapshot(spark, table, ref="baseline").count() == 6

    # keep=1 would normally drop v1-v3; the tag pins v2
    assert snap.expire_snapshots(table, keep=1) == [1, 3]
    assert snap.read_snapshot(spark, table, ref="baseline").count() == 6
    assert snap.read_snapshot(spark, table).count() == 12
    assert [h["version"] for h in snap.history(table)] == [2, 4]

    # tagging an expired version raises; unknown ref raises
    with pytest.raises(FileNotFoundError):
        snap.tag_snapshot(table, "gone", version=1)
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, table, ref="nope")
    with pytest.raises(ValueError, match="not both"):
        snap.read_snapshot(spark, table, version=2, ref="baseline")

    # incremental read FROM the tagged version across the history
    # hole (v3 expired, its append files alive in v4's manifest):
    # the O(1) lineage check answers where a mode walk would crash
    inc = snap.read_incremental(spark, table, from_version=2)
    assert {r["id"] for r in inc.collect()} == {20, 21, 22, 30, 31, 32}
    # an orphan sweep must never touch the refs file (tags survive)
    snap.remove_orphan_files(table, older_than_s=0)
    assert snap.refs(table) == {"baseline": 2}

    snap.drop_tag(table, "baseline")
    assert snap.expire_snapshots(table, keep=1) == [2]
    assert snap.read_snapshot(spark, table).count() == 12
    assert snap.refs(table) == {}


def test_snapshot_cow_delete_and_merge(spark):
    """The reference's write.delete.mode / write.merge.mode =
    'copy-on-write' table properties (task5-iceberg-catalog-config
    .yaml:35-37): DELETE commits a version without the matched rows
    (NULL predicate keeps the row — SQL DELETE semantics), MERGE
    upserts the source (matched rows replaced, new keys inserted,
    added columns evolving the schema), and every ancestor stays
    time-travelable."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_dml")
    base = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", i * 10) for i in range(10)]
        + [(100, None, 0)],
        "id long, status string, value long",
    )
    snap.commit_snapshot(base, table)

    v2 = snap.delete_rows(spark, table, "status = 'a'")
    assert v2 == 2
    kept = snap.read_snapshot(spark, table)
    assert kept.count() == 6  # five 'b' rows + the NULL-status row
    assert kept.filter("status = 'a'").count() == 0
    assert kept.filter("id = 100").count() == 1  # NULL predicate keeps
    assert snap.read_snapshot(spark, table, version=1).count() == 11

    source = spark.createDataFrame(
        [(1, "b", 999, "upd"), (200, "c", 5, "ins")],
        "id long, status string, value long, src string",
    )
    v3 = snap.merge_snapshot(spark, table, source, on="id")
    assert v3 == 3
    merged = snap.read_snapshot(spark, table)
    assert merged.count() == 7  # 6 - 1 replaced + 2 source rows
    rows = {r["id"]: (r["value"], r["src"]) for r in merged.collect()}
    assert rows[1] == (999, "upd") and rows[200] == (5, "ins")
    assert rows[3] == (30, None)  # untouched row, evolved col NULL
    assert [h["mode"] for h in snap.history(table)] == [
        "overwrite", "delete", "merge",
    ]
    # a type-flipping merge source is refused BEFORE any union/staging
    # (unionByName would silently widen long ∪ string → string)
    bad = spark.createDataFrame(
        [(7, "b", "not-a-number")], "id long, status string, value string"
    )
    with pytest.raises(ValueError, match="changes type of column 'value'"):
        snap.merge_snapshot(spark, table, bad, on="id")
    assert snap.current_version(table) == 3


def test_snapshot_expire_by_age_with_min_keep_floor(spark):
    """The reference's own retention knobs
    (history.expire.max-snapshot-age-ms + min-snapshots-to-keep,
    task6-ecommerce-tables-job.yaml:262-263): age-based expiry drops
    only versions older than the horizon, and the min-keep floor
    holds even when everything has aged out."""
    import json as _json

    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_age")
    for i in range(4):
        snap.commit_snapshot(
            spark.range(i, i + 3).selectExpr("id"), table, mode="append"
        )

    def _age(version, committed_at):
        p = os.path.join(table, "_meta", f"v{version:05d}.json")
        with open(p) as f:
            m = _json.load(f)
        m["committed_at"] = committed_at
        with open(p, "w") as f:
            _json.dump(m, f)

    old = 1_000_000_000.0  # 2001 — far past any horizon
    _age(1, old)
    _age(2, old)
    # young versions survive any horizon; aged ones drop, floor holds
    assert snap.expire_snapshots(
        table, max_age_s=3600, min_keep=1
    ) == [1, 2]
    assert [h["version"] for h in snap.history(table)] == [3, 4]
    assert snap.read_snapshot(spark, table).count() == 12  # append chain
    # all aged out, but the floor keeps the newest two
    _age(3, old)
    _age(4, old)
    assert snap.expire_snapshots(table, max_age_s=3600, min_keep=2) == []
    assert snap.expire_snapshots(table, max_age_s=3600, min_keep=1) == [3]
    assert [h["version"] for h in snap.history(table)] == [4]


def test_snapshot_commit_retries_until_lease_frees(spark):
    """The reference's commit.retry.num-retries=4
    (task6-ecommerce-tables-job.yaml:261): with retries opted in, a
    committer blocked by a live lease backs off and lands once the
    holder releases — each attempt re-resolves the parent under the
    lease, so the retried append stacks on top instead of erasing."""
    import threading
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from datapipe_spark.operators import lease, snapshots as snap

    table = fresh_dir("test_snapshots_retry")
    snap.commit_snapshot(spark.range(3).selectExpr("id"), table)
    with ThreadPoolExecutor(max_workers=1) as pool:
        token = pool.submit(lease.acquire, table).result()
        timer = threading.Timer(
            1.2, lambda: pool.submit(lease.release, table, token).result()
        )
        timer.start()
        t0 = _time.monotonic()
        v = snap.commit_snapshot(
            spark.range(3, 5).selectExpr("id"), table,
            mode="append", retries=4, retry_wait_s=0.4,
        )
        waited = _time.monotonic() - t0
        timer.join()
    assert v == 2 and waited >= 1.0  # actually blocked, then landed
    assert snap.read_snapshot(spark, table).count() == 5


def test_snapshot_incremental_read_is_exact_file_diff(spark):
    """Iceberg incremental scan on the manifest stand-in: the
    (from, to] range returns exactly the appended rows (a file-set
    diff — no base-table bytes touched), refuses ranges crossing a
    non-append commit or starting at an expired version, and reads
    mid-range schema additions back under the TO version's evolved
    schema."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_incr")
    snap.commit_snapshot(spark.range(5).selectExpr("id"), table)
    snap.commit_snapshot(
        spark.range(5, 8).selectExpr("id", "'b2' AS src"), table, mode="append"
    )
    snap.commit_snapshot(
        spark.range(8, 9).selectExpr("id", "'b3' AS src"), table, mode="append"
    )

    inc = snap.read_incremental(spark, table, from_version=1)
    assert inc.columns == ["id", "src"]  # TO version's evolved schema
    assert {(r["id"], r["src"]) for r in inc.collect()} == {
        (5, "b2"), (6, "b2"), (7, "b2"), (8, "b3"),
    }
    # from genesis (v0=0): the initial load counts as the increment
    assert snap.read_incremental(spark, table, from_version=0).count() == 9
    assert {
        r["id"] for r in snap.read_incremental(spark, table, 2, 3).collect()
    } == {8}
    # empty range
    assert snap.read_incremental(spark, table, 3, 3).count() == 0

    # an overwrite breaks the append chain: range crossing it raises
    snap.commit_snapshot(spark.range(2).selectExpr("id"), table)
    with pytest.raises(ValueError, match="non-append version 4"):
        snap.read_incremental(spark, table, from_version=1)
    # ...but a range strictly before it still works
    assert snap.read_incremental(spark, table, 1, 3).count() == 4

    # expired from_version must raise loudly (retention cliff),
    # never degrade to a full scan
    snap.commit_snapshot(
        spark.range(2, 3).selectExpr("id"), table, mode="append"
    )
    snap.expire_snapshots(table, keep=2)
    with pytest.raises(ValueError, match="expired"):
        snap.read_incremental(spark, table, from_version=1)
    assert {
        r["id"] for r in snap.read_incremental(spark, table, 4, 5).collect()
    } == {2}


def test_rewrite_data_files_compacts_append_chain(spark):
    """Iceberg ``rewrite_data_files`` parity: six O(increment) commits
    leave one small file set per append; compaction commits a NEW
    content-identical version with size-targeted files, ancestors
    stay time-travelable, and the ordinary reachability expiry then
    reclaims every pre-rewrite file with no special casing."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_rewrite")
    snap.commit_snapshot(spark.range(0, 1000).selectExpr("id"), table)
    for i in range(1, 6):
        snap.commit_snapshot(
            spark.range(i * 1000, (i + 1) * 1000).selectExpr("id"),
            table, mode="append",
        )
    files_before = snap.snapshot_files(spark, table).count()
    ids_before = {r["id"] for r in snap.read_snapshot(spark, table).collect()}
    assert len(ids_before) == 6000

    v = snap.rewrite_data_files(spark, table)
    assert v == 7
    hist = snap.history(table)
    assert hist[-1]["mode"] == "rewrite" and hist[-1]["row_count"] == 6000
    assert snap.snapshot_files(spark, table).count() == 1 < files_before
    assert {
        r["id"] for r in snap.read_snapshot(spark, table).collect()
    } == ids_before
    # ancestors untouched: time travel into the middle of the chain
    assert snap.read_snapshot(spark, table, version=3).count() == 3000

    # expiry reclaims the whole pre-rewrite chain via reachability
    assert snap.expire_snapshots(table, keep=1) == [1, 2, 3, 4, 5, 6]
    assert snap.read_snapshot(spark, table).count() == 6000
    assert not any(
        os.path.isdir(os.path.join(table, f"v0000{i}")) for i in range(1, 7)
    )
    assert snap.remove_orphan_files(table, older_than_s=0) == []


def test_rewrite_data_files_preserves_partition_layout(spark):
    """Partitioned rewrite clusters one write task per partition (the
    layout the metadata-table oracles pin) and keeps the partition
    tuple readable + prunable afterward."""
    from datapipe_spark.operators import snapshots as snap

    table = fresh_dir("test_snapshots_rewrite_part")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}") for i in range(30)],
        "id long, event_date string",
    )
    snap.commit_snapshot(
        base.repartition(8), table, partition_by=("event_date",)
    )
    snap.commit_snapshot(
        spark.createDataFrame(
            [(100, "2024-01-04")], "id long, event_date string"
        ),
        table, mode="append", partition_by=("event_date",),
    )
    assert snap.snapshot_files(spark, table).count() > 4
    snap.rewrite_data_files(spark, table)
    parts = {
        r["partition"]: r["file_count"]
        for r in snap.snapshot_partitions(spark, table).collect()
    }
    assert set(parts) == {
        f"event_date=2024-01-0{d}" for d in (1, 2, 3, 4)
    }
    assert all(n == 1 for n in parts.values())
    out = snap.read_snapshot(spark, table)
    assert out.count() == 31 and out.dtypes == base.dtypes
    assert out.filter(F.col("event_date") == "2024-01-04").count() == 1


def test_multi_table_changelog_topology(spark, sf_dir):
    from datapipe_spark.sources.cdc import CDC_TABLES, synth_changelog_multi

    cl = synth_changelog_multi(spark, sf_dir)
    tables = {r["table_name"] for r in cl.select("table_name").distinct().collect()}
    assert tables == set(CDC_TABLES)
    ops = {r["__op"] for r in cl.select("__op").distinct().collect()}
    assert ops == {"c", "u", "d"}


def test_point_in_time_join_version_selection(spark):
    """The generic PIT join must pick exactly the version whose window
    contains the fact ts: before-history and after-tombstone facts get
    null, boundary ts is inclusive-from / exclusive-to, open-ended
    current versions match everything later."""
    from datapipe_spark.operators.rangejoin import point_in_time_join

    versions = spark.createDataFrame(
        [
            # key 1: v1 [10, 20), v2 [20, 30), tombstone closed at 30
            (1, "v1", 10.0, 20.0),
            (1, "v2", 20.0, 30.0),
            # key 2: single open-ended current version
            (2, "cur", 15.0, None),
        ],
        "id int, status string, valid_from double, valid_to double",
    )
    facts = spark.createDataFrame(
        [(1, 5.0), (1, 10.0), (1, 19.9), (1, 20.0), (1, 29.9), (1, 30.0), (1, 99.0),
         (2, 14.9), (2, 15.0), (2, 1e6), (3, 50.0)],
        "id int, ts double",
    )
    got = {
        (r["id"], r["ts"]): r["status"]
        for r in point_in_time_join(facts, versions, key="id", fact_ts="ts").collect()
    }
    assert got == {
        (1, 5.0): None,     # before history
        (1, 10.0): "v1",    # inclusive from
        (1, 19.9): "v1",
        (1, 20.0): "v2",    # exclusive to / inclusive next-from
        (1, 29.9): "v2",
        (1, 30.0): None,    # after tombstone closed history
        (1, 99.0): None,
        (2, 14.9): None,
        (2, 15.0): "cur",   # open-ended current
        (2, 1e6): "cur",
        (3, 50.0): None,    # key with no dimension history at all
    }
    # inner form drops the no-match facts instead
    inner = point_in_time_join(facts, versions, key="id", fact_ts="ts", how="inner")
    assert inner.count() == sum(1 for v in got.values() if v is not None)


def test_point_in_interval_join_equivalence_and_plan(spark):
    """Bucketed range join must equal the naive cross-join filter for
    inner AND left, and must plan as an equi-join (no nested loop)."""
    import datetime as dt

    from datapipe_spark.operators.rangejoin import point_in_interval_join

    T = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)  # noqa: E731
    pts = spark.createDataFrame(
        [(1, T(0)), (1, T(5)), (1, T(61)), (2, T(5)), (2, T(200)), (1, T(119))],
        "user_id long, ts timestamp_ntz",
    )
    ivs = spark.createDataFrame(
        [
            (1, T(0), T(10), "a"),
            (1, T(4), T(62), "b"),
            (2, T(100), T(300), "c"),
            (1, T(115), T(130), "d"),
        ],
        "user_id long, s timestamp_ntz, e timestamp_ntz, tag string",
    )
    naive = pts.crossJoin(ivs.select(F.col("user_id").alias("u2"), "s", "e", "tag")).filter(
        (F.col("user_id") == F.col("u2"))
        & (F.col("ts") >= F.col("s"))
        & (F.col("ts") <= F.col("e"))
    )
    want_inner = {(r["user_id"], r["ts"], r["tag"]) for r in naive.collect()}
    for bucket in (60, 600, 7):  # correct at ANY bucket size
        got = point_in_interval_join(
            pts, ivs, "ts", "s", "e", bucket, extra_keys=("user_id",)
        )
        assert {(r["user_id"], r["ts"], r["tag"]) for r in got.collect()} == want_inner
    left = point_in_interval_join(
        pts, ivs, "ts", "s", "e", 60, extra_keys=("user_id",), how="left"
    )
    rows = left.collect()
    # every point appears; unmatched points carry null interval columns
    assert {(r["user_id"], r["ts"]) for r in rows} == {
        (r["user_id"], r["ts"]) for r in pts.collect()
    }
    unmatched = [r for r in rows if r["tag"] is None]
    assert {(r["user_id"], r["ts"]) for r in unmatched} == {(2, T(5))}
    plan = left._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan


def test_point_in_interval_guards_and_pit_null_bounds(spark):
    """r12 review hardening: (a) a pathological interval (far-future
    sentinel end, or end < start) fails FAST with the width named
    instead of exploding millions of bucket rows; (b) fractional
    bucket_seconds scale before truncation (0.5 s is a valid bucket,
    not a divide-by-zero); (c) point_in_time_join treats NULL
    valid_from as open-START (the mirror of open-ended valid_to) and
    rejects unsupported join types."""
    import datetime as dt

    import pytest as _pytest

    from datapipe_spark.operators.rangejoin import (
        point_in_interval_join,
        point_in_time_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame([(1, t0)], "pid long, ts timestamp")
    bad = spark.createDataFrame(
        [(10, t0, dt.datetime(9999, 12, 31))],
        "iid long, s timestamp, e timestamp",
    )
    with _pytest.raises(Exception, match="interval spans"):
        point_in_interval_join(pts, bad, "ts", "s", "e", 60).collect()
    inverted = spark.createDataFrame(
        [(10, t0, t0 - dt.timedelta(days=1))],
        "iid long, s timestamp, e timestamp",
    )
    with _pytest.raises(Exception, match="interval spans"):
        point_in_interval_join(pts, inverted, "ts", "s", "e", 60).collect()

    # fractional bucket: 0.5 s buckets work (used to truncate to 0)
    ok = spark.createDataFrame(
        [(10, t0, t0 + dt.timedelta(seconds=2))],
        "iid long, s timestamp, e timestamp",
    )
    got = point_in_interval_join(pts, ok, "ts", "s", "e", 0.5).collect()
    assert len(got) == 1 and got[0]["iid"] == 10

    # NULL valid_from = open start; unsupported how rejected
    facts = spark.createDataFrame([(1, t0)], "id long, ts timestamp")
    vers = spark.createDataFrame(
        [(1, None, None, "seed")],
        "id long, valid_from timestamp, valid_to timestamp, v string",
    )
    rows = point_in_time_join(facts, vers, "id", "ts").collect()
    assert len(rows) == 1 and rows[0]["v"] == "seed"
    with _pytest.raises(ValueError, match="unsupported how"):
        point_in_time_join(facts, vers, "id", "ts", how="full")


def test_point_in_interval_left_join_null_payload_not_duplicated(spark):
    """Left-join matched-row subtraction must be null-safe: a matched
    point carrying a NULL payload column is emitted once (the r5
    value-equality anti-join emitted it twice — joined AND
    null-padded), and duplicate point rows each keep their own match."""
    import datetime as dt

    from datapipe_spark.operators.rangejoin import point_in_interval_join

    T = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)  # noqa: E731
    pts = spark.createDataFrame(
        [(1, T(5), None), (1, T(5), None), (2, T(500), "x")],
        "user_id long, ts timestamp_ntz, payload string",
    )
    ivs = spark.createDataFrame(
        [(1, T(0), T(10), "a")],
        "user_id long, s timestamp_ntz, e timestamp_ntz, tag string",
    )
    left = point_in_interval_join(
        pts, ivs, "ts", "s", "e", 60, extra_keys=("user_id",), how="left"
    )
    rows = left.collect()
    assert len(rows) == 3  # two matched duplicates + one unmatched
    assert sorted((r["user_id"], r["tag"]) for r in rows) == [
        (1, "a"),
        (1, "a"),
        (2, None),
    ]


def test_write_train_shards_physical_loader_order(spark, sf_dir):
    """The materialized shard layout must be readable front-to-back in
    loader order with no read-time shuffle: every parquet file inside a
    shard_id=*/ partition carries pos strictly ascending in physical
    row order, each shard's pos set is contiguous from 1, and every
    document lands exactly once with its text."""
    import glob

    import pyarrow.parquet as pq

    from datapipe_spark.operators.maintenance import write_train_shards
    from datapipe_spark.sources.tables import load_table
    from datapipe_spark.util import fresh_dir

    out = fresh_dir("test_train_shards")
    stats = write_train_shards(spark, sf_dir, out)
    assert stats["n_docs"] == load_table(spark, sf_dir, "documents").count()

    shard_dirs = sorted(glob.glob(os.path.join(out, "shard_id=*")))
    assert len(shard_dirs) == stats["n_shards"]
    total = 0
    for sd in shard_dirs:
        pos_all = []
        for f in sorted(glob.glob(os.path.join(sd, "*.parquet"))):
            t = pq.read_table(f, columns=["pos", "text"])
            pos = t.column("pos").to_pylist()
            # physical row order inside each file IS loader order
            assert pos == sorted(pos)
            assert all(x is not None for x in t.column("text").to_pylist())
            pos_all.extend(pos)
        assert sorted(pos_all) == list(range(1, len(pos_all) + 1))
        total += len(pos_all)
    assert total == stats["n_docs"]


def test_recover_swap_heals_every_crash_state(spark, sf_dir):
    """The bare dir-swap rewrites (compact/cluster/zorder, the IVF
    cells compaction) have exactly three crash states; recover_swap
    must heal all of them — in particular the 'live dir missing,
    __old holds the data' window the scd2 r9 advisory flagged — and
    readers must restore without sweeping a possibly-live rewrite's
    staging."""
    import shutil as _sh

    from datapipe_spark.operators.maintenance import (
        compact_parquet,
        recover_swap,
    )

    path = fresh_dir("recover_swap")
    src = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    src.write.mode("overwrite").parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))

    # state 1: crash after writing __compacting, before any rename
    _sh.copytree(path, path + "__compacting")
    assert recover_swap(path) is False  # reader: nothing to restore
    assert os.path.isdir(path + "__compacting")  # reader did NOT sweep
    recover_swap(path, sweep=True)
    assert not os.path.isdir(path + "__compacting")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want

    # state 2: crash between the two renames — live dir GONE
    os.rename(path, path + "__old")
    assert recover_swap(path) is True  # reader restores
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want

    # state 3: crash before the final debris rmtree
    _sh.copytree(path, path + "__old")
    assert recover_swap(path) is False
    assert os.path.isdir(path + "__old")  # reader leaves debris
    recover_swap(path, sweep=True)
    assert not os.path.isdir(path + "__old")

    # and a real rewrite entered in state 2 self-heals end to end
    os.rename(path, path + "__old")
    n = compact_parquet(spark, path, target_bytes=1 << 30)
    assert n >= 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
