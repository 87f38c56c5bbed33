"""Stateful streaming operator tests: built-in dedup and running
profile (plans, results, state size), the applyInPandasWithState TTL
dedup, and the stream-static join."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crmint_spark.catalog import load  # noqa: E402
from crmint_spark.streaming import events as sevents  # noqa: E402
from crmint_spark.streaming import stateful  # noqa: E402


@pytest.fixture()
def stream_dir(spark, tmp_path):
    out = str(tmp_path / "in")
    load(spark, "/root/testdata/sf0.001", "events").coalesce(1).write.json(out)
    return out


def _drain(stream_df, tmp_path, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_user_running_profile_matches_batch(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    profile = stateful.user_running_profile(stream)
    _drain(profile, tmp_path, "profiles", "update")
    got = spark.table("profiles")
    # update mode with availableNow over one file: one final row per user
    batch = (
        load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got_map = {r.user_id: (r.n_events, r.total_value) for r in got.collect()}
    for r in batch.collect():
        assert got_map[r.user_id][0] == r.n_events
        assert abs(got_map[r.user_id][1] - r.total_value) < 0.05


def test_streaming_dedup_emits_each_key_once(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    deduped = stateful.streaming_dedup_by_key(stream)
    _drain(deduped, tmp_path, "deduped", "append")
    got = spark.table("deduped")
    n_events = load(spark, "/root/testdata/sf0.001", "events").count()
    assert got.count() == n_events  # event_ids unique in testdata
    assert got.select("event_id").distinct().count() == n_events


def test_stream_static_enrichment_join(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    dim = spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("purchase", "convert"),
         ("signup", "convert"), ("error", "ops")],
        "event_type string, category string",
    )
    enriched = stateful.enrich_with_dimension(stream, dim, "event_type")
    counts = enriched.groupBy("category").count()
    _drain(counts, tmp_path, "enriched", "complete")
    got = {r.category: r["count"] for r in spark.table("enriched").collect()}
    batch = {
        r.category: r["count"]
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .join(dim, "event_type", "left")
        .groupBy("category")
        .count()
        .collect()
    }
    assert got == batch


def test_streaming_dedup_ttl_expires_quiet_keys(spark, tmp_path):
    """VERDICT r4 #5: the TTL contract. With a TTL longer than the
    stream span, dedup is exact across micro-batches; with a short TTL,
    a no-data cleanup batch between two sightings of a key expires its
    marker (ProcessingTimeTimeout -> state.remove()), and the later
    sighting RE-EMITS as a fresh first occurrence."""
    import json
    import time

    base = dict(user_id=1, event_type="view", value=1.0,
                ts="2024-01-01T00:00:00.000Z", props="{}")

    def write_file(d, name, ids):
        p = os.path.join(d, name)
        with open(p + ".tmp", "w") as fh:
            for eid in ids:
                fh.write(json.dumps({**base, "event_id": eid}) + "\n")
        os.rename(p + ".tmp", p)

    from crmint_spark.streaming import events as sev

    # --- long TTL: three batches, exact forever-dedup semantics ---
    d1 = str(tmp_path / "in_long")
    os.makedirs(d1)
    for i, ids in enumerate([[1, 2], [1, 3], [1, 4]]):
        write_file(d1, f"b{i}.json", ids)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    stream = sev.stream_events_from_dir(spark, d1, max_files_per_trigger=1)
    q = (
        stateful.streaming_dedup_by_key(stream, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_long")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_long"))
        .trigger(availableNow=True)
        .start()
    )
    sev.drain_and_stop(q)
    assert sorted(
        r.event_id for r in spark.table("ttl_long").collect()
    ) == [1, 2, 3, 4]

    # --- short TTL: live query; the quiet gap between file drops runs
    # no-data cleanup batches that expire key 1, so its second sighting
    # re-emits ---
    d2 = str(tmp_path / "in_short")
    os.makedirs(d2)
    write_file(d2, "b0.json", [1, 2])
    stream2 = sev.stream_events_from_dir(spark, d2)
    q2 = (
        stateful.streaming_dedup_by_key(stream2, ttl_ms=500)
        .writeStream.format("memory")
        .queryName("ttl_short")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_short"))
        .start()
    )
    try:
        def wait_rows(n, deadline_s=90):
            end = time.monotonic() + deadline_s
            while time.monotonic() < end:
                if spark.table("ttl_short").count() >= n:
                    return
                time.sleep(0.5)
            raise AssertionError(
                f"sink never reached {n} rows: "
                f"{spark.table('ttl_short').collect()}"
            )

        wait_rows(2)        # batch 1: keys 1, 2 emitted
        time.sleep(5)       # > TTL: cleanup batches expire both markers
        write_file(d2, "b1.json", [1, 3])
        wait_rows(4)        # batch 2: key 3 AND the re-emitted key 1
    finally:
        q2.stop()
        q2.awaitTermination()
    rows = spark.table("ttl_short").collect()
    n_key1 = sum(1 for r in rows if r.event_id == 1)
    assert n_key1 == 2, rows
    assert all(r.is_first == 1 for r in rows)


def test_ndjson_drops_coexist_per_dup_flavor(spark):
    """The dup and non-dup NDJSON drops are cached independently: an
    alternation (windowed -> dedup -> profile, the bench order) must
    not evict and rebuild the other flavor (r12 review)."""
    from crmint_spark.streaming import queries_streaming as qs

    sf = "/root/testdata/sf0.001"
    plain1 = qs._events_ndjson_dir(spark, sf, dup=False)
    dup1 = qs._events_ndjson_dir(spark, sf, dup=True)
    plain2 = qs._events_ndjson_dir(spark, sf, dup=False)
    dup2 = qs._events_ndjson_dir(spark, sf, dup=True)
    assert plain1 == plain2 and os.path.isdir(plain1)
    assert dup1 == dup2 and os.path.isdir(dup1)
    assert plain1 != dup1


_PANDAS_STATE = "FlatMapGroupsInPandasWithState"


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().logical().toString()


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_exact_operators_plan_on_builtin_state(spark, stream_dir):
    """Profile and no-TTL dedup keep their state in the JVM state store
    and keep their declared output schemas; only the processing-time
    TTL dedup plans a pandas state function."""
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    profile = stateful.user_running_profile(stream)
    deduped = stateful.streaming_dedup_by_key(stream)
    assert _PANDAS_STATE not in _logical_plan(profile)
    assert _PANDAS_STATE not in _logical_plan(deduped)
    assert _fields(profile.schema) == _fields(stateful.PROFILE_SCHEMA)
    assert _fields(deduped.schema) == _fields(stateful.DEDUP_SCHEMA)
    assert _PANDAS_STATE in _logical_plan(
        stateful.streaming_dedup_by_key(stream, ttl_ms=1000)
    )


def _state_rows_per_batch(stream_df, tmp_path, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]


def test_builtin_state_levels_off_across_batches(spark, tmp_path):
    """The same events dropped twice, one file per trigger: the second
    batch adds input but no state rows — one row per distinct event id
    for dedup, one per distinct user for the profile."""
    in_dir = str(tmp_path / "in")
    ev = load(spark, "/root/testdata/sf0.001", "events").coalesce(1)
    ev.write.json(in_dir)
    ev.write.mode("append").json(in_dir)
    n_ids = ev.select("event_id").distinct().count()
    n_users = ev.select("user_id").distinct().count()

    def stream():
        return sevents.stream_events_from_dir(
            spark, in_dir, max_files_per_trigger=1
        )

    dedup_rows = _state_rows_per_batch(
        stateful.streaming_dedup_by_key(stream()),
        tmp_path, "state_dedup", "append",
    )
    assert dedup_rows == [n_ids, n_ids]
    assert spark.table("state_dedup").count() == n_ids
    profile_rows = _state_rows_per_batch(
        stateful.user_running_profile(stream()),
        tmp_path, "state_profile", "update",
    )
    assert profile_rows == [n_users, n_users]


def test_stream_entries_release_memory_sinks(spark):
    """A drained entry's result stays readable after its memory-sink
    view is dropped, and no sink view outlives the call."""
    from crmint_spark.streaming import queries_streaming as qs

    df = qs.streaming_dedup_keys(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__stream_q_")
    ]
