"""timedQuery serving cache (functions.ts:946-1006): hit/miss, TTL
expiry, per-route TTLs, last_indexed_block metadata — round-2 verdict
item 6."""

from __future__ import annotations

from hyperion_history_api_spark.api.serving_cache import (
    DEFAULT_TTLS,
    ResponseCache,
    cache_key,
    timed_query,
)


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_second_identical_request_served_from_cache():
    cache = ResponseCache(clock=FakeClock())
    calls = []

    def run():
        calls.append(1)
        return {"total": {"value": 3}, "actions": [1, 2, 3]}

    r1 = timed_query(cache, "/v2/history/get_actions", {"account": "u7"}, run)
    assert r1["cached"] is False
    r2 = timed_query(cache, "/v2/history/get_actions", {"account": "u7"}, run)
    assert r2["cached"] is True
    assert r2["actions"] == [1, 2, 3]
    assert calls == [1]  # the handler ran exactly once
    assert cache.hits == 1 and cache.misses == 1


def test_different_params_are_distinct_entries():
    cache = ResponseCache(clock=FakeClock())
    n = {"v": 0}

    def run():
        n["v"] += 1
        return {"v": n["v"]}

    a = timed_query(cache, "/r", {"account": "a"}, run)
    b = timed_query(cache, "/r", {"account": "b"}, run)
    assert (a["v"], b["v"]) == (1, 2)
    assert cache_key("/r", {"account": "a"}) != cache_key("/r", {"account": "b"})
    # param ORDER does not change the key (canonical serialization)
    assert cache_key("/r", {"a": 1, "b": 2}) == cache_key("/r", {"b": 2, "a": 1})


def test_ttl_expiry_reruns_handler():
    clock = FakeClock()
    cache = ResponseCache(ttls={"/r": 5.0}, clock=clock)
    calls = []

    def run():
        calls.append(1)
        return {"x": len(calls)}

    timed_query(cache, "/r", {}, run)
    clock.t = 4.9
    assert timed_query(cache, "/r", {}, run)["cached"] is True
    clock.t = 5.1
    fresh = timed_query(cache, "/r", {}, run)
    assert fresh["cached"] is False and fresh["x"] == 2


def test_per_route_ttls_and_disabled_route():
    clock = FakeClock()
    cache = ResponseCache(ttls={"/fast": 1.0, "/slow": 100.0, "/off": 0.0}, clock=clock)
    for route in ("/fast", "/slow", "/off"):
        timed_query(cache, route, {}, lambda: {"r": route})
    clock.t = 2.0
    assert timed_query(cache, "/fast", {}, lambda: {"r": 1})["cached"] is False
    assert timed_query(cache, "/slow", {}, lambda: {"r": 1})["cached"] is True
    # TTL 0 => never stored
    assert timed_query(cache, "/off", {}, lambda: {"r": 1})["cached"] is False
    assert DEFAULT_TTLS["/v2/history/get_transaction"] > DEFAULT_TTLS["/v2/history/get_actions"]


def test_envelope_integration(spark, sf_dir):
    """End-to-end over the real envelope handler: second request is a
    hit with identical body and correct last_indexed_block."""
    from pyspark.sql import functions as F

    from hyperion_history_api_spark.api.envelope import (
        get_actions_with_envelope,
    )
    from hyperion_history_api_spark.plans.predicates import QueryParams
    from hyperion_history_api_spark.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    cache = ResponseCache(clock=FakeClock())
    params = QueryParams(terms={"user_id": "7"}, limit=5)

    def run():
        body = get_actions_with_envelope(
            spark,
            ev,
            params,
            seq_field="event_id",
            default_sort_field="event_id",
            numeric_fields=frozenset({"user_id"}),
        )
        return body

    r1 = timed_query(cache, "/v2/history/get_actions", {"user_id": 7, "limit": 5}, run)
    r2 = timed_query(cache, "/v2/history/get_actions", {"user_id": 7, "limit": 5}, run)
    assert r1["cached"] is False and r2["cached"] is True
    assert r2["actions"] == r1["actions"]
    head = ev.agg(F.max("event_id")).first()[0]
    assert r1["last_indexed_block"] == head


def test_store_stays_bounded_under_distinct_keys():
    """Keys that are never read again must not grow the store past
    MAX_ENTRIES: a put on a full store drops the expired entries, and
    clears the store when none have expired. Hits and misses behave
    as before."""

    class SmallCache(ResponseCache):
        MAX_ENTRIES = 8

    clock = FakeClock()
    cache = SmallCache(ttls={"/r": 5.0}, clock=clock)
    for i in range(30):
        clock.t = float(i)  # each entry outlives the next 4 puts
        cache.put("/r", {"account": i}, {"i": i})
        assert len(cache._store) <= 8
    # expired entries went first: the live ones are all still there
    assert len(cache._store) >= 5
    live = timed_query(cache, "/r", {"account": 29}, lambda: {"i": -1})
    assert live["cached"] is True and live["i"] == 29
    gone = timed_query(cache, "/r", {"account": 0}, lambda: {"i": -1})
    assert gone["cached"] is False and gone["i"] == -1
    assert (cache.hits, cache.misses) == (1, 1)

    # nothing expires: a full store is cleared, never grown
    cache = SmallCache(ttls={"/r": 1e9}, clock=FakeClock())
    for i in range(20):
        cache.put("/r", {"account": i}, {"i": i})
        assert len(cache._store) <= 8
    assert timed_query(cache, "/r", {"account": 19}, dict)["cached"] is True
    assert ResponseCache.MAX_ENTRIES >= 1000  # far above one api-serve run
