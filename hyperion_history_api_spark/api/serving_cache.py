"""Serving-layer response cache — the reference's ``timedQuery``
(src/api/helpers/functions.ts:946-1006).

Every REST response in the reference flows through ``timedQuery``:

- cache key = sha256(route + sorted request params)
  (functions.ts:836-840);
- per-route TTL map (functions.ts:940-944) — hot endpoints cache
  seconds, expensive stats cache minutes;
- on hit: the stored response is returned with ``cached: true`` and a
  fresh ``query_time_ms``;
- on miss: the handler runs and the full response body, including
  its ``last_indexed_block`` / ``last_indexed_block_time`` metadata
  (get_actions.ts:121-126), is stored.

This is a SERVING component, not an engine operator: it fronts the
DataFrame plans with an in-process dict (the reference uses Redis —
swap ``_Store`` for a Redis client in a real deployment; the protocol
is identical). The engine's query results remain exactly the oracle-
checked plans; the cache only short-circuits re-execution inside the
TTL window, which is the reference's own consistency model (a cached
page may trail the head by up to TTL seconds).
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field


def cache_key(route: str, params: dict) -> str:
    """sha256 over route + canonically-serialized params
    (functions.ts:836-840 hashes the fastify request the same way)."""
    canon = json.dumps(params, sort_keys=True, default=str)
    return hashlib.sha256(f"{route}?{canon}".encode()).hexdigest()


@dataclass
class ResponseCache:
    """Keyed response store with per-route TTLs.

    ``ttls`` mirrors the reference's route->TTL map; routes absent from
    it use ``default_ttl``. ``clock`` is injectable for tests. A TTL of
    0 (or negative) disables caching for that route — the reference
    does the same by omitting the route from its map. The store holds
    at most ``MAX_ENTRIES`` responses (Redis evicts under maxmemory
    the same way).
    """

    MAX_ENTRIES = 4096

    ttls: dict[str, float] = field(default_factory=dict)
    default_ttl: float = 30.0
    clock: Callable[[], float] = time.monotonic
    _store: dict[str, tuple[float, dict]] = field(default_factory=dict)
    hits: int = 0
    misses: int = 0

    def ttl_for(self, route: str) -> float:
        return self.ttls.get(route, self.default_ttl)

    def get(self, route: str, params: dict) -> dict | None:
        key = cache_key(route, params)
        entry = self._store.get(key)
        if entry is None:
            self.misses += 1
            return None
        expires, payload = entry
        if self.clock() >= expires:
            # lazy expiry, like Redis TTL; pop(key, None) not del —
            # under ThreadingHTTPServer two readers can race to expire
            # the same key, and the loser's KeyError would surface as
            # a spurious 400 on a valid request
            self._store.pop(key, None)
            self.misses += 1
            return None
        self.hits += 1
        return payload

    def put(self, route: str, params: dict, payload: dict) -> None:
        ttl = self.ttl_for(route)
        if ttl <= 0:
            return
        now = self.clock()
        if len(self._store) >= self.MAX_ENTRIES:
            # expiry is otherwise lazy, so a key never read again (any
            # client can vary `account`) would stay forever; a copy,
            # because handler threads write the store concurrently
            for key, (expires, _) in self._store.copy().items():
                if now >= expires:
                    self._store.pop(key, None)
            if len(self._store) >= self.MAX_ENTRIES:
                self._store.clear()  # tables._READ_CACHE's policy
        self._store[cache_key(route, params)] = (now + ttl, payload)


def timed_query(
    cache: ResponseCache,
    route: str,
    params: dict,
    run: Callable[[], dict],
) -> dict:
    """The timedQuery wrapper: consult the cache, else run the handler,
    store, reply.

    ``run()`` returns the response body (e.g.
    :func:`envelope.get_actions_with_envelope` output, which carries
    the log head). Cached hits serve the STORED head, exactly as the
    reference's cached responses do (the head may trail by up to TTL).
    """
    t0 = time.perf_counter()
    hit = cache.get(route, params)
    if hit is not None:
        return {
            **hit,
            "cached": True,
            "query_time_ms": round((time.perf_counter() - t0) * 1000, 3),
        }
    body = run()
    body["cached"] = False
    body["query_time_ms"] = round((time.perf_counter() - t0) * 1000, 3)
    cache.put(route, params, body)
    return body


# The reference's shipped TTL map shape (functions.ts:940-944): hot
# history pages cache briefly, aggregate stats longer.
DEFAULT_TTLS: dict[str, float] = {
    "/v2/history/get_actions": 5.0,
    "/v2/history/get_deltas": 5.0,
    "/v2/history/get_transaction": 600.0,
    "/v2/state/get_account": 15.0,
    "/v2/stats/get_trx_count": 60.0,
    "/v2/stats/get_resource_usage": 300.0,
    "/v2/health": 10.0,
    # live serving counters must never serve stale (TTL 0 = no cache)
    "/v2/stats/get_api_usage": 0.0,
}
