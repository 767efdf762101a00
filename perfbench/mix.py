"""The seeded API request mix.

Routes follow one fixed cycle of 20 requests with exact shares,
interleaved so the heavy routes are spread out; the clients of an
``api-serve`` run take turns drawing from one such sequence. Accounts, transaction ids and state blocks
follow Zipf(1.1), so hot keys repeat within their cache TTL: the k-th
key of a kind has the rank that a fixed low-discrepancy sequence picks
from the Zipf distribution, and the seed ranks the keys (which account
is hottest) and generates the data. Two seeds therefore send the same
pattern of routes and repeats, over different keys and tables.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

ZIPF_S = 1.1

#: (route kind, requests per block of 20, HTTP path, expected status)
ROUTES: list[tuple[str, int, str, int]] = [
    ("get_actions", 6, "/v2/history/get_actions", 200),
    ("get_actions-hyperion", 2, "/v2/history/get_actions", 200),
    ("get_transaction", 3, "/v2/history/get_transaction", 200),
    ("get_deltas", 2, "/v2/history/get_deltas", 200),
    ("get_table_state", 2, "/v2/history/get_table_state", 200),
    ("get_creator", 1, "/v2/history/get_creator", 200),
    ("get_tokens", 1, "/v2/state/get_tokens", 200),
    ("get_top_holders", 1, "/v2/state/get_top_holders", 200),
    ("get_trx_count", 1, "/v2/stats/get_trx_count", 200),
    ("get_actions-skip-over-limit", 1, "/v2/history/get_actions", 400),
]
#: the ingest-stream reader's mix: the same routes minus the one that
#: reads the nested lake, whose share goes to plain get_actions
READER_ROUTES = [("get_actions", 8, *ROUTES[0][2:])] + [r for r in ROUTES[2:]]
BLOCK = sum(r[1] for r in ROUTES)
PATH = {kind: path for kind, _, path, _ in ROUTES}
EXPECT = {kind: status for kind, _, _, status in ROUTES}
PAGE = 20
STATE_PAGE = 50
N_STATE_BLOCKS = 50


@dataclass(frozen=True)
class Request:
    kind: str
    path: str
    params: dict
    expect: int


_GOLDEN = 0.6180339887498949


class _Zipf:
    """Zipf(s) over ``n`` keys, drawn by a low-discrepancy sequence
    starting at ``phase``; key ranks are a seeded permutation."""

    def __init__(self, ranking: np.random.Generator, n: int, phase: float) -> None:
        w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.keys = ranking.permutation(n)
        self.u = phase

    def draw(self) -> int:
        self.u = (self.u + _GOLDEN) % 1.0
        i = int(np.searchsorted(self.cdf, self.u, side="right"))
        return int(self.keys[min(i, len(self.keys) - 1)])


def cycle(routes: list[tuple[str, int, str, int]]) -> list[str]:
    """Smooth weighted round-robin order of one block of ``routes``."""
    total = sum(n for _, n, _, _ in routes)
    credit = {kind: 0 for kind, _, _, _ in routes}
    order = []
    for _ in range(total):
        for kind, n, _, _ in routes:
            credit[kind] += n
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        order.append(pick)
    return order


class RequestStream:
    """Endless seeded request sequence; ``client`` picks its key phase."""

    def __init__(
        self,
        seed: int,
        client: int,
        sizes: dict[str, int],
        *,
        routes: list[tuple[str, int, str, int]] = ROUTES,
    ) -> None:
        # key rankings depend on the seed only: every stream of a run
        # shares the same hot keys. Each stream walks its own phase; a
        # phase that is a multiple of the golden step would replay
        # another stream's keys a few requests later, so it is not one
        ranking = np.random.default_rng([seed, 1_000_003])
        phase = (client * math.sqrt(2.0)) % 1.0
        self.users = _Zipf(ranking, sizes["users"], phase)
        self.orders = _Zipf(ranking, sizes["orders"], phase)
        self.customers = _Zipf(ranking, sizes["customers"], phase)
        self.blocks = _Zipf(ranking, N_STATE_BLOCKS, phase)
        self.n_events = sizes["events"]
        self.count = 0
        self.order = cycle(routes)
        self.pos = 0

    def _params(self, kind: str) -> dict:
        if kind == "get_actions":
            return {"account": str(self.users.draw()), "limit": str(PAGE)}
        if kind == "get_actions-hyperion":
            return {"model": "hyperion", "account": f"user{self.users.draw()}", "limit": str(PAGE)}
        if kind == "get_transaction":
            return {"id": str(self.orders.draw())}
        if kind == "get_deltas":
            return {"scope": str(self.users.draw()), "limit": str(PAGE)}
        if kind == "get_table_state":
            step = max(1, self.n_events // N_STATE_BLOCKS)
            return {"block": str((self.blocks.draw() + 1) * step), "limit": str(STATE_PAGE)}
        if kind == "get_creator":
            return {"account": str(self.users.draw())}
        if kind == "get_tokens":
            return {"account": str(self.customers.draw())}
        if kind == "get_top_holders":
            return {"limit": str((10, 20, 50)[self.count % 3])}
        if kind == "get_trx_count":
            return {}
        if kind == "get_actions-skip-over-limit":
            return {
                "account": str(self.users.draw()),
                "skip": str(10_001 + (self.count * 997) % 5_000),
            }
        raise KeyError(kind)

    def request(self, kind: str) -> Request:
        self.count += 1
        return Request(kind, PATH[kind], self._params(kind), EXPECT[kind])

    def next(self) -> Request:
        kind = self.order[self.pos]
        self.pos = (self.pos + 1) % len(self.order)
        return self.request(kind)
