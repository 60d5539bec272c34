"""Seeded generator of monitoring samples, and the live key -> doc map.

A document is one sample from one of ``N_HOSTS`` hosts, as a collector
would post it to seriesly::

    {"host":"h3","cpu":{"user":37.2,"sys":4.1},"mem":{"used":2048.5,
     "free":1023.0},"net":{"rx":123456,"tx":2345},"status":"ok",
     "tags":["prod","eu"]}

Irregular values exercise the engine's coercion rules: ``/cpu/user`` is
sometimes missing, JSON null, string-encoded ("37.2") or unparseable
("n/a"); ``/net/rx`` (a collector-wide monotone byte counter, so every
rate is positive and sums of rates are well conditioned) is sometimes
string-encoded or missing; ``/status`` is sometimes missing.

Keys are nanosecond timestamps, strictly increasing within one
generator, so every key is unique unless a batch deliberately re-sends
an existing key (last write wins).
"""

from __future__ import annotations

import re

import numpy as np

N_HOSTS = 8
HOSTS = [f"h{i}" for i in range(N_HOSTS)]
STATUSES = ["ok", "ok", "ok", "warn", "crit"]
TAGS = ["prod", "eu", "us", "db", "web", "cache"]
# 2026-01-05T03:00:00Z: starting mid-day makes a 23-day history span 24
# date partitions.
EPOCH_NS = 1_767_582_000 * 1_000_000_000
_RX = re.compile(r'"rx":"?(\d+)')


class DocGen:
    """Generates documents in key order and keeps the live key -> doc map
    (what the store must hold after every commit)."""

    def __init__(self, seed: int, step_ns: int, start_ns: int = EPOCH_NS):
        self.rng = np.random.default_rng(seed)
        self.step_ns = step_ns
        self.next_ns = start_ns
        self.rx = 1_000_000
        self.live: dict[int, str] = {}

    def _ts(self, n: int) -> np.ndarray:
        # Jittered steps in [0.5, 1.5) x step, at least 1 µs apart.
        gaps = (self.step_ns * self.rng.uniform(0.5, 1.5, n)).astype(np.int64)
        gaps = np.maximum(gaps, 1000)
        ts = self.next_ns + np.cumsum(gaps)
        self.next_ns = int(ts[-1])
        return ts

    def new_docs(self, n: int) -> list[tuple[int, str]]:
        """``n`` fresh samples with keys after every key so far."""
        ts = self._ts(n)
        rx = self.rx + np.cumsum(self.rng.integers(1, 50_000, n))
        self.rx = int(rx[-1])
        return list(zip(ts.tolist(), self._bodies(rx)))

    def resend(self, n: int, newer_than_ns: int = 0) -> list[tuple[int, str]]:
        """``n`` re-sends of existing keys newer than ``newer_than_ns``
        with fresh bodies (last write wins). A re-sent body keeps the
        key's counter value, so ``/net/rx`` stays monotone in key order."""
        keys = sorted(k for k in self.live if k > newer_than_ns)
        picks = sorted(self.rng.choice(len(keys), min(n, len(keys)), replace=False))
        keys = [keys[int(p)] for p in picks]
        rx = [_RX.search(self.live[k]) for k in keys]
        rx = np.array([int(m.group(1)) if m else 0 for m in rx], dtype=np.int64)
        return list(zip(keys, self._bodies(rx)))

    def _bodies(self, rx: np.ndarray) -> list[str]:
        r = self.rng
        n = len(rx)
        host = r.integers(0, N_HOSTS, n).tolist()
        user = np.round(r.uniform(0, 100, n), 2).tolist()
        sys_ = np.round(r.uniform(0, 20, n), 2).tolist()
        used = np.round(r.uniform(500, 8000, n), 1).tolist()
        free = np.round(r.uniform(100, 4000, n), 1).tolist()
        tx = r.integers(0, 10_000, n).tolist()
        status = r.integers(0, len(STATUSES), n).tolist()
        n_tags = r.integers(1, 4, n).tolist()
        tag_ix = r.integers(0, len(TAGS), (n, 3)).tolist()
        odd = r.uniform(0, 1, (n, 3)).tolist()
        rx = np.asarray(rx).tolist()
        out = []
        for i in range(n):
            (u, v, w), s = odd[i], sys_[i]
            if u < 0.01:
                cpu = '{"sys":%r}' % s
            elif u < 0.015:
                cpu = '{"user":null,"sys":%r}' % s
            elif u < 0.02:
                cpu = '{"user":"n/a","sys":%r}' % s
            elif u < 0.04:
                cpu = '{"user":"%r","sys":%r}' % (user[i], s)
            else:
                cpu = '{"user":%r,"sys":%r}' % (user[i], s)
            if v < 0.005 or rx[i] == 0:
                net = '{"tx":%d}' % tx[i]
            elif v < 0.02:
                net = '{"rx":"%d","tx":%d}' % (rx[i], tx[i])
            else:
                net = '{"rx":%d,"tx":%d}' % (rx[i], tx[i])
            st = "" if w < 0.01 else ',"status":"%s"' % STATUSES[status[i]]
            tags = ",".join('"%s"' % TAGS[t] for t in tag_ix[i][: n_tags[i]])
            out.append(
                '{"host":"%s","cpu":%s,"mem":{"used":%r,"free":%r},'
                '"net":%s%s,"tags":[%s]}'
                % (HOSTS[host[i]], cpu, used[i], free[i], net, st, tags)
            )
        return out

    def commit(self, rows: list[tuple[int, str]]) -> None:
        """Record a batch as written (later rows of one batch win too)."""
        for ts, doc in rows:
            self.live[ts] = doc
