"""The two workloads, one closed-loop client each.

Every workload generates its documents from the seed, preloads them with
``SerieslyDB.write_batch``, warms up, and then runs whole *cycles* of ops.
A cycle holds the workload's fixed op mix (seeded parameters, fixed
shape) and takes about ``NOMINAL_CYCLE_S`` of op time on a 4-vCPU
machine; a run's length in cycles follows from ``--seconds``.

* ``dashboard``: a static 23-day store. Four panels are refreshed
  round-robin through ``QueryCache``: two with pinned absolute ranges
  (they repeat exactly, so they hit) and two with sliding "last N"
  windows aligned to their buckets. The dashboard refreshes twice per
  bucket, so a sliding window moves one bucket every second round: one
  refresh misses, the next hits. Once per cycle the user drills into the
  history: one unique ``SerieslyDB.query`` with no cache, then the raw
  samples of its range (``all_docs(limit=100)``). A cycle is two rounds
  plus the drill-down (10 ops, 6 of its 9 queries hit).
* ``ingest_live``: a store of about one day that grows. A cycle is 3
  commits of 1000 docs (5% re-send recent keys: last write wins), each
  followed by one panel query through ``QueryCache`` (every commit
  invalidates it, so it always misses) and a read-after-write ``get``,
  then one ``compact``.
"""

from __future__ import annotations

import json
import os
import time
import traceback

import numpy as np

from gen import HOSTS, DocGen
from oracle import LIST, RATE, Snapshot, diff_query

MIN, HOUR, DAY = 60_000, 3_600_000, 86_400_000  # ms
NS_PER_MS = 1_000_000
STATIC_DOCS = 40_000
STATIC_DAYS = 23
INGEST_PRELOAD = 20_000
INGEST_STEP_NS = 3_600_000_000  # 3.6 s: a 1000-doc commit spans ~1 hour
BATCH = 1000
RESEND = 50
COMMITS_PER_COMPACT = 3
NOMINAL_CYCLE_S = 5.0
NUMERIC = ["/cpu/user", "/cpu/sys", "/mem/used", "/mem/free", "/net/tx"]
PLAIN_REDUCERS = ["count", "sum", "avg", "min", "max"]


def query_class(spec: dict) -> str:
    reds = {r for _, r in spec["fields"]}
    if reds & RATE:
        return "rate"
    if reds & LIST:
        return "list"
    return "plain"


class Client:
    """Runs ops one at a time, each under its own Spark job group, and
    records latency and correctness. The measured time is the sum of op
    latencies: checking answers against the oracle happens between ops,
    while the engine is idle, and is not counted."""

    def __init__(self, spark, tracer, prefix: str):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.prefix = prefix
        self.records: list[dict] = []
        self.busy_s = 0.0

    def op(self, kind: str, fn, check, **info):
        op_id = f"{self.prefix}{len(self.records)}"
        self.sc.setJobGroup(op_id, kind)
        self.tracer.op = op_id
        rec = {"id": op_id, "kind": kind, **info}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                out = fn()
        except Exception:
            out, rec["error"] = None, traceback.format_exc(limit=3)[-400:]
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        self.busy_s += rec["ms"] / 1e3
        self.tracer.op = None
        if "error" not in rec:
            err = check(out, rec)
            if err:
                rec["error"] = err
        self.records.append(rec)
        return out


class Engine:
    """The benchmark's calls into the engine's layers, each in a span.
    With tracing on, the calls ``QueryCache`` makes inside itself
    (``db_version``, ``SerieslyDB.query``) get spans too, by wrapping them
    from here; nothing in the package changes."""

    def __init__(self, spark, root: str, tracer):
        from seriesly_spark import SerieslyDB
        from seriesly_spark.plans import cache as cache_mod
        from seriesly_spark.plans.emit import to_seriesly_json

        self.spark = spark
        self.tracer = tracer
        self.dbs = SerieslyDB(spark, os.path.join(root, "db"))
        self.cache = cache_mod.QueryCache(self.dbs, os.path.join(root, "cache"))
        self._emit = to_seriesly_json
        self.name = "samples"
        self.path = self.dbs._path(self.name)
        if tracer.enabled:
            self._wrap(self.dbs, "query", "db.query")
            self._wrap(cache_mod, "db_version", "plans.cache.db_version")

    def _wrap(self, owner, attr: str, span: str) -> None:
        fn = getattr(owner, attr)

        def traced(*a, **k):
            with self.tracer.span(span):
                return fn(*a, **k)

        setattr(owner, attr, traced)

    def reset(self) -> None:
        self.dbs.drop(self.name)
        self.dbs.create(self.name)

    @staticmethod
    def to_query(spec: dict):
        from seriesly_spark import SerieslyQuery

        return SerieslyQuery(
            group_ms=spec["group_ms"],
            fields=list(spec["fields"]),
            from_ts=spec["from"],
            to_ts=spec["to"],
            filters=list(spec["filters"]),
            aliases=[f"f{i}" for i in range(len(spec["fields"]))],
        )

    def emit(self, df, q) -> str:
        with self.tracer.span("plans.emit"):
            return self._emit(df, q.aliases)

    def query(self, spec: dict) -> str:
        q = self.to_query(spec)
        return self.emit(self.dbs.query(self.name, q), q)

    def cached_query(self, spec: dict) -> tuple[str, bool]:
        q = self.to_query(spec)
        hits = self.cache.hits
        with self.tracer.span("plans.cache.query") as attrs:
            df = self.cache.query(self.name, q)
            attrs["hit"] = self.cache.hits > hits
        return self.emit(df, q), self.cache.hits > hits

    def write_batch(self, rows) -> list[int]:
        with self.tracer.span("db.write_batch"):
            return self.dbs.write_batch(self.name, rows)

    def get(self, key: int) -> str | None:
        with self.tracer.span("db.get"):
            return self.dbs.get(self.name, key)

    def all_docs(self, key: int, limit: int) -> list[tuple[str, str]]:
        with self.tracer.span("db.all_docs"):
            rows = self.dbs.all_docs(self.name, key, None, limit=limit).collect()
        return [(r.key, r.doc) for r in rows]

    def compact(self) -> None:
        with self.tracer.span("db.compact"):
            self.dbs.compact(self.name)

    def scan_probe(self, spec: dict) -> None:
        """The query range's last-write-wins view, run to the noop sink,
        so scan cost shows apart from aggregation."""
        with self.tracer.span("db.df.scan"):
            (
                self.dbs.df(self.name, spec["from"], spec["to"])
                .write.format("noop").mode("overwrite").save()
            )

    def files(self) -> dict[str, int]:
        """Every file under the db (data and commit log): path -> bytes."""
        out = {}
        for d, _, fs in os.walk(self.path):
            for f in fs:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out


class Workload:
    name = ""
    n_docs = 0
    step_ns = 0

    def __init__(self, seed: int, scale: float, engine: Engine, tracer):
        self.seed = seed
        self.scale = scale
        self.engine = engine
        self.tracer = tracer
        self.rng = np.random.default_rng(seed + 7919)
        self.gen: DocGen | None = None
        self._parsed: dict = {}
        self._snap: Snapshot | None = None
        self.reset_layer_stats()

    def reset_layer_stats(self) -> None:
        """Storage counts the traced run gathers around commits and
        compactions."""
        self.layer = {"files_added": [], "user_bytes": 0, "bytes_added": 0,
                      "compact_rewritten": 0, "compact_removed": 0}

    # -- set-up ------------------------------------------------------------

    def setup_rep(self) -> dict:
        """Generate and preload the store from scratch; returns timings."""
        n = max(2 * BATCH, int(self.n_docs * self.scale))
        t0 = time.perf_counter()
        with self.tracer.span("setup.generate"):
            gen = DocGen(self.seed, self.step_ns)
            docs = gen.new_docs(n)
        t1 = time.perf_counter()
        self.engine.reset()
        with self.tracer.span("setup.preload"):
            self.engine.dbs.write_batch(self.engine.name, docs)
        gen.commit(docs)
        self.gen = gen
        self._snap = None
        return {"generate_s": t1 - t0, "preload_s": time.perf_counter() - t1}

    def snapshot(self) -> Snapshot:
        if self._snap is None:
            self._snap = Snapshot(self.gen.live, self._parsed)
        return self._snap

    # -- checks ------------------------------------------------------------

    def check_query(self, spec: dict):
        def check(text, rec):
            rec["bytes"] = len(text)
            got = json.loads(text)
            rec["buckets"] = len(got)
            return diff_query(self.expected(spec), got)

        return check

    def expected(self, spec: dict) -> dict:
        return self.snapshot().query(spec)

    def check_get(self, key: int):
        def check(doc, rec):
            want = self.snapshot().get(key)
            return None if doc == want else f"get({key}) returned {doc!r:.80}, expected {want!r:.80}"

        return check

    def check_all_docs(self, key: int, limit: int):
        def check(rows, rec):
            want = self.snapshot().all_docs(key, limit)
            if rows == want:
                return None
            return f"all_docs({key}) differs: {len(rows)} rows, expected {len(want)}"

        return check

    def query_op(self, client: Client, spec: dict) -> None:
        info = {"cls": query_class(spec), "filtered": bool(spec["filters"])}
        client.op("query", lambda: self.engine.query(spec), self.check_query(spec), **info)
        self.scan_probe(client, spec)

    def cached_query_op(self, client: Client, spec: dict) -> None:
        info = {"cls": query_class(spec), "filtered": bool(spec["filters"])}
        check = self.check_query(spec)

        def check_cached(out, rec):
            text, rec["hit"] = out
            return check(text, rec)

        client.op("query", lambda: self.engine.cached_query(spec), check_cached, **info)
        if client.records[-1].get("hit") is False:
            self.scan_probe(client, spec)

    def scan_probe(self, client: Client, spec: dict) -> None:
        """Traced runs only: after an op that ran a query, time the scan
        of its range on its own, under the op's id but outside its
        latency."""
        if self.tracer.enabled:
            self.tracer.op = client.records[-1]["id"]
            self.engine.scan_probe(spec)
            self.tracer.op = None

    # -- measured loop -----------------------------------------------------

    def warmup(self, client: Client) -> None:
        """Fill caches and run every op type once, so that the first
        measured cycle runs as warm as the later ones."""
        raise NotImplementedError

    def cycle(self, client: Client) -> None:
        raise NotImplementedError

    def history(self) -> tuple[int, int]:
        return self.snapshot().ts[0].item(), self.snapshot().ts[-1].item()

    def random_range(self, lo: int, hi: int, span_ns: int) -> tuple[int, int]:
        span_ns = min(span_ns, hi - lo)
        start = lo + int(self.rng.integers(0, hi - lo - span_ns + 1))
        return start, start + span_ns


def _aligned(ns: int, group_ms: int) -> int:
    g = group_ms * NS_PER_MS
    return ns // g * g


def _spec(frm: int, to: int, group_ms: int, fields, filters=()) -> dict:
    return {"from": frm, "to": to, "group_ms": group_ms,
            "fields": [tuple(f) for f in fields], "filters": [tuple(f) for f in filters]}


class Dashboard(Workload):
    name = "dashboard"
    n_docs = STATIC_DOCS
    step_ns = STATIC_DAYS * DAY * NS_PER_MS // STATIC_DOCS

    def _panels(self) -> None:
        lo, hi = self.history()
        r = self.rng
        pinned = [
            (2 * DAY, HOUR, [("/cpu/user", "avg"), ("/mem/used", "max"),
                             ("/status", "identity")], []),
            (hi - lo, DAY, [("/status", "count"), ("/mem/free", "avg")], []),
        ]
        self.pinned = []
        for span_ms, g, fields, filters in pinned:
            frm, to = self.random_range(lo, hi, span_ms * NS_PER_MS)
            self.pinned.append(_spec(frm, to, g, fields, filters))
        # Sliding windows: "last span" ending at a bucket boundary of a
        # virtual now that starts 3 days before the end of the history.
        self.sliding = [
            (6 * HOUR, 5 * MIN,
             [("/cpu/user", "avg"), ("/status", "distinct"), ("/cpu", "obj_keys")],
             [("/host", HOSTS[int(r.integers(len(HOSTS)))])]),
            (DAY, HOUR, [("/net/rx", "c")], []),
        ]
        self.now0 = hi - 3 * DAY * NS_PER_MS - int(r.integers(0, HOUR * NS_PER_MS))
        self._memo: dict = {}

    def sliding_spec(self, i: int, round_: int) -> dict:
        span_ms, g, fields, filters = self.sliding[i]
        end = _aligned(self.now0, g) + (round_ + 1) // 2 * g * NS_PER_MS
        return _spec(end - span_ms * NS_PER_MS, end - 1, g, fields, filters)

    def expected(self, spec: dict) -> dict:
        key = repr(sorted(spec.items()))
        if key not in self._memo:
            self._memo[key] = super().expected(spec)
        return self._memo[key]

    def warmup(self, client: Client) -> None:
        self._panels()
        self.rounds = 0
        self.refresh(client)
        self.drill_down(client)

    def refresh(self, client: Client) -> None:
        self.rounds += 1
        for i in range(len(self.pinned)):
            self.cached_query_op(client, self.pinned[i])
            self.cached_query_op(client, self.sliding_spec(i, self.rounds))

    def drill_down(self, client: Client) -> None:
        """A unique history query, with no cache: 2 numeric pointers with
        plain reducers, 1-hour buckets over a week at a random place in
        the history, a ``/host`` filter on 30% of them; then the first 100
        raw samples of its range."""
        lo, hi = self.history()
        r = self.rng
        span = 7 * DAY * NS_PER_MS
        fields = [(NUMERIC[int(r.integers(len(NUMERIC)))],
                   PLAIN_REDUCERS[int(r.integers(len(PLAIN_REDUCERS)))]) for _ in range(2)]
        filters = [("/host", HOSTS[int(r.integers(len(HOSTS)))])] if r.uniform() < 0.3 else []
        spec = _spec(*self.random_range(lo, hi, span), HOUR, fields, filters)
        self.query_op(client, spec)
        client.op("lookup", lambda: self.engine.all_docs(spec["from"], 100),
                  self.check_all_docs(spec["from"], 100), call="all_docs")

    def cycle(self, client: Client) -> None:
        self.refresh(client)
        self.refresh(client)
        self.drill_down(client)


class IngestLive(Workload):
    name = "ingest_live"
    n_docs = INGEST_PRELOAD
    step_ns = INGEST_STEP_NS

    def panel(self, day: bool) -> dict:
        """The last day in 1-hour buckets, or the last hour in 1-minute
        buckets, up to the newest key."""
        span, group = (DAY, HOUR) if day else (HOUR, MIN)
        hi = self.gen.next_ns
        return _spec(hi - span * NS_PER_MS + 1, hi, group,
                     [("/cpu/user", "avg"), ("/mem/used", "max"), ("/status", "count")])

    def commit_op(self, client: Client, i: int) -> int:
        """One 1000-doc commit; returns the key its read-after-write
        ``get`` reads back (a re-sent key on even commits)."""
        recent = self.gen.next_ns - DAY * NS_PER_MS
        resent = self.gen.resend(RESEND, newer_than_ns=recent)
        rows = self.gen.new_docs(BATCH - len(resent)) + resent
        user_bytes = sum(len(d) for _, d in rows)
        before = self.engine.files() if self.tracer.enabled else None

        def check(keys, rec):
            return None if keys == [k for k, _ in rows] else "write_batch returned other keys"

        client.op("commit", lambda: self.engine.write_batch(rows), check, docs=len(rows))
        self.gen.commit(rows)
        self._snap = None
        if before is not None:
            after = self.engine.files()
            self.layer["files_added"].append(
                sum(1 for p in after if p.endswith(".parquet") and p not in before))
            self.layer["bytes_added"] += sum(after.values()) - sum(before.values())
            self.layer["user_bytes"] += user_bytes
        return resent[0][0] if i % 2 == 0 and resent else rows[0][0]

    def compact_op(self, client: Client) -> None:
        before = self.engine.files() if self.tracer.enabled else None

        def check(_, rec):
            for d in os.listdir(self.engine.path):
                if d.startswith("date="):
                    n = sum(f.endswith(".parquet") for f in os.listdir(os.path.join(self.engine.path, d)))
                    if n != 1:
                        return f"{d} holds {n} files after compact"
            return None

        client.op("compact", self.engine.compact, check)
        if before is not None:
            after = self.engine.files()
            new = [p for p in after if p not in before and "/date=" in p]
            self.layer["compact_rewritten"] += sum(after[p] for p in new)
            self.layer["compact_removed"] += sum(
                1 for p in before if p not in after and p.endswith(".parquet") and "/date=" in p)

    def iteration(self, client: Client, i: int) -> None:
        key = self.commit_op(client, i)
        self.cached_query_op(client, self.panel(day=i % 2 == 1))
        client.op("lookup", lambda: self.engine.get(key), self.check_get(key), call="get")

    def warmup(self, client: Client) -> None:
        self.cycle(client)

    def cycle(self, client: Client) -> None:
        for i in range(COMMITS_PER_COMPACT):
            self.iteration(client, i)
        self.compact_op(client)


WORKLOADS = {w.name: w for w in (Dashboard, IngestLive)}
