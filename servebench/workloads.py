"""The two workloads: ``serve_search`` and ``ingest_live``.

Each returns a :class:`Outcome` with its timings, counts and checks;
``worker.py`` turns outcomes into metrics.  Only the operations inside
the measured window count toward latency and throughput; input
generation, reference answers and answer checks run outside the timed
spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import socket
import threading
import time
import traceback
from dataclasses import dataclass, field

import inputs
from check import hits_of, same_ranking

K = 10
N_CLIENTS = 2
POOL = 48                  # distinct queries the request streams draw from
DELETES_PER_CYCLE = 2
REQUESTS_PER_CYCLE = 3     # in-vocabulary requests timed per cycle
PROBES = 1                 # requests re-run after compaction


@dataclass
class Sizes:
    serve_docs: int = 500
    live_docs: int = 400
    batch_docs: int = 50


SMOKE_SIZES = Sizes(serve_docs=120, live_docs=100, batch_docs=10)


@dataclass
class Outcome:
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)  # single requests
    oov_latencies: list[float] = field(default_factory=list)  # OOV ones
    ops_done: int = 0                   # workload operations completed
    ops_busy_s: float = 0.0             # wall time those operations took
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    request_ops: list[str] = field(default_factory=list)  # traced op ids
    queries: list[str] = field(default_factory=list)      # issued, in order
    hit_rows: list[int] = field(default_factory=list)
    agg_rows: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)    # workload-specific figures
    layer: dict = field(default_factory=dict)    # per-layer figures

    def add_latency(self, query: str, seconds: float) -> None:
        """OOV requests skip scoring and answer in about two thirds of
        the time, so they are kept apart: a run's share of them varies
        with the seed and would move the median."""
        (self.oov_latencies if inputs.is_oov(query)
         else self.latencies).append(seconds)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Ctx:
    """What every workload needs: the session, its scratch directory,
    the tracer and the engine modules (imported lazily, after the
    worker has put the checkout on ``sys.path``)."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 sizes: Sizes, tracer, groups, corrupt: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.sizes, self.corrupt = seconds, sizes, corrupt
        self.tracer, self.groups = tracer, groups
        from garamond_jl_spark.config import EngineConfig
        from garamond_jl_spark.functions import textprep
        self.cfg = EngineConfig()
        self.tokenize = lambda q: textprep.tokenize_with_config(q, self.cfg)

    def build(self, corpus: str, out: str, n_docs: int, o: Outcome,
              term_buckets: int) -> None:
        """Build the persisted index (inside set-up).  One build bucket
        and no champion lists: neither plan the workloads run reads
        them, and each costs Spark jobs in every run's set-up."""
        from garamond_jl_spark.operators import persist
        t0 = time.perf_counter()
        persist.build_persistent(self.spark, self.spark.read.parquet(corpus),
                                 self.cfg, out, n_buckets=1,
                                 term_buckets=term_buckets, champion_p=0)
        dt = time.perf_counter() - t0
        o.layer["persist.build_persistent_s"] = dt
        o.layer["persist.build_docs_per_s"] = n_docs / dt

    def build_stats(self, corpus: str, out: str, o: Outcome) -> None:
        """Untimed build figures read back from the index."""
        from garamond_jl_spark.operators import persist
        o.layer["persist.index_bytes_per_input_byte"] = (
            dir_bytes(out) / os.path.getsize(corpus))
        if self.tracer.enabled:
            o.layer["build.tokenize_s"] = float(sum(
                r["wall_sec"] for r in persist.lineage(self.spark, out)
                .select("wall_sec").collect()))

    def df_table(self, index) -> dict[str, int]:
        return {r["term"]: int(r["df"])
                for r in index.terms.select("term", "df").collect()}

    def agg_rows(self, df: dict[str, int], q: str) -> int:
        """Exact-plan aggregation input of one request: Σ df over its
        distinct in-vocabulary terms."""
        return sum(df.get(t, 0) for t in set(self.tokenize(q)))


# ---------------------------------------------------------------- serve
def _request_line(query: str, op: str) -> bytes:
    req = {"operation": "search", "query": query, "max_matches": K,
           "response_size": K, "response_page": 1,
           "request_id_key": op}
    return json.dumps(req).encode() + b"\n"


def serve_search(ctx: Ctx) -> Outcome:
    """Closed loop: two client connections to the TCP socket server,
    each sending one search request and waiting for its reply."""
    from garamond_jl_spark.operators import persist, query, resident
    from garamond_jl_spark.plans import lifecycle
    from garamond_jl_spark.server import socket as socket_mod
    o, sz, tr = Outcome(), ctx.sizes, ctx.tracer
    corpus = os.path.join(ctx.work, "corpus.parquet")
    inputs.write_docs(corpus, ctx.seed, 0, sz.serve_docs)
    pool = inputs.query_set(ctx.seed, POOL, df=inputs.term_df(
        ctx.seed, sz.serve_docs, ctx.tokenize))
    streams = [inputs.query_stream(ctx.seed, c, pool, 500)
               for c in range(N_CLIENTS)]
    idx_dir = os.path.join(ctx.work, "index")
    _patch_request_path(ctx, lifecycle, socket_mod)
    tr.wrap(resident, "make_resident", "resident.make_resident")

    t0 = time.perf_counter()
    ctx.build(corpus, idx_dir, sz.serve_docs, o, term_buckets=8)
    with tr.span("resident.load_index") as load_span:
        index = persist.load_index(ctx.spark, idx_dir, resident=True)
    server = socket_mod.socket_server(
        lifecycle.SearchEnv(spark=ctx.spark, index=index))
    o.setup_s = time.perf_counter() - t0
    try:
        o.layer["resident.make_resident_s"] = (
            _child_time(tr, load_span, "resident.make_resident"))
        ctx.build_stats(corpus, idx_dir, o)
        # reference answers by another path: the batched exact plan
        t1 = time.perf_counter()
        ref_rows = query.search(ctx.spark, index, pool, k=K,
                                hydrate=False).collect()
        o.extra["ref_batch_qps"] = len(pool) / (time.perf_counter() - t1)
        ref: dict[str, list] = {q: [] for q in pool}
        for r in ref_rows:
            ref[pool[r["query_id"]]].append(r)
        ref = {q: hits_of(rows) for q, rows in ref.items()}
        df = {t: index.resident.df_of([t]).get(t, 0)
              for q in pool for t in ctx.tokenize(q)}
        clients = _Clients(ctx, server.port, [s[1:] for s in streams])
        clients.warm_up(streams[0][0])
        clients.run()
        _check_serve(ctx, o, clients.window_start, clients.done,
                     clients.errors, ref, df)
    finally:
        server.shutdown()
        tr.unpatch()
    return o


class _Clients:
    """Closed-loop clients, one thread and connection each, in lockstep
    rounds: every client sends one request and waits for its reply, and
    the next round starts when all replies are in, so that every timed
    request shares the server with the same number of others.  Rounds
    start until ``ctx.seconds`` have passed since the first."""

    def __init__(self, ctx: Ctx, port: int, streams: list[list[str]]):
        self.ctx, self.port, self.streams = ctx, port, streams
        self.done: list[tuple] = []   # (op, query, t_send, t_reply, raw, timed)
        self.errors: list[str] = []
        self.window_start = 0.0
        self._open = True
        self._lock = threading.Lock()
        self._round = threading.Barrier(len(streams), action=self._next)

    def _next(self) -> None:
        now = time.perf_counter()
        if not self.window_start:
            self.window_start = now
        self._open = now - self.window_start < self.ctx.seconds

    def warm_up(self, query: str) -> None:
        """One untimed request on its own connection: the JVM is still
        compiling the request path."""
        try:
            with self._connect() as (conn, rf):
                self._send(conn, rf, "w0", query, timed=False)
        except OSError:
            self.errors.append(traceback.format_exc())

    def run(self) -> None:
        threads = [threading.Thread(target=self._run, args=(c, s))
                   for c, s in enumerate(self.streams)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=170)

    @contextlib.contextmanager
    def _connect(self):
        with socket.create_connection(("127.0.0.1", self.port),
                                      timeout=120) as conn, \
                conn.makefile("rb") as rf:
            yield conn, rf

    def _send(self, conn, rf, op: str, q: str, timed: bool) -> None:
        with self.ctx.tracer.span("socket.request", op=op):
            t0 = time.perf_counter()
            conn.sendall(_request_line(q, op))
            raw = rf.readline()
            t1 = time.perf_counter()
        with self._lock:
            self.done.append((op, q, t0, t1, raw, timed))

    def _run(self, ci: int, stream: list[str]) -> None:
        try:
            with self._connect() as (conn, rf):
                for n, q in enumerate(stream):
                    self._round.wait(timeout=170)
                    if not self._open:
                        return
                    self._send(conn, rf, f"c{ci}-{n}", q, timed=True)
        except (OSError, threading.BrokenBarrierError):
            with self._lock:
                self.errors.append(traceback.format_exc())
            self._round.abort()


def _check_serve(ctx, o, start, done, errors, ref, df) -> None:
    """Check every reply, warm-up replies included, against the
    reference answers; only replies inside the window are timed."""
    tr = ctx.tracer
    for e in errors:
        o.attempted += 1
        o.fail(f"client connection error: {e}")
    timed = [d for d in done if d[5]]
    corrupt = ctx.corrupt
    if timed:
        o.ops_busy_s = max(d[3] for d in timed) - start
    for op, q, t0, t1, raw, in_window in sorted(done, key=lambda d: d[2]):
        o.attempted += 1
        if in_window:
            o.queries.append(q)
            o.request_ops.append(op)
        try:
            body = json.loads(raw.decode() or "null")
        except ValueError:
            body = None
        if not isinstance(body, dict):
            o.fail(f"{op}: error or empty reply for {q!r}")
            continue
        got = hits_of(body["results"])
        if corrupt and got:            # the first non-empty answer
            got[0] = (got[0][0], got[0][1], got[0][2] + 0.01)
            corrupt = False
        if not same_ranking(ref[q], got) or (inputs.is_oov(q) and got):
            o.fail(f"{op}: wrong answer for {q!r}")
            continue
        if not in_window:
            continue
        o.ops_done += 1
        o.add_latency(q, t1 - t0)
        o.hit_rows.append(len(got))
        o.agg_rows.append(ctx.agg_rows(df, q))
    o.extra["socket_wait"] = [
        s["start"] - tr.first("socket.request", op)["start"]
        for op in o.request_ops
        if (s := tr.first("socket.respond_line", op)) is not None]


def _patch_request_path(ctx, lifecycle, socket_mod=None) -> None:
    """Traced run: spans around the request path's layer calls and,
    with ``socket_mod``, a Spark job group per socket request."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    if socket_mod is not None:
        orig = socket_mod.respond_line

        def respond_line(srv, line):
            op = json.loads(line).get("request_id_key")
            with ctx.groups.op(op), tr.span("socket.respond_line", op=op):
                return orig(srv, line)

        tr.replace(socket_mod, "respond_line", respond_line)
        tr.wrap(socket_mod, "response_json", "lifecycle.response_json")
    tr.wrap(lifecycle, "response_json", "lifecycle.response_json")
    tr.wrap(lifecycle, "search", "lifecycle.search")
    tr.wrap(lifecycle, "parse_input", "query_parser.parse_input")
    tr.wrap(lifecycle, "embed_queries", "query.embed_queries")
    tr.wrap(lifecycle, "topk_plan", "query.topk_plan")
    frame_cls = type(ctx.spark.range(1))   # the concrete DataFrame class
    for action in ("collect", "count", "toPandas"):
        tr.wrap(frame_cls, action, "spark.action")


def _child_time(tr, parent: dict | None, name: str) -> float:
    if parent is None:
        return 0.0
    return sum(s["end"] - s["start"] for s in tr.spans
               if s["name"] == name and s["parent"] == parent["id"])


# --------------------------------------------------------------- ingest
def ingest_live(ctx: Ctx) -> Outcome:
    """Closed loop, one writer and reader on a lazily loaded index: each
    cycle appends a batch, deletes a few earlier ids, reloads the live
    view and runs a few distinct single requests on it.  After the
    last cycle that fits the window the index is compacted and the
    first of that cycle's requests (the probe) runs again on the
    compacted view, where it must rank identically."""
    from garamond_jl_spark.plans import lifecycle
    from garamond_jl_spark.streaming import incremental
    o, sz = Outcome(), ctx.sizes
    corpus = os.path.join(ctx.work, "corpus.parquet")
    inputs.write_docs(corpus, ctx.seed, 0, sz.live_docs)
    pool = inputs.query_set(ctx.seed, POOL, df=inputs.term_df(
        ctx.seed, sz.live_docs, ctx.tokenize))
    stream = inputs.query_stream(ctx.seed, 0, pool, 500)
    st = _LiveState(ctx, os.path.join(ctx.work, "index"), sz.live_docs,
                    stream)
    _patch_request_path(ctx, lifecycle)

    t0 = time.perf_counter()
    ctx.build(corpus, st.idx_dir, sz.live_docs, o, term_buckets=0)
    live = incremental.load_live_index(ctx.spark, st.idx_dir)
    o.setup_s = time.perf_counter() - t0
    try:
        ctx.build_stats(corpus, st.idx_dir, o)
        if ctx.tracer.enabled:        # only query.agg_input_rows reads it
            st.df = ctx.df_table(live)
        # start a cycle only while one as long as the last one still
        # ends inside the window, so that a run holds the same cycles
        # and requests on a faster or slower host
        start = last = time.perf_counter()
        while (probes := _cycle(ctx, o, st, incremental,
                                lifecycle)) is not None:
            now = time.perf_counter()
            if 2 * now - last - start > ctx.seconds:
                _compact(ctx, o, st, incremental, lifecycle, probes)
                break
            last = now
        o.extra.update(st.figures())
    finally:
        ctx.tracer.unpatch()
    return o


class _LiveState:
    """Writer-side bookkeeping: which ids are live, which deleted."""

    def __init__(self, ctx: Ctx, idx_dir: str, n_docs: int,
                 stream: list[str]):
        self.idx_dir, self.stream = idx_dir, stream
        self.next_id, self.base = n_docs, n_docs
        self.deleted: set[int] = set()
        self.cycle = self.stream_pos = 0
        self.rng = random.Random(f"victims:{ctx.seed}")
        self.df: dict[str, int] = {}
        self.appends, self.freshness, self.compactions = [], [], []
        self.probe_s: list[float] = []
        self.loads, self.postings, self.segments = [], [], []
        self.bytes_in = self.bytes_out = 0

    def live_count(self) -> int:
        return self.next_id - len(self.deleted)

    def victims(self, n: int) -> list[int]:
        """``n`` live ids written before this cycle, the first from the
        base corpus."""
        out: list[int] = []
        while len(out) < n:
            d = self.rng.randrange(self.base if not out else self.next_id)
            if d not in self.deleted and d not in out:
                out.append(d)
        return out

    def next_query(self) -> str:
        q = self.stream[self.stream_pos % len(self.stream)]
        self.stream_pos += 1
        return q

    def next_distinct(self, n: int) -> list[str]:
        """The next distinct queries of the stream, up to and including
        the ``n``-th in-vocabulary one; OOV queries drawn on the way are
        sent and checked too, so every cycle times ``n`` requests that
        score."""
        out: list[str] = []
        while sum(not inputs.is_oov(q) for q in out) < n:
            q = self.next_query()
            if q not in out:
                out.append(q)
        return out

    def figures(self) -> dict:
        return {"append_s": self.appends, "freshness_s": self.freshness,
                "compact_s": self.compactions, "load_live_s": self.loads,
                "probe_s": self.probe_s,
                "postings_appended": self.postings,
                "delta_segments": self.segments,
                "bytes_written_per_input_byte":
                    self.bytes_out / self.bytes_in if self.bytes_in else 0.0}


def _run_op(ctx: Ctx, o: Outcome, op: str, name: str, fn):
    """One counted operation with its span and job group.  Returns
    ``(ok, value)``; an exception counts as failed."""
    o.attempted += 1
    try:
        with ctx.groups.op(op), ctx.tracer.span(name, op=op):
            return True, fn()
    except Exception:                 # noqa: BLE001 — counted and logged
        o.fail(f"{op}: {traceback.format_exc()}")
        return False, None


def _request(ctx, o, st: _LiveState, lifecycle, index, q: str,
             op: str, timed: bool = True) -> list | None:
    """One single request on a live view; the answer must hold ``k``
    live documents (none for an OOV query) and no deleted one.  A timed
    request counts toward the latency figures."""
    env = lifecycle.SearchEnv(spark=ctx.spark, index=index)
    t0 = time.perf_counter()
    ok, body = _run_op(ctx, o, op, "request", lambda: json.loads(
        lifecycle.response_json(env, lifecycle.InternalRequest(
            query=q, max_matches=K, response_size=K))))
    dt = time.perf_counter() - t0
    if timed:
        o.queries.append(q)
        o.request_ops.append(op)
    if not ok:
        return None
    got = hits_of(body["results"])
    want = 0 if inputs.is_oov(q) else min(K, st.live_count())
    dead = sorted({h[0] for h in got} & st.deleted)
    if len(got) != want or dead:
        o.fail(f"{op}: wrong answer for {q!r}: {len(got)} hits of {want}, "
               f"deleted ids {dead}")
        return None
    if timed:
        o.add_latency(q, dt)
        o.hit_rows.append(len(got))
        o.agg_rows.append(ctx.agg_rows(st.df, q))
    return got


def _cycle(ctx, o, st: _LiveState, incremental,
           lifecycle) -> list[tuple[str, list]] | None:
    """Append, delete, reload, requests; returns the probes (each
    request and its answer), or None when an operation failed."""
    spark, sz = ctx.spark, ctx.sizes
    c = st.cycle
    st.cycle += 1
    batch = os.path.join(ctx.work, f"batch{c}.parquet")
    st.bytes_in += inputs.write_docs(batch, ctx.seed, st.next_id,
                                     sz.batch_docs)
    new_ids = list(range(st.next_id, st.next_id + sz.batch_docs))
    victims = st.victims(DELETES_PER_CYCLE)
    before = dir_bytes(st.idx_dir)

    t0 = time.perf_counter()
    ok, n_post = _run_op(ctx, o, f"a{c}", "incremental.append_docs",
                         lambda: incremental.append_docs(
                             spark, st.idx_dir, spark.read.parquet(batch)))
    t1 = time.perf_counter()
    if not ok:
        return None
    st.next_id += sz.batch_docs
    st.bytes_out += dir_bytes(st.idx_dir) - before
    ok, _ = _run_op(ctx, o, f"d{c}", "incremental.delete_docs",
                    lambda: incremental.delete_docs(spark, st.idx_dir,
                                                    victims))
    if not ok:
        return None
    st.deleted.update(victims)
    st.segments.append(len([d for d in os.listdir(
        os.path.join(st.idx_dir, "delta")) if not d.startswith("_")]))
    t2 = time.perf_counter()
    ok, live = _run_op(ctx, o, f"l{c}", "incremental.load_live_index",
                       lambda: incremental.load_live_index(spark, st.idx_dir))
    t3 = time.perf_counter()
    if not ok:
        return None
    st.appends.append(t1 - t0)
    st.postings.append(n_post)
    st.loads.append(t3 - t2)
    # the view must count the batch: live-doc total, appended ids
    # present, every deleted id absent
    from pyspark.sql import functions as F
    seen = {r["doc_id"] for r in live.docs.where(
        F.col("doc_id").isin(new_ids + sorted(st.deleted)))
        .select("doc_id").collect()}
    if ctx.corrupt and c == 0:
        seen.discard(new_ids[0])
    if (live.meta.get("n_live_docs") != st.live_count()
            or not set(new_ids) <= seen or seen & st.deleted):
        o.fail(f"l{c}: live view does not reflect cycle {c}")
    else:
        st.freshness.append(t3 - t0)
    probes = []
    t4 = time.perf_counter()
    for j, q in enumerate(st.next_distinct(REQUESTS_PER_CYCLE)):
        got = _request(ctx, o, st, lifecycle, live, q, f"q{c}-{j}")
        if got is None:
            return None
        if not inputs.is_oov(q):
            probes.append((q, got))
    o.ops_done += 1                   # the view check is not timed
    o.ops_busy_s += (t3 - t0) + (time.perf_counter() - t4)
    return probes


def _compact(ctx, o, st: _LiveState, incremental, lifecycle,
             probes: list[tuple[str, list]]) -> None:
    """Compact, then run the first probes again on the compacted view.
    Probes check ranks and are not timed: the request latency is that
    of requests on a live view under writes."""
    n = len(st.compactions)
    t0 = time.perf_counter()
    ok, _ = _run_op(ctx, o, f"k{n}", "incremental.compact",
                    lambda: incremental.compact(ctx.spark, st.idx_dir))
    if not ok:
        return
    st.compactions.append(time.perf_counter() - t0)
    view = incremental.load_live_index(ctx.spark, st.idx_dir)
    for j, (q, before) in enumerate(probes[:PROBES]):
        t1 = time.perf_counter()
        after = _request(ctx, o, st, lifecycle, view, q, f"p{n}-{j}",
                         timed=False)
        st.probe_s.append(time.perf_counter() - t1)
        if after is not None and not same_ranking(before, after):
            o.fail(f"p{n}-{j}: {q!r} ranks differently after compaction")


WORKLOADS = {"serve_search": serve_search, "ingest_live": ingest_live}
