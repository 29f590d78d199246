"""The three workloads: ``ingest``, ``chat`` and ``batch``.

Each workload function takes a ``Context``, returns its end-to-end
metrics and fills the context's per-layer samples. Every operation's
output is checked; a raised error or a wrong answer counts as a failed
operation. See README.md for why each workload exists and which
per-layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from datagen import EmailStream, batch_tables, chat_queries
from harness import RssSampler, Tracer, quantile, steal_s, tree_cpu_s
from mirror import HashEmbedder, StoreMirror

DIM = 384  # the reference's vector(384) column
TOP_K = 5

# Registry queries of the batch pass, one or two per operator layer.
BATCH_QUERIES = (
    "minhash_lsh_near_dups",  # operators.dedup
    "prefix_filter_jaccard_join",  # operators.setsim
    "knn_join_probe_cutover",  # operators.knn / operators.ivf
    "embedding_near_dups_lsh",  # operators.similarity
    "splade_expansion_from_index",  # plans.postings Arrow lanes
    "kcore_part_basket",  # plans.graph driver loop
    "q3_shipping_priority",  # relational join + top-k
)
BATCH_TABLES = ("documents", "embeddings", "customer", "orders", "lineitem")

SIZES = {
    "full": {
        "ingest_batch": 2000,
        "ingest_warmup": 200,
        "chat_store": 2000,
        "chat_append": 50,
        "chat_delete": 10,
        "chat_warmup_turns": 6,
        # TPC-H-like row counts of the sf0.01 fixture (TESTDATA.md)
        "tables": {
            "documents": 500,
            "embeddings": 500,
            "customer": 1500,
            "orders": 15000,
            "lineitem": 60000,
            "part": 2000,
        },
    },
    "smoke": {
        "ingest_batch": 100,
        "ingest_warmup": 20,
        "chat_store": 100,
        "chat_append": 10,
        "chat_delete": 3,
        "chat_warmup_turns": 1,
        # row counts of the sf0.001 fixture
        "tables": {
            "documents": 500,
            "embeddings": 500,
            "customer": 150,
            "orders": 1500,
            "lineitem": 6000,
            "part": 200,
        },
    },
}

LAYER_METRICS = (
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.extract_plain_text_s", "s"),
    ("pipeline.embedder_s", "s"),
    ("pipeline.store.append_s", "s"),
    ("pipeline.store.append_written_frac", "ratio"),
    ("pipeline.store.append_jobs", "count"),
    ("pipeline.store.compact_s", "s"),
    ("pipeline.store.search_build_s", "s"),
    ("pipeline.store.files", "count"),
    ("pipeline.store.tombstones", "count"),
    ("pipeline.store.delete_s", "s"),
    ("pipeline.store.bytes_per_doc", "B"),
    ("pipeline.rag.classify_s", "s"),
    ("pipeline.rag.assemble_context_s", "s"),
    ("pipeline.rag.turn_jobs", "count"),
    ("pipeline.rag.turn_tasks", "count"),
    ("plans.warehouse_files_built", "count"),
    ("wall.op_p50_s", "s"),
    ("wall.op_p90_s", "s"),
    ("host.steal_frac", "ratio"),
    ("host.peak_rss_gb", "GB"),
) + tuple(
    (f"plans.{q}.{m}", u)
    for q in BATCH_QUERIES
    for m, u in (
        ("build_s", "s"),
        ("exec_s", "s"),
        ("jobs", "count"),
        ("tasks", "count"),
        ("leaked_rdds", "count"),
    )
) + (("trace_overhead_frac", "ratio"),)

E2E_METRICS = (
    ("setup_s", "s"),
    ("op_cpu_p50_s", "s"),
    ("op_cpu_p90_s", "s"),
    ("work_per_cpu_s", "1/s"),
)


class Context:
    """One benchmark process: settings, session lifecycle, tracer, the
    attempted/failed tally and per-layer samples."""

    def __init__(self, *, root, work, seed, seconds, trace, sizes, extra_conf):
        self.root, self.work = root, work
        self.seed, self.seconds = seed, seconds
        self.sizes = sizes
        self.extra_conf = extra_conf
        self.tracer = Tracer(trace)
        self.trace = trace
        self.spark = None
        self.attempted = self.failed = 0
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.import_s = 0.0
        self._untimed = 0.0
        self.rss: RssSampler | None = None

    # -- session --------------------------------------------------------
    def start_session(self) -> None:
        from emails_to_vector_db_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=os.environ["SPARK_GRAFT_CPUS"],
            extra_conf=self.extra_conf,
        )
        self.layer["session.get_spark_s"].append(time.perf_counter() - t)
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss = RssSampler(self.jvm_pid)
        self.rss.start()

    def close(self) -> None:
        """Stop the session and the JVM, and wait until both have ended."""
        from pyspark import SparkContext

        if self.rss is not None:
            self.rss.stop()
            self.layer["host.peak_rss_gb"].append(self.rss.peak / 1e9)
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def timed_setup(self, prepare) -> float:
        """Wall time of the set-up: imports, session start, then
        ``prepare()`` (warm-up and store or index build). Work inside
        ``untimed()`` (the benchmark's own copies and output checks) is
        not counted."""
        u0 = self._untimed
        t = time.perf_counter()
        self.start_session()
        w = time.perf_counter()
        prepare()
        end = time.perf_counter()
        spent = self._untimed - u0
        self.layer["session.warmup_s"].append(end - w - spent)
        return self.import_s + end - t - spent

    @contextmanager
    def untimed(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._untimed += time.perf_counter() - t

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    # -- outcome tally ---------------------------------------------------
    def attempt(self, fn):
        """Run one operation; returns (ok, value). An exception counts as
        a failed operation and is reported on stderr."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # any engine error is a failed operation
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None

    def measure(self, fn):
        """One timed operation: (ok, value, wall seconds, CPU seconds).
        CPU is the engine's: the driver JVM and its Python workers, plus
        this thread's own py4j calls."""
        c0 = tree_cpu_s(self.jvm_pid) + time.thread_time()
        t0 = time.perf_counter()
        ok, value = self.attempt(fn)
        wall = time.perf_counter() - t0
        return ok, value, wall, tree_cpu_s(self.jvm_pid) + time.thread_time() - c0

    def begin_measure(self) -> None:
        self._measure0 = (time.perf_counter(), steal_s())

    def summary(self, setup_s, wall, cpu, work, work_cpu) -> dict[str, float]:
        """End-to-end metrics of the untraced operations. Wall latency
        goes to the per-layer report: on a shared machine it moves with
        hypervisor steal, which ``host.steal_frac`` records."""
        t0, s0 = self._measure0
        span = time.perf_counter() - t0
        ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
        self.layer["host.steal_frac"].append((steal_s() - s0) / (ncpu * span))
        self.layer["wall.op_p50_s"].append(quantile(wall, 0.5))
        self.layer["wall.op_p90_s"].append(quantile(wall, 0.9))
        return {
            "setup_s": setup_s,
            "op_cpu_p50_s": quantile(cpu, 0.5),
            "op_cpu_p90_s": quantile(cpu, 0.9),
            "work_per_cpu_s": work / work_cpu,
        }

    def check(self, ok: bool, what: str) -> None:
        """Count a wrong answer as a failure (the operation was already
        counted as attempted)."""
        if not ok:
            self.failed += 1
            print(f"WRONG: {what}", file=sys.stderr)

    # -- per-layer summaries ---------------------------------------------
    def span_metrics(self) -> None:
        """Median self time per span name, as ``<span>_s``."""
        for name, vals in self.tracer.self_times().items():
            self.layer[f"{name}_s"].append(statistics.median(vals))

    def per_layer(self) -> dict[str, float]:
        out = {}
        for name, _unit in LAYER_METRICS:
            vals = self.layer.get(name)
            # a layer this workload never calls did no work: 0
            out[name] = float(statistics.median(vals)) if vals else 0.0
        return out


def _store_layout(path: str) -> tuple[int, int]:
    """(data parquet files, bytes of all parquet files) under a store."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += "_tombstones" not in d
    return files, size


def _raw_df(spark, rows):
    from emails_to_vector_db_spark.sources.emails import RAW_EMAIL_SCHEMA

    return spark.createDataFrame([(m, raw) for m, raw, _ in rows], RAW_EMAIL_SCHEMA)


def _ingest(ctx: Context, raw_df, store, embedder, traced: bool, trace_id: int):
    """One ingest call. Untraced: the public one-call pipeline. Traced:
    the same steps ``ingest_emails`` composes, with each layer's output
    materialised at its boundary so the span holds that layer's work."""
    from emails_to_vector_db_spark.sources.emails import ingest_emails

    if not traced:
        return ingest_emails(ctx.spark, raw_df, store, embedder)
    from pyspark.sql import functions as F

    from emails_to_vector_db_spark.pipeline import embed_documents
    from emails_to_vector_db_spark.sources.emails import extract_plain_text

    tr = ctx.tracer
    with tr.span("ingest.batch", trace_id):
        with tr.span("sources.extract_plain_text"):
            texts = extract_plain_text(raw_df).select(
                F.col("msg_id").alias(store.id_col), F.col("text").alias("content")
            )
            texts = texts.persist()
            texts.count()
        with tr.span("pipeline.embedder"):
            embedded = embed_documents(texts, embedder).persist()
            offered = embedded.count()
        with tr.span("pipeline.store.append"):
            written = store.append(embedded)
        embedded.unpersist()
        texts.unpersist()
    if offered:
        ctx.layer["pipeline.store.append_written_frac"].append(written / offered)
    return written


def _store_metrics(ctx: Context, path: str, live_docs: int, tombstones: int):
    files, size = _store_layout(path)
    ctx.layer["pipeline.store.files"].append(files)
    ctx.layer["pipeline.store.tombstones"].append(tombstones)
    ctx.layer["pipeline.store.bytes_per_doc"].append(size / max(live_docs, 1))
    ctx.layer["pipeline.store.append_jobs"].extend(
        ctx.tracer.field("pipeline.store.append", "jobs")
    )


def _overhead(ctx: Context, plain: list[float], traced: list[float]) -> None:
    if plain and traced:
        ctx.layer["trace_overhead_frac"].append(
            statistics.median(traced) / statistics.median(plain) - 1.0
        )


# ---------------------------------------------------------------------------
# ingest: bulk backfill through parse -> embed -> dedup append -> compact
# ---------------------------------------------------------------------------


def ingest(ctx: Context) -> dict[str, float]:
    from emails_to_vector_db_spark.pipeline import EmbeddingStore, HashingEmbedder

    sz = ctx.sizes
    embedder = HashingEmbedder(DIM)
    n_warm = sz["ingest_warmup"]

    def prepare():
        store = EmbeddingStore(ctx.spark, ctx.fresh_dir("ingest-warmup"))
        with ctx.untimed():
            warm = EmailStream(ctx.seed + 7919, prefix="w")
            first, second = warm.take(n_warm), warm.take(n_warm)
            df1 = _raw_df(ctx.spark, first)
            df2 = _raw_df(ctx.spark, second + first[: n_warm // 10])
        _ingest(ctx, df1, store, embedder, False, 0)
        _ingest(ctx, df2, store, embedder, False, 0)
        store.compact()

    setup_s = ctx.timed_setup(prepare)

    path = ctx.fresh_dir("ingest-store")
    store = EmbeddingStore(ctx.spark, path)
    stream = EmailStream(ctx.seed)
    rng = np.random.default_rng(ctx.seed + 17)
    sent: list[tuple] = []
    expected_ids: set[str] = set()
    plain, traced, cpu, written_total = [], [], [], 0
    ctx.begin_measure()
    deadline = time.perf_counter() + ctx.seconds
    batch = 0
    while not plain or time.perf_counter() < deadline:
        new = stream.take(sz["ingest_batch"])
        n_resend = min(len(sent), sz["ingest_batch"] // 10)
        resend = [sent[i] for i in rng.choice(len(sent), n_resend, replace=False)]
        raw_df = _raw_df(ctx.spark, new + resend)
        want = sum(1 for _m, _r, text in new if text)
        is_traced = ctx.trace and batch % 2 == 1
        ok, written, wall, used = ctx.measure(
            lambda: _ingest(ctx, raw_df, store, embedder, is_traced, batch)
        )
        (traced if is_traced else plain).append(wall)
        if not is_traced:
            cpu.append(used)
        if ok:
            ctx.check(written == want, f"batch {batch}: wrote {written}, want {want}")
            written_total += written
        sent += new
        expected_ids.update(m for m, _r, text in new if text)
        batch += 1

    with ctx.tracer.span("pipeline.store.compact", batch):
        _ok, _n, _wall, compact_cpu = ctx.measure(store.compact)

    ok, ids = ctx.attempt(
        lambda: [r[0] for r in store.read().select(store.id_col).collect()]
    )
    if ok:
        ctx.check(
            len(ids) == len(set(ids)) and set(ids) == expected_ids,
            f"store holds {len(ids)} ids ({len(set(ids))} distinct), "
            f"want {len(expected_ids)}",
        )
    _store_metrics(ctx, path, len(expected_ids), 0)
    _overhead(ctx, plain, traced)
    return ctx.summary(setup_s, plain, cpu, written_total, sum(cpu) + compact_cpu)


# ---------------------------------------------------------------------------
# chat: closed-loop retrieval turns with appends and deletes beside them
# ---------------------------------------------------------------------------

SEARCH_INTENTS = ("product_search", "mixed")


def _retrieve_traced(ctx: Context, store, query: str, qvec: list, trace_id: int):
    """The steps ``retrieve`` composes, one span per layer call."""
    from emails_to_vector_db_spark.pipeline import (
        assemble_context,
        classify_intent_rule_based,
    )
    from emails_to_vector_db_spark.pipeline.rag import ADVISORY_CONTEXT

    tr = ctx.tracer
    with tr.span("chat.turn", trace_id):
        with tr.span("pipeline.rag.classify"):
            intent = classify_intent_rule_based(query)
        if intent not in SEARCH_INTENTS:
            return {"intent": intent, "context": ADVISORY_CONTEXT, "hits": None}
        with tr.span("pipeline.store.search_build"):
            hits = store.search(qvec, k=TOP_K)
        with tr.span("pipeline.rag.assemble_context"):
            context = assemble_context(
                hits, content_col="content", dist_col="distance", id_col=store.id_col
            )
    return {"intent": intent, "context": context, "hits": hits}


def _check_turn(ctx, res, intent, qvec, mirror, store) -> None:
    from emails_to_vector_db_spark.pipeline.rag import ADVISORY_CONTEXT

    if res["intent"] != intent:
        ctx.check(False, f"intent {res['intent']!r}, want {intent!r}")
        return
    if intent not in SEARCH_INTENTS:
        ctx.check(
            res["hits"] is None and res["context"] == ADVISORY_CONTEXT,
            "advice turn touched the store",
        )
        return
    want = mirror.topk(qvec, TOP_K)
    if res["context"] == mirror.context(want):
        return
    # contexts differ: accept only an exact distance tie at the cut-off
    got = res["hits"].select(store.id_col, "distance").collect()
    ctx.check(
        mirror.same_hits(qvec, [(r[0], r[1]) for r in got], TOP_K),
        f"top-{TOP_K} differs from brute force",
    )


def chat(ctx: Context) -> dict[str, float]:
    from emails_to_vector_db_spark.pipeline import (
        EmbeddingStore,
        HashingEmbedder,
        retrieve,
    )
    from emails_to_vector_db_spark.sources.emails import ingest_emails

    sz = ctx.sizes
    embedder = HashingEmbedder(DIM)
    qembed = HashEmbedder(DIM)
    stream = EmailStream(ctx.seed)
    base_rows = stream.take(sz["chat_store"])
    # a store in service, not freshly compacted: appended files beside
    # the compacted version, and tombstones in force
    tail_rows = [stream.take(sz["chat_append"]) for _ in range(2)]
    pick = np.random.default_rng(ctx.seed + 29)
    live0 = sorted(m for m, _r, text in base_rows if text)
    dead0 = [live0[i] for i in pick.choice(len(live0), sz["chat_delete"], replace=False)]
    warm_queries = [q for q, i in chat_queries(ctx.seed + 99, 40) if i in SEARCH_INTENTS]
    state = {}

    def prepare():
        store = EmbeddingStore(ctx.spark, ctx.fresh_dir("chat-store"))
        with ctx.untimed():
            base_df = _raw_df(ctx.spark, base_rows)
            tail_dfs = [_raw_df(ctx.spark, rows) for rows in tail_rows]
        ingest_emails(ctx.spark, base_df, store, embedder)
        with ctx.tracer.span("pipeline.store.compact", 0):
            store.compact()
        for df in tail_dfs:
            ingest_emails(ctx.spark, df, store, embedder)
        with ctx.tracer.span("pipeline.store.delete", 0):
            store.delete(dead0)
        for q in warm_queries[: sz["chat_warmup_turns"]]:
            retrieve(q, store=store, embed_query=lambda s: qembed(s).tolist(), k=TOP_K)
        state["store"] = store

    setup_s = ctx.timed_setup(prepare)
    store = state["store"]
    mirror = StoreMirror(qembed)
    for rows in [base_rows] + tail_rows:
        mirror.add((m, text) for m, _r, text in rows)
    mirror.delete(dead0)

    queries = iter(chat_queries(ctx.seed, 100_000))
    del_rng = np.random.default_rng(ctx.seed + 31)
    plain, traced, cpu = [], [], []
    tombstones = len(dead0)
    ctx.begin_measure()
    deadline = time.perf_counter() + ctx.seconds
    turn = 0
    while not plain or time.perf_counter() < deadline:
        turn += 1
        is_traced = ctx.trace and turn % 2 == 0
        if turn % 25 == 0:
            live = sorted(mirror.live)
            ids = [live[i] for i in del_rng.choice(len(live), sz["chat_delete"], replace=False)]
            with ctx.tracer.span("pipeline.store.delete", turn):
                ok, n = ctx.attempt(lambda: store.delete(ids))
            if ok:
                ctx.check(n == len(ids), f"delete returned {n}")
                mirror.delete(ids)
                tombstones += len(ids)
        elif turn % 10 == 0:
            rows = stream.take(sz["chat_append"])
            raw_df = _raw_df(ctx.spark, rows)
            ok, n = ctx.attempt(
                lambda: _ingest(ctx, raw_df, store, embedder, is_traced, turn)
            )
            want = mirror.add((m, text) for m, _r, text in rows)
            if ok:
                ctx.check(n == want, f"append wrote {n}, want {want}")
        else:
            query, intent = next(queries)
            qvec = qembed(query)
            qlist = qvec.tolist()
            if is_traced:
                ok, res, wall, used = ctx.measure(
                    lambda: _retrieve_traced(ctx, store, query, qlist, turn)
                )
            else:
                ok, res, wall, used = ctx.measure(
                    lambda: retrieve(
                        query, store=store, embed_query=lambda _q: qlist, k=TOP_K
                    )
                )
            if intent in SEARCH_INTENTS:
                (traced if is_traced else plain).append(wall)
                if not is_traced:
                    cpu.append(used)
            if ok:
                _check_turn(ctx, res, intent, qvec, mirror, store)

    for root in (s for s in ctx.tracer.spans if s["name"] == "chat.turn"):
        kids = [s for s in ctx.tracer.spans if s["parent"] == root["span_id"]]
        ctx.layer["pipeline.rag.turn_jobs"].append(sum(s["jobs"] for s in kids))
        ctx.layer["pipeline.rag.turn_tasks"].append(sum(s["tasks"] for s in kids))
    _store_metrics(ctx, store.path, len(mirror.live), tombstones)
    _overhead(ctx, plain, traced)
    return ctx.summary(setup_s, plain, cpu, len(cpu), sum(cpu))


# ---------------------------------------------------------------------------
# batch: one pass of oracle-checked registry queries through the noop sink
# ---------------------------------------------------------------------------


def _persisted(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


def _release(spark) -> None:
    """Drop every cached table and persisted RDD (between passes)."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _sorted_rows(rows):
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t),
    )


def _same_rows(got, want) -> bool:
    """Equal row lists, floats equal to 1e-6 relative: both engines round
    money to 2dp and distances to 6dp, and a value on a rounding tie can
    land one unit apart depending on summation order."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _oracle_rows(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), _sorted_rows([tuple(r[i] for i in order) for r in cur.fetchall()])


def _warehouse_files(root: str, since: float) -> int:
    n = 0
    for d, _dirs, names in os.walk(os.path.join(root, "spark-warehouse")):
        for f in names:
            n += os.path.getmtime(os.path.join(d, f)) >= since
    return n


def batch(ctx: Context) -> dict[str, float]:
    import duckdb
    import pyarrow.parquet as pq

    from emails_to_vector_db_spark.plans import REGISTRY

    data = ctx.fresh_dir("batch_data")
    for name, table in batch_tables(ctx.seed, ctx.sizes["tables"]).items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    con = duckdb.connect()
    for name in BATCH_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data, name)}.parquet'"
        )
    specs = [REGISTRY[q] for q in BATCH_QUERIES]
    since = time.time()

    def prepare():
        # the warm-up pass doubles as the once-per-process oracle check
        for spec in specs:

            def run(spec=spec):
                df = spec.fn(ctx.spark, data)
                cols = sorted(df.columns)
                return cols, _sorted_rows(df.select(*cols).collect())

            ok, got = ctx.attempt(run)
            if ok:
                with ctx.untimed():
                    want = _oracle_rows(con, spec.oracle)
                ctx.check(
                    got[0] == want[0] and _same_rows(got[1], want[1]),
                    f"{spec.name} differs from its DuckDB oracle",
                )
        _release(ctx.spark)

    setup_s = ctx.timed_setup(prepare)
    ctx.layer["plans.warehouse_files_built"].append(_warehouse_files(ctx.root, since))
    con.close()

    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    plain, cpu, traced_passes, plain_passes = [], [], [], []
    ctx.begin_measure()
    deadline = time.perf_counter() + ctx.seconds
    n_pass, last = 0, 0.0
    # whole passes that fit in --seconds; at least one (traced: two)
    while n_pass < (2 if ctx.trace else 1) or time.perf_counter() + last <= deadline:
        is_traced = ctx.trace and n_pass % 2 == 1
        t_pass = time.perf_counter()
        for spec in specs:
            before = _persisted(sc)
            with tr.span(f"plans.{spec.name}", n_pass):

                def run(spec=spec):
                    with tr.span(f"plans.{spec.name}.build"):
                        df = spec.fn(ctx.spark, data)
                    with tr.span(f"plans.{spec.name}.exec"):
                        df.write.format("noop").mode("overwrite").save()

                _ok, _v, wall, used = ctx.measure(run)
            if not is_traced:
                plain.append(wall)
                cpu.append(used)
            else:
                ctx.layer[f"plans.{spec.name}.leaked_rdds"].append(_persisted(sc) - before)
        last = time.perf_counter() - t_pass
        (traced_passes if is_traced else plain_passes).append(last)
        _release(ctx.spark)
        n_pass += 1

    for spec in specs:
        build = tr.field(f"plans.{spec.name}.build", "jobs"), tr.field(
            f"plans.{spec.name}.build", "tasks"
        )
        run = tr.field(f"plans.{spec.name}.exec", "jobs"), tr.field(
            f"plans.{spec.name}.exec", "tasks"
        )
        for i, key in enumerate(("jobs", "tasks")):
            ctx.layer[f"plans.{spec.name}.{key}"] += [
                b + e for b, e in zip(build[i], run[i])
            ]
    _overhead(ctx, plain_passes, traced_passes)
    return ctx.summary(setup_s, plain, cpu, len(cpu), sum(cpu))


WORKLOADS = {"ingest": ingest, "chat": chat, "batch": batch}

# Engine modules each workload imports; their import time is set-up time.
_STORE_PATH = (
    "emails_to_vector_db_spark.session",
    "emails_to_vector_db_spark.pipeline",
    "emails_to_vector_db_spark.sources.emails",
)
ENGINE_MODULES = {
    "ingest": _STORE_PATH,
    "chat": _STORE_PATH,
    "batch": ("emails_to_vector_db_spark.session", "emails_to_vector_db_spark.plans"),
}
