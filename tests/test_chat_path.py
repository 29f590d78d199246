"""The chat turn's Spark work (pipeline/rag.py ``retrieve`` over
pipeline/store.py): a job budget per turn, and value parity of the
one-expression probe literal and the driver-side context join against
the per-element ``F.array`` literal and the ``array_sort``/``concat_ws``
aggregate they replaced.

Jobs are counted per job group through the status tracker, so work run
by other tests in the same session never leaks into a count."""

from __future__ import annotations

import math
import struct
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from emails_to_vector_db_spark.functions.vector import vector_lit
from emails_to_vector_db_spark.pipeline.embedder import HashingEmbedder
from emails_to_vector_db_spark.pipeline.rag import assemble_context, retrieve
from emails_to_vector_db_spark.pipeline.store import EmbeddingStore, embed_and_store

DIM = 16


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"chat-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "chat budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async
    # listener bus; drain it so no job of fn() is missed
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def served_store(spark, tmp_path):
    """A store in service: compacted, one appended file beside the
    compacted version, and tombstones in force."""
    store = EmbeddingStore(spark, str(tmp_path / "chat_store"))
    emb = HashingEmbedder(dim=DIM)
    src = spark.createDataFrame(
        [(i, f"product {i} price color topic{i % 5}") for i in range(40)],
        "id long, content string",
    )
    embed_and_store(spark, src, store, emb)
    store.compact(target_partitions=2)
    late = spark.createDataFrame(
        [(100 + i, f"late product {i} cost") for i in range(5)],
        "id long, content string",
    )
    embed_and_store(spark, late, store, emb)
    store.delete([0, 3, 101])
    return store, emb


def _qvec(spark, emb, text):
    df = spark.createDataFrame([(text,)], "content string")
    return df.select(emb("content").alias("e")).collect()[0].e


def test_chat_turn_job_budget(spark, served_store):
    """Building the search is pure planning (0 jobs); a whole search
    turn is at most 2 jobs: the tombstone anti-join's broadcast and
    the top-k's own collect."""
    store, emb = served_store
    q = _qvec(spark, emb, "product price topic2")

    hits, n_build = _jobs(spark, lambda: store.search(q, k=5))
    assert n_build == 0
    res, n_turn = _jobs(
        spark,
        lambda: retrieve("buy product price", store=store, embed_query=lambda _s: q),
    )
    assert res["intent"] == "product_search"
    assert n_turn <= 2
    # the context is the five nearest live rows, nearest first
    want = hits.select("id", "content", "distance").collect()
    assert len(want) == 5 and not {r.id for r in want} & {0, 3, 101}
    assert res["context"] == "\n\n".join(r.content for r in want)


def test_schema_pinned_per_data_directory(spark, served_store):
    """Once resolved, the schema serves exists() and every later read
    without a job; a compaction moves the live directory, so the next
    read resolves it once more, and only once."""
    store, emb = served_store
    q = _qvec(spark, emb, "late product cost")
    assert _jobs(spark, store.exists) == (True, 0)
    store.compact(target_partitions=1)
    _hits, n_first = _jobs(spark, lambda: store.search(q, k=3))
    assert n_first <= 1
    assert _jobs(spark, lambda: store.search(q, k=3))[1] == 0
    ids = {r.id for r in store.read().select("id").collect()}
    assert ids == set(range(40)) - {0, 3} | {100, 102, 103, 104}


# -- vector_lit: one from_json literal vs one F.lit per element --------

_EDGE_DOUBLES = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    2.2250738585072014e-308,
    0.1,
    1 / 3,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(xs):
    return [struct.pack(">d", x) for x in xs]


def test_vector_lit_bit_identical_to_per_element_literals(spark):
    old = F.array(*[F.lit(v) for v in _EDGE_DOUBLES])
    df = spark.range(1).select(vector_lit(_EDGE_DOUBLES).alias("new"), old.alias("old"))
    row = df.collect()[0]
    assert _bits(row.new) == _bits(row.old)
    assert df.schema["new"].dataType.elementType == DoubleType()
    # the parse is constant-folded: no per-row JSON work in the plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized


def test_vector_lit_distances_identical(spark):
    """Distances against the new literal equal the old literal's, bit
    for bit, on ordinary vectors."""
    from emails_to_vector_db_spark.functions.vector import l2_distance

    probe = [math.sin(i) / 7 for i in range(DIM)]
    base = spark.createDataFrame(
        [(i, [math.cos(i * j) for j in range(DIM)]) for i in range(20)],
        "id long, v array<double>",
    )
    old = F.array(*[F.lit(float(x)) for x in probe])
    got = base.select(
        "id",
        l2_distance("v", vector_lit(probe)).alias("new"),
        l2_distance("v", old).alias("old"),
    ).collect()
    assert all(_bits([r.new]) == _bits([r.old]) for r in got)


def test_vector_lit_empty_is_array_double(spark):
    df = spark.range(1).select(vector_lit([]).alias("v"))
    dt = df.schema["v"].dataType
    assert isinstance(dt, ArrayType) and dt.elementType == DoubleType()
    assert df.collect()[0].v == []


# -- assemble_context: driver join vs the array_sort/concat_ws aggregate


def _old_context(hits):
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("distance").alias("d"),
                F.col("id").alias("i"),
                F.col("content").alias("c"),
            )
        )
    )
    return hits.agg(
        F.concat_ws("\n\n", F.transform(ordered, lambda s: s.getField("c"))).alias(
            "ctx"
        )
    ).collect()[0].ctx


_NAN, _INF = float("nan"), float("inf")

_CONTEXT_CASES = {
    "distance_ties_break_on_id": (
        "id long",
        [(0.5, 3, "c"), (0.5, 1, "a"), (0.1, 9, "z"), (0.5, 2, "b")],
    ),
    "signed_zero_ties_break_on_id": (
        "id long",
        [(0.0, 2, "b"), (-0.0, 1, "a"), (-0.0, 3, "c")],
    ),
    "null_and_nan_distances": (
        "id long",
        [
            (_NAN, 1, "nan1"),
            (None, 2, "null2"),
            (1.0, 3, "one"),
            (_INF, 4, "inf"),
            (-_INF, 5, "-inf"),
            (None, 0, "null0"),
            (_NAN, 0, "nan0"),
        ],
    ),
    "null_content_skipped": (
        "id long",
        [(0.2, 1, None), (0.1, 2, "first"), (0.3, 3, "last"), (0.2, 4, None)],
    ),
    "string_ids_and_null_id": (
        "id string",
        [(0.5, "b", "b"), (0.5, None, "null-id"), (0.5, "a", "a"), (0.5, "é", "e")],
    ),
    "equal_keys_break_on_content": (
        "id long",
        [(0.5, 1, "y"), (0.5, 1, "x"), (0.5, 1, None)],
    ),
    "empty_hits": ("id long", []),
}


@pytest.mark.parametrize("case", sorted(_CONTEXT_CASES))
def test_assemble_context_matches_aggregate_form(spark, case):
    id_type, rows = _CONTEXT_CASES[case]
    hits = spark.createDataFrame(
        rows, f"distance double, {id_type}, content string"
    ).repartition(3)
    got = assemble_context(hits)
    assert got == _old_context(hits)
    if case == "empty_hits":
        assert got == ""
