"""Persisted postings-index store: freshness, plan shape, and
row-identity of the store-reading retrieval twins vs their inline
forms (plans/postings.py — the lexical sibling of the IVF artifact
lifecycle pinned in tests/test_ivf_bucketing.py)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans import REGISTRY
from emails_to_vector_db_spark.plans.postings import (
    _pst_root,
    _pst_table_name,
    ensure_postings_index,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_bm25_index_twin_matches_inline_and_never_reads_corpus(spark):
    """The store-reading BM25 must be row-identical to the inline
    census form AND its plan must contain ZERO scans of the corpus
    (documents.parquet) — df/dl ride the posting rows, corpus stats
    are sidecar literals. The inline form's plan (by design: it is the
    oracle-replayable census) does scan the corpus."""
    spark.catalog.clearCache()
    twin = REGISTRY["bm25_topk_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["bm25_topk"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "documents.parquet" not in p, "store path rescanned the corpus"
    assert "trim(text" not in p, "store path re-tokenized corpus text"
    # the IN-list on the bucket column must prune buckets at the scan
    m = [ln for ln in p.splitlines() if "SelectedBucketsCount" in ln]
    assert m, "postings scan lost its bucket spec"
    assert "SelectedBucketsCount: 16 out of 16" not in m[0], (
        "query-term IN-list did not bucket-prune: " + m[0]
    )
    assert "documents.parquet" in _plan(inline)


def test_rm3_index_twin_matches_inline(spark):
    """Store-reading RM3 == inline RM3, and its term-grain passes read
    postings: the only corpus-text tokenization left is the 10
    feedback docs' forward lookup (doc-grain, row store)."""
    spark.catalog.clearCache()
    twin = REGISTRY["rm3_query_expansion_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["rm3_query_expansion"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "postings" in p, "rm3 twin never read the postings store"
    # pass 3 (the returned plan) is index-only: no corpus text reads
    assert "trim(text" not in p, (
        "rm3 re-scoring pass re-tokenized corpus text"
    )


def test_pb_index_twin_matches_inline_census_gone(spark):
    """Store-reading paired bootstrap == inline form row-for-row; the
    postings census (tokenize -> explode -> tf groupBy -> impact
    window over term) is GONE from the twin's plan — the impact cap is
    a pushed-down imp_rnk predicate on the postings scan."""
    spark.catalog.clearCache()
    twin = REGISTRY["paired_bootstrap_from_index"].fn(spark, SF_SMOKE)
    inline = REGISTRY["paired_bootstrap_system_eval"].fn(spark, SF_SMOKE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    # the dense arm and relevance joins legitimately read documents/
    # embeddings, and the 20-row query frame still tokenizes ITS text;
    # the census fingerprint is the term-partitioned impact window —
    # it must be gone from the twin (pushed imp_rnk predicate instead)
    assert "windowspecdefinition(term" not in p, (
        "pb twin recomputed the impact window (census crept back)"
    )
    assert "postings" in p
    # the inline form DOES carry the census window (oracle replay)
    assert "windowspecdefinition(term" in _plan(inline)


def test_hybrid_rrf_index_twin_matches_inline(spark):
    """Store-reading hybrid RRF == inline hybrid RRF row-for-row; the
    keyword arm reads postings (no corpus text scan anywhere in the
    fused plan — the only document-side scan left is the vector arm's
    embeddings read, a different table)."""
    spark.catalog.clearCache()
    twin = REGISTRY["hybrid_rrf_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["hybrid_rrf_topk"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "postings" in p, "hybrid twin never read the postings store"
    assert "documents.parquet" not in p, (
        "hybrid twin rescanned the corpus text"
    )
    assert "embeddings.parquet" in p  # the vector arm, by design
    assert "documents.parquet" in _plan(inline)


def test_tfidf_index_twin_matches_inline_df_prune_pushed(spark):
    """Store-reading TF-IDF pair join == inline form row-for-row; the
    corpus is never read and the df-ceiling (the sub-quadratic pair
    bound) is PUSHED to the postings parquet scan, not applied after a
    full read."""
    spark.catalog.clearCache()
    twin = REGISTRY["tfidf_cosine_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["tfidf_cosine_topk_pairs"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "documents.parquet" not in p, "twin rescanned the corpus"
    assert "trim(text" not in p, "twin re-tokenized corpus text"
    pushed = [
        ln
        for ln in p.splitlines()
        if "PushedFilters" in ln and "LessThanOrEqual(df" in ln
    ]
    assert pushed, "df-ceiling not pushed to the postings scan"


def test_boolean_and_index_twin_matches_inline(spark):
    """Store-reading AND intersection == inline form row-for-row; the
    only documents scan left is the row-store payload lookup (lang,
    n_chars) keyed by the matched ids — the tokenize/explode census is
    gone."""
    spark.catalog.clearCache()
    twin = REGISTRY["boolean_and_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["boolean_and_retrieval"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "postings" in p
    assert "trim(text" not in p, "twin re-tokenized corpus text"


def test_phrase_index_twin_matches_inline(spark):
    """Positional-sidecar phrase match == the inline adjacency scan
    row-for-row; the twin never tokenizes text — its documents scan
    reads only (doc_id, lang) for the per-language denominators."""
    spark.catalog.clearCache()
    twin = REGISTRY["phrase_match_from_index"].fn(spark, SF_ORACLE)
    inline = REGISTRY["phrase_match_stats"].fn(spark, SF_ORACLE)
    assert _rows(twin) == _rows(inline)

    p = _plan(twin)
    assert "pstpos" in p, "twin never read the positional sidecar"
    assert "trim(text" not in p, "twin re-tokenized corpus text"
    doc_scans = [
        ln
        for ln in p.splitlines()
        if "documents.parquet" in ln and "ReadSchema" in ln
    ]
    assert all("text" not in ln for ln in doc_scans), (
        "documents scan reads text in the phrase twin"
    )


def test_postings_staleness_rebuild(spark, tmp_path):
    """A regenerated fixture (newer documents.parquet mtime) must
    rebuild the index; an unchanged fixture must NOT rewrite it."""
    sf_dir = str(tmp_path / "sfX")
    os.makedirs(sf_dir)
    shutil.copy(
        os.path.join(SF_SMOKE, "documents.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    )
    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    assert n_docs > 0 and avgdl > 0
    first = spark.table(name).count()
    marker = os.path.join(_pst_root(sf_dir), "_SOURCE_MTIME")
    with open(marker) as f:
        recorded = f.read()

    # unchanged source: ensure() is a no-op (marker not rewritten)
    ensure_postings_index(spark, sf_dir)
    with open(marker) as f:
        assert f.read() == recorded

    # regenerated source: must rebuild
    os.utime(
        os.path.join(sf_dir, "documents.parquet"),
        (os.path.getmtime(os.path.join(sf_dir, "documents.parquet")) + 10,)
        * 2,
    )
    name2, n2, _ = ensure_postings_index(spark, sf_dir)
    assert name2 == name and n2 == n_docs
    assert spark.table(name).count() == first
    with open(marker) as f:
        rebuilt = json.load(f)
    assert rebuilt["mtime"] > json.loads(recorded)["mtime"]
    # v2 marker records WHICH source it was built from
    assert rebuilt["src"] == os.path.join(sf_dir, "documents.parquet")

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(_pst_root(sf_dir), ignore_errors=True)


def test_postings_cold_catalog_ddl_replay(spark):
    """Fresh-session simulation: files current but catalog cold → the
    ensure path replays pure DDL (no data rewrite) and the re-registered
    table serves identical stats and rows."""
    name, n_docs, avgdl = ensure_postings_index(spark, SF_ORACLE)
    rows_before = spark.table(name).count()
    pst_dir = os.path.join(_pst_root(SF_ORACLE), "postings")
    mtime_before = os.path.getmtime(pst_dir)
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    name2, n2, a2 = ensure_postings_index(spark, SF_ORACLE)
    assert (name2, n2, a2) == (name, n_docs, avgdl)
    assert spark.table(name2).count() == rows_before
    assert os.path.getmtime(pst_dir) == mtime_before, (
        "DDL replay rewrote the postings files"
    )


def test_cold_catalog_with_missing_data_rebuilds(spark, tmp_path):
    """r9 ADVICE: marker+stats present but the parquet data directory
    gone (partial warehouse cleanup) must REBUILD, not replay DDL over
    a missing LOCATION and silently scan empty."""
    sf_dir = str(tmp_path / "sfY")
    os.makedirs(sf_dir)
    shutil.copy(
        os.path.join(SF_SMOKE, "documents.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    )
    name, n_docs, _ = ensure_postings_index(spark, sf_dir)
    rows = spark.table(name).count()
    assert rows > 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # cold catalog
    shutil.rmtree(os.path.join(_pst_root(sf_dir), "postings"))  # lost data

    name2, n2, _ = ensure_postings_index(spark, sf_dir)
    assert n2 == n_docs
    assert spark.table(name2).count() == rows  # rebuilt, not empty
    spark.sql(f"DROP TABLE IF EXISTS {name2}")
    shutil.rmtree(_pst_root(sf_dir), ignore_errors=True)


def test_marker_is_source_specific(tmp_path):
    """A v2 marker written for one corpus must read stale for another
    corpus whose documents.parquet happens to be OLDER (the exact
    basename-collision serving bug from the r9 ADVICE)."""
    from emails_to_vector_db_spark.plans.postings import (
        _marker_fresh,
        _write_marker,
    )

    a = tmp_path / "a"
    b = tmp_path / "b"
    for d in (a, b):
        os.makedirs(d)
        (d / "documents.parquet").write_bytes(b"x")
    # b is OLDER than a → the legacy mtime-only check would read fresh
    os.utime(b / "documents.parquet", (1000.0, 1000.0))
    marker = str(tmp_path / "_SOURCE_MTIME")
    _write_marker(marker, str(a / "documents.parquet"))
    assert _marker_fresh(marker, str(a / "documents.parquet"))
    assert not _marker_fresh(marker, str(b / "documents.parquet"))
    # legacy bare-float marker → stale (forces one rebuild, never serves)
    with open(marker, "w") as f:
        f.write("9999999999.0")
    assert not _marker_fresh(marker, str(a / "documents.parquet"))


def test_postings_df_and_impact_rank_consistency(spark):
    """Store invariants: df equals the per-term posting count, imp_rnk
    is a dense 1..df permutation in (tf desc, doc_id asc) order — the
    contract the impact-capped consumers push down against."""
    name, _, _ = ensure_postings_index(spark, SF_SMOKE)
    pst = spark.table(name)
    bad_df = (
        pst.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("df").alias("df_min"),
            F.max("df").alias("df_max"),
            F.min("imp_rnk").alias("r_min"),
            F.max("imp_rnk").alias("r_max"),
            F.countDistinct("imp_rnk").alias("r_distinct"),
        )
        .where(
            (F.col("df_min") != F.col("n"))
            | (F.col("df_max") != F.col("n"))
            | (F.col("r_min") != 1)
            | (F.col("r_max") != F.col("n"))
            | (F.col("r_distinct") != F.col("n"))
        )
    )
    assert bad_df.count() == 0


def test_streamed_positions_equal_batch_positional_index(spark):
    """Round-10 sidecar maintenance: the STREAM-built positions store
    (micro-batch appends, one tokenize pass shared with the tf store)
    must hold bit-identical (term, doc_id, positions) rows to the
    BATCH-built positional index — positions are doc-internal and a doc
    lives in one batch, so batching must be invisible."""
    from emails_to_vector_db_spark.plans.postings import (
        _run_stream_postings,
        ensure_positional_index,
    )

    _, pos_store = _run_stream_postings(spark, SF_SMOKE)
    streamed = spark.read.parquet(pos_store).select(
        "term", "doc_id", "positions"
    )
    batch = spark.table(ensure_positional_index(spark, SF_SMOKE)).select(
        "term", "doc_id", "positions"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # and the tf store is exactly size(positions) of the sidecar
    tf_store = pos_store.replace("pos_store", "pst_store")
    tf = spark.read.parquet(tf_store).select("term", "doc_id", "tf")
    derived = streamed.select(
        "term", "doc_id", F.size("positions").cast("long").alias("tf")
    )
    assert tf.exceptAll(derived).count() == 0


def test_streamed_store_warm_across_calls_and_stale_restream(
    spark, tmp_path, capsys
):
    """Round-11 (r10 verdict task 2 / ADVICE): the streamed store must
    be WARM — a second invocation returns the persisted store without
    re-driving the micro-batch ingest (marker untouched, work dir not
    rebuilt) — and a STALE landing (source parquet regenerated) must
    re-stream LOUDLY (stderr names the mismatch) rather than serve rows
    for vanished data."""
    from emails_to_vector_db_spark.plans import postings as P

    d = _write_docs(
        tmp_path,
        "sfwarm",
        [(1, "alpha beta"), (2, "beta gamma"), (3, "alpha gamma")],
    )
    tf1, pos1 = P._run_stream_postings(spark, d)
    work = os.path.dirname(tf1)
    marker = os.path.join(work, "_STREAMED_OK")
    assert os.path.exists(marker)
    m0 = os.path.getmtime(marker)
    rows0 = sorted(map(tuple, spark.read.parquet(pos1).collect()))

    capsys.readouterr()
    tf2, pos2 = P._run_stream_postings(spark, d)
    assert (tf2, pos2) == (tf1, pos1)
    assert os.path.getmtime(marker) == m0, "warm call rebuilt the store"
    assert "re-streaming" not in capsys.readouterr().err

    # regenerate the source (newer mtime) → loud re-stream
    src = os.path.join(d, "documents.parquet")
    os.utime(src, (os.path.getmtime(src) + 10,) * 2)
    capsys.readouterr()
    tf3, pos3 = P._run_stream_postings(spark, d)
    assert "re-streaming" in capsys.readouterr().err
    assert os.path.getmtime(marker) > m0, "stale landing was served warm"
    assert rows0 == sorted(map(tuple, spark.read.parquet(pos3).collect()))


def _write_docs(tmp_path, name, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(str(tmp_path), name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int32()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


def test_drift_plan_actions_flip_with_append_vocabulary(spark, tmp_path):
    """The r9 verdict's done-criterion for the drift-triggered rebuild
    plan: appends past a threshold must FLIP the action rows. Three
    synthetic corpora hit all three actions:
    - heavy appends reusing the base vocabulary → growth ≫ τ in the
      base-term buckets → 'compact' (the planted spelling-drift suffix
      routes its new terms to OTHER buckets, which read 'rebuild')
    - appends introducing fresh vocabulary → new-term mass ≈ 1 →
      'rebuild'
    - a single tiny append (sparse id space) → 'keep' everywhere."""
    from emails_to_vector_db_spark.plans.postings import (
        _pst_root,
        postings_vocab_rebuild_plan,
    )

    def actions(sf_dir):
        df = postings_vocab_rebuild_plan(spark, sf_dir)
        acts = {r["action"] for r in df.collect()}
        name, _, _ = ensure_postings_index(spark, sf_dir)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(_pst_root(sf_dir), ignore_errors=True)
        return acts

    # heavy same-vocab appends: base-term buckets' growth 80/30 ≫ τ
    same = _write_docs(
        tmp_path,
        "same",
        [(i, "alpha beta gamma") for i in range(30)]
        + [(i, "alpha beta gamma") for i in range(900, 1000)],
    )
    assert "compact" in actions(same)

    # appended tail (doc_id > 2·max/3) carries fresh vocabulary → rebuild
    fresh = _write_docs(
        tmp_path,
        "fresh",
        [(i, "alpha beta gamma") for i in range(60)]
        + [(i, f"neo{i} zet{i}") for i in range(60, 90)],
    )
    assert "rebuild" in actions(fresh)

    # sparse tail: one appended doc, base vocab, id NOT divisible by 5
    # (so the planted-drift suffix stays off) → tiny growth → keep only
    sparse = _write_docs(
        tmp_path,
        "sparse",
        [(i, "alpha beta gamma") for i in range(60)] + [(1001, "alpha")],
    )
    assert actions(sparse) == {"keep"}


def test_table_names_are_identifiers_for_any_dir_basename(spark, tmp_path):
    """Derived catalog names replace every non-identifier character of
    the corpus directory's basename (not only ``.``): a corpus in
    ``sf-x.1`` must build and serve its postings and positional tables
    under names that parse unquoted. ``sf0.01`` keeps its old name."""
    import re

    from emails_to_vector_db_spark.plans.bucketed import _table_name
    from emails_to_vector_db_spark.plans.postings import (
        _pos_root,
        ensure_positional_index,
    )
    from emails_to_vector_db_spark.sources.tables import corpus_tag, ident_part

    assert ident_part("/data/sf0.01/") == "sf0_01"
    assert ident_part("/data/sf-x 2.é") == "sf_x_2__"
    assert _table_name("/data/my-corpus", "orders") == "bkt_orders_my_corpus"
    assert _pst_table_name("/data/sf0.01") == (
        f"pst_documents_sf0_01_{corpus_tag('/data/sf0.01')}"
    )

    sf_dir = str(tmp_path / "sf-x.1")
    os.makedirs(sf_dir)
    shutil.copy(
        os.path.join(SF_SMOKE, "documents.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    )
    built = []
    try:
        built.append(ensure_postings_index(spark, sf_dir)[0])
        built.append(ensure_positional_index(spark, sf_dir))
        for t in built:
            assert re.fullmatch(r"[A-Za-z_][0-9A-Za-z_]*", t), t
            assert spark.sql(f"SELECT count(*) AS n FROM {t}").first().n > 0
    finally:
        for t in built:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(_pst_root(sf_dir), ignore_errors=True)
        shutil.rmtree(_pos_root(sf_dir), ignore_errors=True)
