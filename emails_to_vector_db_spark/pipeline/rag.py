"""Retrieval orchestration: intent classification → routed retrieval →
context assembly → (optional) LLM generation.

Reference lifecycle being re-expressed (``rag.py:169-198``; SURVEY.md §3.1):

- ``classify_query`` (``rag.py:93-123``): an OpenRouter chat call that maps
  a query to one of {product_search, niche_advice, mixed}, falling back to
  ``product_search`` on any error (``rag.py:121-123``). Here the default is
  a DETERMINISTIC rule-based classifier (SURVEY.md §5.3 — tests never
  depend on an LLM); the HTTP-LLM classifier is an optional drop-in behind
  the same interface and stays outside the correctness-checked surface.
- intent routing (``rag.py:187-191``): {product_search, mixed} → vector
  retrieval; else a canned advisory context.
- context assembly (``rag.py:189``): ``"\\n\\n".join(documents)`` over
  the collected top-k rows (A2), ordered on (distance, id) on the driver.
- ``call_openrouter_llm`` (``rag.py:126-166``): generation with fallback
  string ``"LLM call failed."`` (``rag.py:166``) — optional, gated, never
  imported in tests.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INTENTS = ("product_search", "niche_advice", "mixed")
FALLBACK_INTENT = "product_search"  # rag.py:123

# Deterministic stand-in for the LLM classifier: keyword rules with the
# same label space and fallback as rag.py:94-100's prompt contract.
_ADVICE_WORDS = ("advice", "recommend", "suggest", "best", "should", "help")
_PRODUCT_WORDS = ("price", "buy", "product", "color", "category", "image", "cost")


def classify_intent_rule_based(query: str) -> str:
    """Driver-side single-query classifier (substring matching — catches
    'pricing' via 'price'). The column-expression variant
    classify_intent_expr uses exact TOKEN membership, the right semantics
    for bulk routing; they can differ on words that merely contain a
    keyword."""
    q = (query or "").strip().lower()  # rag.py:120 normalization
    has_advice = any(w in q for w in _ADVICE_WORDS)
    has_product = any(w in q for w in _PRODUCT_WORDS)
    if has_advice and has_product:
        return "mixed"
    if has_advice:
        return "niche_advice"
    if has_product:
        return "product_search"
    return FALLBACK_INTENT


def classify_intent_expr(col):
    """The rule-based classifier as a NATIVE column expression (same rules
    as classify_intent_rule_based), for routing whole columns of queries
    declaratively — when/otherwise + token membership (SURVEY.md F6)."""
    from pyspark.sql import functions as F

    q = F.lower(F.trim(col if not isinstance(col, str) else F.col(col)))
    toks = F.split(q, r"\s+")

    def hits(words):
        return F.size(F.filter(toks, lambda t: t.isin(*words))) > 0

    has_advice = hits(_ADVICE_WORDS)
    has_product = hits(_PRODUCT_WORDS)
    return (
        F.when(has_advice & has_product, F.lit("mixed"))
        .when(has_advice, F.lit("niche_advice"))
        .when(has_product, F.lit("product_search"))
        .otherwise(F.lit(FALLBACK_INTENT))
    )


def assemble_context(
    hits: DataFrame,
    *,
    content_col: str = "content",
    dist_col: str = "distance",
    id_col: str = "id",
) -> str:
    """A2: fold retrieved documents into one LLM context string, preserving
    ascending-distance order (``"\\n\\n".join`` at ``rag.py:189``).

    Order discipline: ``hits`` is a top-k (``knn_topk`` plans
    ``TakeOrderedAndProject``), so its k rows are collected in the
    top-k's own job and joined on the driver; a global aggregate would
    add a shuffle stage just to gather k rows. Collection order is not
    trusted: rows are sorted on (distance, id, content) in Spark's
    ascending order — the order ``array_sort`` gives those structs:
    nulls first, NaN after +inf, -0.0 equal to 0.0. Null contents are
    skipped, as ``concat_ws`` skips them; no hits give ``""``."""
    rows = hits.select(dist_col, id_col, content_col).collect()
    rows.sort(key=lambda r: tuple(_spark_order(v) for v in r))
    return "\n\n".join(r[2] for r in rows if r[2] is not None)


def _spark_order(v) -> tuple:
    """Sort key of one value under Spark's ascending order: null before
    everything, NaN after every other double (and equal to itself),
    -0.0 equal to 0.0 (Python's ``==`` already agrees on the last)."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (2,)
    return (1, v)


ADVISORY_CONTEXT = (
    "You are a helpful niche-advice assistant; answer from general "
    "knowledge."  # stands in for rag.py:191's canned advisory context
)


def retrieve(
    query: str,
    *,
    store,
    embed_query: Callable[[str], list[float]],
    k: int = 5,
    classifier: Callable[[str], str] = classify_intent_rule_based,
) -> dict:
    """The full chat-turn retrieval path (``start_conversation`` body,
    ``rag.py:181-196``, minus the LLM generation): classify → route →
    search → assemble. Returns {intent, context, hits}.

    ``embed_query`` is the single-text twin of the batch embedder (the
    reference encodes the query in-process at ``rag.py:72-73``)."""
    intent = classifier(query)
    if intent not in INTENTS:
        intent = FALLBACK_INTENT
    if intent in ("product_search", "mixed"):  # rag.py:187
        hits = store.search(embed_query(query), k=k)
        context = assemble_context(
            hits, content_col="content", dist_col="distance", id_col=store.id_col
        )
        return {"intent": intent, "context": context, "hits": hits}
    return {"intent": intent, "context": ADVISORY_CONTEXT, "hits": None}


def generate_with_llm(
    prompt: str,
    context: str,
    *,
    api_key: str | None = None,
    model: str = "",
    endpoint: str = "",
    timeout: int = 30,
) -> str:
    """U3 (``rag.py:126-166``): optional HTTP-LLM generation. Network and
    key are caller-provided; on ANY failure returns the reference's
    fallback string (``rag.py:166``). Never exercised in tests."""
    if not api_key or not endpoint:
        return "LLM call failed."
    try:  # pragma: no cover - requires network
        import json
        import urllib.request

        body = json.dumps(
            {
                "model": model,
                "messages": [
                    {"role": "system", "content": context},
                    {"role": "user", "content": prompt},
                ],
            }
        ).encode()
        req = urllib.request.Request(
            endpoint,
            data=body,
            headers={
                "Authorization": f"Bearer {api_key}",
                "Content-Type": "application/json",
            },
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            payload = json.load(resp)
        return payload["choices"][0]["message"]["content"]  # rag.py:120,163
    except Exception:
        return "LLM call failed."


def mmr_rerank(
    candidates: list[tuple],
    *,
    k: int,
    lam: float = 0.7,
) -> list[tuple]:
    """Maximal Marginal Relevance diversity re-rank of a retrieved
    candidate list: greedily pick argmax of
    ``lam * relevance − (1 − lam) * max_cosine_to_already_selected``.

    ``candidates`` is [(id, relevance, vector), ...] — the TOP-N output
    of a KNN/ANN query, so this runs on the driver over tens of rows
    (the same documented collect-at-the-API-edge as result transpose,
    SURVEY.md P8). The selection is greedy-sequential by nature — the
    one genuinely non-data-parallel step in the retrieval path, and at
    k≈10 it is microseconds. Ties break on candidate order (highest
    relevance first), so the output is deterministic."""
    import numpy as np

    if k <= 0 or not candidates:
        return []
    pool = sorted(candidates, key=lambda c: (-c[1], c[0]))
    vecs = {c[0]: np.asarray(c[2], dtype=np.float64) for c in pool}
    norms = {
        i: float(np.linalg.norm(v)) or 1.0 for i, v in vecs.items()
    }
    selected: list[tuple] = []
    rest = list(pool)
    while rest and len(selected) < k:
        best, best_score = None, None
        for c in rest:
            if selected:
                sim = max(
                    float(np.dot(vecs[c[0]], vecs[s[0]]))
                    / (norms[c[0]] * norms[s[0]])
                    for s in selected
                )
            else:
                sim = 0.0
            score = lam * c[1] - (1.0 - lam) * sim
            if best_score is None or score > best_score:
                best, best_score = c, score
        selected.append(best)
        rest.remove(best)
    return selected
