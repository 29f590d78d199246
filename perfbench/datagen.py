"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives the
same emails, chat queries and batch tables, byte for byte. Nothing here
imports the engine, so the generated inputs (and the numpy mirror of the
hashing embedder in ``mirror.py``) stay independent of the code measured.
"""

from __future__ import annotations

import email

import numpy as np

# The rule-based intent classifier matches these as substrings
# (pipeline/rag.py); vocabulary words are kept free of them so only the
# words a query generator adds on purpose decide its intent.
ADVICE_WORDS = ("advice", "recommend", "suggest", "best", "should", "help")
PRODUCT_WORDS = ("price", "buy", "product", "color", "category", "image", "cost")

VOCAB_SIZE = 4000
ZIPF_S = 1.1
LINE_TOKENS = 8  # short lines: bodies stay within RFC 5322's 78 columns


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Deterministic pronounceable words, none containing a classifier
    keyword. Independent of the seed: every workload shares one vocab."""
    cons = "bcdfghjklmnprstvz"
    vows = "aeiou"
    keys = ADVICE_WORDS + PRODUCT_WORDS
    words: list[str] = []
    i = 0
    while len(words) < size:
        n, w = i, ""
        for _ in range(3):
            w += cons[n % len(cons)] + vows[(n // len(cons)) % len(vows)]
            n //= len(cons) * len(vows)
        i += 1
        if not any(k in w for k in keys):
            words.append(w)
    return words


class TextSampler:
    """Zipf-ish token sampler over the shared vocabulary (product
    keywords are mixed in, so product queries find related emails)."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words = list(PRODUCT_WORDS) + vocabulary()
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        cdf = np.cumsum(ranks**-ZIPF_S)
        self.cdf = cdf / cdf[-1]

    def tokens(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return [self.words[min(i, len(self.words) - 1)] for i in idx]


def _body(tokens: list[str]) -> str:
    return "\n".join(
        " ".join(tokens[i : i + LINE_TOKENS])
        for i in range(0, len(tokens), LINE_TOKENS)
    )


def _part(ctype: str, body: str) -> str:
    return (
        f'Content-Type: {ctype}; charset="us-ascii"\n'
        "Content-Transfer-Encoding: 7bit\n\n"
        f"{body}\n"
    )


def make_email(msg_id: str, tokens: list[str], kind: str) -> tuple[bytes, str]:
    """One RFC822 message and the text the extractor must return for it.

    ``kind``: ``plain`` (single text/plain part), ``alt``
    (multipart/alternative, plain + html) or ``html`` (no text/plain
    part, so the extractor drops the message). Bodies are short-line
    ASCII, so 7bit transfer encoding round-trips them unchanged."""
    body = _body(tokens)
    html = f"<html><body><p>{body}</p></body></html>"
    head = (
        f"Message-ID: <{msg_id}@bench.invalid>\n"
        f"Subject: {' '.join(tokens[:4])}\n"
        "MIME-Version: 1.0\n"
    )
    if kind == "plain":
        return (head + _part("text/plain", body)).encode(), body + "\n"
    if kind == "html":
        return (head + _part("text/html", html)).encode(), ""
    bnd = f"==bench-{msg_id}=="
    raw = (
        head
        + f'Content-Type: multipart/alternative; boundary="{bnd}"\n\n'
        + f"--{bnd}\n"
        + _part("text/plain", body)
        + f"--{bnd}\n"
        + _part("text/html", html)
        + f"--{bnd}--\n"
    )
    # the newline before a boundary belongs to the delimiter (RFC 2046)
    return raw.encode(), body


def plain_text(raw: bytes) -> str:
    """Stdlib extraction of one message: decoded text/plain leaf parts
    joined by newlines ("" when there are none) — the check that
    ``make_email``'s expected text is what a MIME parser returns."""
    msg = email.message_from_bytes(raw)
    parts = [
        (p.get_payload(decode=True) or b"").decode("utf-8", errors="replace")
        for p in msg.walk()
        if p.get_content_type() == "text/plain"
        and p.get_content_maintype() != "multipart"
    ]
    return "\n".join(parts)


class EmailStream:
    """Seeded stream of new emails with unique ids ``{prefix}{n:07d}``.

    About half are multipart with an HTML alternative, 3% have no
    text/plain part, the rest are single-part plain text; bodies hold
    20-200 Zipf-distributed tokens."""

    def __init__(self, seed: int, prefix: str = "e"):
        self.rng = np.random.default_rng(seed)
        self.text = TextSampler(self.rng)
        self.prefix = prefix
        self.next_id = 0

    def take(self, n: int) -> list[tuple[str, bytes, str]]:
        """n new (msg_id, raw, expected_text) rows."""
        out = []
        for _ in range(n):
            msg_id = f"{self.prefix}{self.next_id:07d}"
            self.next_id += 1
            u = self.rng.random()
            kind = "html" if u < 0.03 else ("alt" if u < 0.53 else "plain")
            toks = self.text.tokens(int(self.rng.integers(20, 201)))
            raw, text = make_email(msg_id, toks, kind)
            out.append((msg_id, raw, text))
        return out


def chat_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """n (query, expected_intent) chat turns: ~70% product_search, ~15%
    mixed, ~15% niche_advice (the last never touches the store)."""
    rng = np.random.default_rng(seed + 1_000_003)
    text = TextSampler(rng)
    out = []
    for _ in range(n):
        u = rng.random()
        words = [
            w
            for w in text.tokens(int(rng.integers(3, 8)))
            if w not in PRODUCT_WORDS
        ]
        prod = str(rng.choice(PRODUCT_WORDS))
        adv = str(rng.choice(ADVICE_WORDS))
        if u < 0.70:
            out.append((" ".join([prod] + words), "product_search"))
        elif u < 0.85:
            out.append((" ".join([adv, prod] + words), "mixed"))
        else:
            out.append((" ".join([adv] + words), "niche_advice"))
    return out


# ---------------------------------------------------------------------------
# batch tables: the fixture schema the registry queries read
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "big stream filter group vector"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def batch_tables(seed: int, sizes: dict[str, int]) -> dict[str, object]:
    """pyarrow tables ``documents``, ``embeddings``, ``customer``,
    ``orders`` and ``lineitem`` with the fixture schema (TESTDATA.md).

    ``documents`` plants near-duplicate pairs (a copy with one token
    replaced) and ``embeddings`` planted near-copies (small noise), so
    the dedup and similarity queries find real work."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 2_000_003)
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]
    n_cust, n_ord, n_li = sizes["customer"], sizes["orders"], sizes["lineitem"]

    texts: list[str] = []
    for i in range(n_doc):
        if i >= 8 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(DOC_WORDS))
        else:
            toks = list(rng.choice(DOC_WORDS, size=int(rng.integers(10, 90))))
        texts.append(" ".join(toks))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in rng.choice(LANGS, size=n_doc)],
            "source": [f"src{x}" for x in rng.integers(0, 20, size=n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    dim = 64
    vecs = rng.standard_normal((n_emb, dim)).astype(np.float32) * 0.15
    for i in range(n_emb // 10, n_emb, 10):  # planted near-copies
        vecs[i] = vecs[i - n_emb // 10] + rng.standard_normal(dim).astype(
            np.float32
        ) * 0.001
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32()),
        }
    )

    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
            "c_mktsegment": [str(x) for x in rng.choice(SEGMENTS, size=n_cust)],
        }
    )

    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01")
    o_date = start + rng.integers(0, 2400, size=n_ord) * day
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": [str(x) for x in rng.choice(("F", "O", "P"), size=n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, size=n_ord), 2),
            "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
            "o_orderpriority": [str(x) for x in rng.choice(PRIORITIES, size=n_ord)],
        }
    )

    l_order = np.sort(rng.integers(0, n_ord, size=n_li))
    l_line = np.zeros(n_li, dtype=np.int32)
    for i in range(1, n_li):
        l_line[i] = l_line[i - 1] + 1 if l_order[i] == l_order[i - 1] else 0
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, sizes["part"], size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, size=n_li), pa.int64()),
            "l_linenumber": pa.array(l_line + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, size=n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
            "l_returnflag": [str(x) for x in rng.choice(("A", "N", "R"), size=n_li)],
            "l_linestatus": [str(x) for x in rng.choice(("F", "O"), size=n_li)],
            "l_shipdate": pa.array(
                (o_date[l_order] + rng.integers(1, 122, size=n_li) * day).astype(
                    "datetime64[us]"
                )
            ),
        }
    )
    return {
        "documents": documents,
        "embeddings": embeddings,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }
