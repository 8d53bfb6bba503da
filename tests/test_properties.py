"""Property-based tests (hypothesis). Driver-side algorithms get many
examples (no Spark in the loop); Spark-backed operators get a few
randomized batches evaluated in ONE job per example set.

Properties pinned:
- union-find components = min reachable node under BFS, any edge soup
- Jaro–Winkler reference (tests/jw_reference.py): bounds, symmetry, identity
- token/char-ngram Jaccard: bounds, identity, symmetry (array built-ins)
- simhash: deterministic, equal inputs ⇒ equal hashes, 32-bit range
- BlockingRule string parse/render roundtrip
"""

from collections import deque

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from jw_reference import jaro_winkler
from pyspark.sql import functions as F

from auto_data_linkage_spark.cluster import _union_find_components
from auto_data_linkage_spark.model import BlockingRule

# ---------------------------------------------------------- driver-side

node_ids = st.integers(min_value=0, max_value=40)
edge_lists = st.lists(st.tuples(node_ids, node_ids), min_size=0, max_size=120)


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


def _bfs_components(edges):
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen = {start}
        q = deque([start])
        while q:
            cur = q.popleft()
            for nxt in adj[cur]:
                if nxt not in seen:
                    seen.add(nxt)
                    q.append(nxt)
        rep = min(seen)
        for n in seen:
            out[n] = rep
    return out


@given(edge_lists)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_union_find_equals_bfs(spark, edges):
    if not edges:
        return
    got = {
        r["node"]: r["component"]
        for r in _union_find_components(edges, spark).collect()
    }
    assert got == _bfs_components(edges)


texts = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=0x2FF),
    min_size=0,
    max_size=12,
)


@given(texts, texts)
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_properties(a, b):
    s = jaro_winkler(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler(b, a) == s  # symmetry
    if a:
        assert jaro_winkler(a, a) == 1.0  # identity
    if a and b and not set(a) & set(b):
        assert s == 0.0  # no common characters


cols = st.lists(
    st.text(alphabet="abcdefgh_", min_size=1, max_size=8).filter(
        lambda s: not s.startswith("_")
    ),
    min_size=1,
    max_size=4,
    unique=True,
)


@given(cols)
@settings(max_examples=100, deadline=None)
def test_blocking_rule_roundtrip(columns):
    rule = BlockingRule(tuple(columns))
    assert BlockingRule.parse(rule.to_sql()).columns == rule.columns


# ---------------------------------------------------------- Spark-backed

word = st.text(alphabet="abcdef", min_size=1, max_size=5)
sentences = st.lists(word, min_size=1, max_size=6).map(" ".join)


@given(st.lists(st.tuples(sentences, sentences), min_size=1, max_size=8))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jaccard_and_simhash_properties(spark, pairs):
    from auto_data_linkage_spark.compare import ngram_jaccard, token_jaccard
    from auto_data_linkage_spark.operators.dedup import simhash

    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select(
        token_jaccard(F.col("a"), F.col("b")).alias("tj_ab"),
        token_jaccard(F.col("b"), F.col("a")).alias("tj_ba"),
        token_jaccard(F.col("a"), F.col("a")).alias("tj_aa"),
        ngram_jaccard(F.col("a"), F.col("b")).alias("nj_ab"),
        ngram_jaccard(F.col("b"), F.col("a")).alias("nj_ba"),
        simhash(F.col("a")).alias("sh_a1"),
        simhash(F.col("a")).alias("sh_a2"),
        simhash(F.col("b")).alias("sh_b"),
    ).collect()
    for r, (a, b) in zip(rows, pairs):
        for v in (r["tj_ab"], r["nj_ab"]):
            assert 0.0 <= v <= 1.0
        assert r["tj_ab"] == r["tj_ba"]  # symmetry
        assert r["nj_ab"] == r["nj_ba"]
        assert r["tj_aa"] == 1.0  # identity (sentences are non-empty)
        assert r["sh_a1"] == r["sh_a2"]  # deterministic
        assert 0 <= r["sh_a1"] < (1 << 32)
        if a == b:
            assert r["sh_a1"] == r["sh_b"]


# ------------------------------------------- TPE sampler (driver-side)

tpe_scores = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=1, max_size=40
)


@given(scores=tpe_scores, seed=st.integers(min_value=0, max_value=2**16))
@settings(max_examples=60, deadline=None)
def test_tpe_always_suggests_in_space(scores, seed):
    """Whatever scores it observes (ties, extremes, single trial), every
    suggestion stays inside every dimension's domain."""
    from auto_data_linkage_spark.tpe import (
        Categorical,
        QUniform,
        TPESampler,
        Uniform,
    )

    space = {
        "c": Categorical(("x", "y", "z")),
        "u": Uniform(0.7, 0.99),
        "q": QUniform(1, 5, 1),
    }
    s = TPESampler(space, seed=seed, n_startup=2)
    for sc in scores:
        p = s.suggest()
        assert p["c"] in ("x", "y", "z")
        assert 0.7 <= p["u"] <= 0.99
        assert p["q"] in (1.0, 2.0, 3.0, 4.0, 5.0)
        s.observe(p, sc)
    p = s.suggest()
    assert p["c"] in ("x", "y", "z") and 0.7 <= p["u"] <= 0.99


# ------------------------------- salted self-join (one job per example)

salt_rows = st.lists(
    st.tuples(st.integers(0, 999), st.integers(0, 5)), min_size=0, max_size=60, unique_by=lambda t: t[0]
)


@given(rows=salt_rows, buckets=st.integers(1, 9), hot=st.one_of(st.none(), st.integers(1, 10)))
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_join_lossless_property(spark, rows, buckets, hot):
    """Pair-set equality with the unsalted join for ARBITRARY key shapes,
    bucket counts, and hot thresholds (round-3 item 5's property, now
    hypothesis-driven)."""
    from auto_data_linkage_spark.blocking import salted_self_join_pairs

    df = spark.createDataFrame(
        [(i, f"k{k}") for i, k in rows] or [(0, "k0")],
        "unique_id long, key string",
    )
    got = {
        (r["unique_id_l"], r["unique_id_r"])
        for r in salted_self_join_pairs(
            df, ["key"], salt_buckets=buckets, hot_threshold=hot
        ).collect()
    }
    ids = {}
    for i, k in (rows or [(0, 0)]):
        ids.setdefault(k, []).append(i)
    want = {
        (a, b)
        for members in ids.values()
        for a in members
        for b in members
        if a < b
    }
    assert got == want


# ------------------------------------------------- chunk_dedup properties
chunk_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=chunk_texts, width=st.integers(min_value=1, max_value=4))
def test_chunk_dedup_properties(spark, texts, width):
    """Invariants of chunk-level exact dedup, any corpus / chunk width:

    1. kept chunks are GLOBALLY unique (no surviving chunk text twice);
    2. the union of kept chunk texts equals the distinct chunk set of
       the input corpus (nothing invented, nothing lost);
    3. the lowest-id document keeps exactly its own distinct chunks in
       first-occurrence order (nothing earlier exists to displace them);
    4. per-doc, n_kept <= n_chunks and the reassembled text is a
       subsequence of the doc's original chunk sequence.
    """
    from auto_data_linkage_spark.operators.dedup import chunk_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=width).collect()}

    def doc_chunks(t):
        toks = t.split()
        return [
            " ".join(toks[i : i + width]) for i in range(0, len(toks), width)
        ]

    all_kept = []
    expected_distinct = set()
    for i, t in rows:
        orig = doc_chunks(t)
        expected_distinct.update(orig)
        kept = (
            _split_chunks(out[i]["dedup_text"], orig)
            if out[i]["dedup_text"]
            else []
        )
        # (4) subsequence check: walk orig, consuming kept in order
        it = iter(orig)
        assert all(any(k == o for o in it) for k in kept), (i, kept, orig)
        assert out[i]["n_kept"] <= out[i]["n_chunks"] == len(orig)
        all_kept.extend(kept)
    # (1) global uniqueness
    assert len(all_kept) == len(set(all_kept))
    # (2) coverage
    assert set(all_kept) == expected_distinct
    # (3) first doc keeps its own distinct chunks, first occurrences
    first = doc_chunks(texts[0])
    expect_first = list(dict.fromkeys(first))
    assert out[0]["dedup_text"] == " ".join(expect_first)


def _split_chunks(dedup_text, orig_chunks):
    """Re-split a reassembled text into its constituent original chunks
    (greedy longest-prefix against the doc's own chunk sequence — chunk
    widths vary at the tail, so a plain fixed-width split is wrong)."""
    remaining = dedup_text
    kept = []
    for ch in orig_chunks:
        if remaining == ch or remaining.startswith(ch + " "):
            kept.append(ch)
            remaining = remaining[len(ch) :].lstrip()
    assert remaining == "", (dedup_text, orig_chunks, remaining)
    return kept


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["apple", "banana", "cherry", "date", "elder", "fig"]),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    ),
    qterms=st.lists(
        st.sampled_from(["apple", "banana", "cherry", "zzz"]),
        min_size=1,
        max_size=4,
    ),
)
def test_bm25_matches_pure_python_reference(spark, docs, qterms):
    """bm25_topk must agree with an independent driver-side BM25 on
    arbitrary small corpora (scores to 1e-6, same ranked sets)."""
    import math

    from auto_data_linkage_spark.operators import retrieval as R

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, t) for t in qterms], "query_id long, term string")
    got = {
        r.doc_id: r.bm25
        for r in R.bm25_topk(df, q, k=len(docs), materialize=False).collect()
    }

    # independent reference
    n = len(docs)
    dls = [len(t) for t in docs]
    avgdl = sum(dls) / n
    want = {}
    for term in set(qterms):
        dfreq = sum(1 for t in docs if term in t)
        if dfreq == 0:
            continue
        idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
        for d, toks in enumerate(docs):
            tf = toks.count(term)
            if tf == 0:
                continue
            denom = tf + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl)
            want[d] = want.get(d, 0.0) + idf * tf * 2.2 / denom
    assert set(got) == set(want)
    for d, s in want.items():
        assert abs(got[d] - round(s, 6)) < 2e-6


# ------------------------------------------- span_dedup vs a reference
def _span_dedup_reference(docs, k):
    """Independent pure-Python implementation of the span_dedup
    semantics: global first occurrence of each k-gram by (id, pos);
    later occurrences mark [pos, pos+k); token removed iff covered."""
    seen = {}
    marks = {}
    for doc_id in sorted(docs):
        toks = docs[doc_id].lower().split()
        marks[doc_id] = [False] * len(toks)
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            if g in seen:
                for j in range(i, i + k):
                    marks[doc_id][j] = True
            else:
                seen[g] = (doc_id, i)
    out = {}
    for doc_id in docs:
        toks = docs[doc_id].lower().split()
        kept = [t for t, m in zip(toks, marks[doc_id]) if not m]
        out[doc_id] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


# small vocabulary forces heavy gram collisions across documents
_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc_texts = st.lists(_words, min_size=0, max_size=18).map(" ".join)
_corpora = st.lists(_doc_texts, min_size=1, max_size=8)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_corpora, st.integers(min_value=2, max_value=4))
def test_span_dedup_matches_python_reference(spark, texts, k):
    from auto_data_linkage_spark.operators.dedup import span_dedup

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.dedup_text)
        for r in span_dedup(df, min_span_words=k).collect()
    }
    assert got == _span_dedup_reference(docs, k)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # domain
            st.integers(min_value=1, max_value=50),  # n_tokens
        ),
        min_size=3,
        max_size=30,
    ),
    w=st.tuples(
        st.floats(min_value=0.1, max_value=1.0),
        st.floats(min_value=0.0, max_value=1.0),
    ),
    budget=st.integers(min_value=100, max_value=5000),
)
def test_epoch_mixture_matches_pure_python_reference(spark, rows, w, budget):
    """epoch_mixture must replay an independent Python implementation of
    the repeat rule bit-for-bit: per-domain factor, floor copies, md5
    fractional slice, 1-based epoch indices."""
    import hashlib
    import math

    from auto_data_linkage_spark.operators.pack import epoch_mixture

    weights = {"a": w[0], "b": w[1]}  # 'c' deliberately unlisted
    data = [(i, d, t) for i, (d, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, src string, n_tokens long"
    )
    got = sorted(
        (r.doc_id, r.epoch)
        for r in epoch_mixture(
            df, "src", weights, token_budget=budget, max_repeat=16.0
        ).collect()
    )

    # independent reference
    tok = {}
    for _i, d, t in data:
        tok[d] = tok.get(d, 0) + t
    want = []
    for i, d, _t in data:
        rate = min(16.0, float(budget) * weights.get(d, 0.0) / float(tok[d]))
        slot = (
            int(hashlib.md5(f"0|{i}".encode()).hexdigest()[:15], 16) % 10000
        )
        n = math.floor(rate) + (
            1 if slot < math.floor((rate - math.floor(rate)) * 10000) else 0
        )
        want.extend((i, e) for e in range(1, int(n) + 1))
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lex=st.lists(st.integers(0, 20), min_size=1, max_size=8, unique=True),
    den=st.lists(st.integers(0, 20), min_size=1, max_size=8, unique=True),
    k0=st.integers(min_value=1, max_value=100),
)
def test_rrf_fuse_matches_pure_python_reference(spark, lex, den, k0):
    """rrf_fuse equals the textbook formula on arbitrary rank lists."""
    from auto_data_linkage_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, d, r + 1) for r, d in enumerate(lex)],
        "query_id long, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [(1, d, r + 1) for r, d in enumerate(den)],
        "query_id long, doc_id long, rank int",
    )
    got = {
        r.doc_id: (r.rrf, r.rank)
        for r in rrf_fuse(a, b, k=50, k0=k0).collect()
    }

    score = {}
    for r, d in enumerate(lex):
        score[d] = score.get(d, 0.0) + 1.0 / (k0 + r + 1)
    for r, d in enumerate(den):
        score[d] = score.get(d, 0.0) + 1.0 / (k0 + r + 1)
    order = sorted(score, key=lambda d: (-round(score[d], 6), d))
    for rank, d in enumerate(order, 1):
        assert got[d] == (round(score[d], 6), rank)


# --------------------------------------------------- training order / SQ8
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    scores=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=4,
        max_size=60,
    ),
    n_stages=st.integers(min_value=2, max_value=6),
)
def test_stage_thresholds_match_numpy_percentile(spark, scores, n_stages):
    """stage_thresholds must equal numpy's linear-interpolation
    percentile (the definition Spark's percentile() and DuckDB's
    quantile_cont share) on arbitrary score columns."""
    import numpy as np

    from auto_data_linkage_spark.operators.order import stage_thresholds

    df = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(scores)], "doc_id long, s double"
    )
    got = stage_thresholds(df, "s", n_stages=n_stages)
    want = [
        round(float(np.percentile(scores, 100.0 * i / n_stages)), 6)
        for i in range(1, n_stages)
    ]
    assert got == pytest.approx(want, abs=1.5e-6), (got, want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vec=st.lists(
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False,
                  width=32),
        min_size=1,
        max_size=24,
    )
)
def test_quantize_int8_matches_pure_python(spark, vec):
    """quantize_int8 == the independent round-half-up reference on
    arbitrary vectors: codes in [-127, 127], scale = 127/max|x| (1.0
    for the zero vector), q_i = floor(x_i * scale + 0.5)."""
    import math

    from auto_data_linkage_spark.operators.similarity import quantize_int8
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, vec)], "id long, embedding array<float>")
    q, scale = quantize_int8(F.col("embedding"))
    row = df.select(q.alias("q"), scale.alias("s")).collect()[0]
    import numpy as np

    fvec = [float(np.float32(x)) for x in vec]
    m = max(abs(x) for x in fvec)
    want_s = 127.0 / m if m > 0 else 1.0
    assert row["s"] == pytest.approx(want_s, rel=1e-12)
    want_q = [math.floor(x * want_s + 0.5) for x in fvec]
    assert row["q"] == want_q
    assert all(-127 <= c <= 127 for c in row["q"])




# ------------------------------------------------- link-graph properties

node_ids = st.integers(min_value=0, max_value=9)
edge_lists = st.lists(
    st.tuples(node_ids, node_ids), min_size=1, max_size=25
)


@given(edge_lists, st.integers(min_value=1, max_value=4))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pagerank_equals_reference_on_random_digraphs(spark, pairs, iters):
    """Fixed-point PageRank is EXACTLY the pure-Python fixed-point
    reference on arbitrary random digraphs (self-loops and multi-edges
    included in the input; both implementations must agree on dropping
    them) — the bit-exactness claim, property-tested."""
    from auto_data_linkage_spark.operators.graph import pagerank
    from tests.test_graph import _py_pagerank

    edges = [(f"n{a}", f"n{b}") for a, b in pairs]
    clean = [(s, t) for s, t in edges if s != t]
    if not clean:
        return  # only self-loops -> empty graph; covered by unit test
    df = spark.createDataFrame(edges, ["src_domain", "dst_domain"])
    got = {
        r["domain"]: r["rank_scaled"]
        for r in pagerank(df, iterations=iters).collect()
    }
    assert got == _py_pagerank(clean, iters)


# -------------------------------------------- sentence-chunk properties

_sentence_words = st.lists(
    st.sampled_from(["alpha", "beta", "Gamma", "delta", "x"]),
    min_size=1,
    max_size=5,
).map(" ".join)
_sentence_texts = st.lists(
    st.tuples(_sentence_words, st.sampled_from([". ", "! ", "? ", " "])),
    min_size=1,
    max_size=6,
).map(lambda ps: "".join(w + t for w, t in ps).strip())


@given(st.lists(_sentence_texts, min_size=1, max_size=4),
       st.integers(min_value=2, max_value=9))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sentence_chunks_reassemble_and_match_reference(spark, texts, mx):
    """Chunks reassemble to the exact original text (nothing lost or
    reordered at any boundary pattern), and assignment equals the
    independent greedy reference."""
    import re

    from auto_data_linkage_spark.operators.pack import sentence_chunks

    def ref(doc_id, text):
        marked = re.sub(r"([.!?])\s+([A-Z])", "\\1\x1e\\2", text)
        out, cum = {}, 0
        for s in marked.split("\x1e"):
            if not s.strip():
                continue
            nt = len([t for t in s.lower().split() if t])
            out.setdefault(cum // mx, []).append((s, nt))
            cum += nt
        return {
            (doc_id, i, " ".join(s for s, _ in v), sum(n for _, n in v))
            for i, v in out.items()
        }

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in sentence_chunks(df, max_tokens=mx).collect()
    }
    want = set()
    for i, t in enumerate(texts):
        want |= ref(i, t)
    assert got == want
    # reassembly: concatenating a doc's chunks in order gives back the
    # doc (modulo the single spaces the splitter normalizes between
    # sentences, which the synthesized texts already use)
    for i, t in enumerate(texts):
        mine = sorted(
            ((c, txt) for d, c, txt, _ in got if d == i)
        )
        if t.strip():
            assert " ".join(x for _, x in mine) == t


# ------------------------------------------------- mojibake properties

def _sloppy_decode(bs: bytes) -> str:
    out = []
    for b in bs:
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


_moji_text = st.text(
    alphabet="abc déàéñçü€—’“”αβπ北京 .!?",
    min_size=1,
    max_size=60,
)


@given(_moji_text)
@settings(max_examples=200, deadline=None)
def test_mojibake_repair_inverts_sloppy_corruption(t):
    """repair(sloppy_decode(utf8(t))) == t for any text whose corrupted
    form trips the hint — and texts that DON'T trip it come back as the
    corrupted form unchanged (conservatism, never a third value)."""
    import re

    from auto_data_linkage_spark.operators.text import (
        _MOJIBAKE_HINT_RE,
        fix_mojibake_str,
    )

    bad = _sloppy_decode(t.encode("utf-8"))
    got = fix_mojibake_str(bad)
    if re.search(_MOJIBAKE_HINT_RE, bad):
        assert got == t, (t, bad, got)
    else:
        assert got == bad


@given(st.text(alphabet="abcdef ghij.!? ", min_size=0, max_size=60))
@settings(max_examples=100, deadline=None)
def test_mojibake_repair_is_identity_on_ascii(t):
    from auto_data_linkage_spark.operators.text import fix_mojibake_str

    assert fix_mojibake_str(t) == t


# ------------------------------------------------- curation funnel law
# Random small corpora (short texts over a tiny vocabulary maximize
# exact- and near-duplicate collisions): the funnel's invariants hold
# on EVERY input, not just the planted fixtures — few examples, each
# one full pipeline pass (Spark in the loop).

_words = st.sampled_from(
    ["the", "quick", "brown", "fox", "jumps", "lazy", "dog", "common",
     "words", "and", "with", "some", "other", "sentence", "about"]
)
_texts = st.lists(_words, min_size=1, max_size=12).map(" ".join)
_corpora = st.lists(_texts, min_size=1, max_size=12)


@given(_corpora)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_curation_funnel_laws(spark, corpus):
    from auto_data_linkage_spark.operators.pipeline import (
        curate_documents,
        curation_funnel,
    )

    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    kwargs = dict(min_quality=0.0, langs=("en",), num_hashes=4,
                  num_bands=4, jaccard_threshold=0.7)
    rows = curation_funnel(df, **kwargs).orderBy("stage_idx").collect()
    stages = [r["stage"] for r in rows]
    assert stages == ["input", "quality", "language", "exact_dedup",
                      "near_dedup"]
    # cumulative gates: survivors and token mass are both monotone
    # non-increasing, start at the corpus, and never go negative
    surv = [r["survivors"] for r in rows]
    toks = [r["survivor_tokens"] for r in rows]
    assert surv[0] == len(corpus)
    assert toks[0] == sum(len(t.split()) for t in corpus)
    assert all(a >= b >= 0 for a, b in zip(surv, surv[1:]))
    assert all(a >= b >= 0 for a, b in zip(toks, toks[1:]))
    # the funnel's last stage IS curate_documents' survivor count
    assert surv[-1] == curate_documents(df, **kwargs).count()
