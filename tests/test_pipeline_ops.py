"""Unit tests for the round-6 pipeline operators: chunk-level exact
substring dedup, corpus unigram-LM scoring, benchmark decontamination,
semantic dedup, and temperature-weighted mixture sampling.

Semantics are hand-checked on tiny synthetic frames (the cross-engine
value check lives in the catalog oracles; these pin the algorithmic
invariants on inputs small enough to verify by eye)."""

import math

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators.dedup import (
    chunk_dedup,
    decontaminate,
    embedding_dup_pairs,
    semantic_dedup,
)
from auto_data_linkage_spark.operators.lm import unigram_logprob
from auto_data_linkage_spark.operators.pack import mixture_sample


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


# ------------------------------------------------------------ chunk_dedup
def test_chunk_dedup_removes_repeated_chunk_keeps_first(spark):
    # doc 2 repeats doc 1's first 2-word chunk; doc 1 (lower id) keeps it
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "p q")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=2).collect()}
    assert out[1]["dedup_text"] == "a b c d"
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["dedup_text"] == "x y"
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["dedup_text"] == "p q"


def test_chunk_dedup_within_doc_repetition_collapses(spark):
    # the same chunk repeated INSIDE one document keeps its first position
    df = spark.createDataFrame([(7, "a b a b a b")], ["doc_id", "text"])
    (row,) = chunk_dedup(df, chunk_words=2).collect()
    assert row["dedup_text"] == "a b"
    assert row["n_chunks"] == 3 and row["n_kept"] == 1


def test_chunk_dedup_fully_duplicated_doc_empties(spark):
    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=4).collect()}
    assert out[2]["n_kept"] == 0 and out[2]["dedup_text"] == ""
    assert out[1]["n_kept"] == 1


def test_chunk_dedup_tail_chunk_shorter_than_width(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    (row,) = chunk_dedup(df, chunk_words=2).collect()
    assert row["dedup_text"] == "a b c"
    assert row["n_chunks"] == 2


# -------------------------------------------------------- unigram_logprob
def test_unigram_logprob_values(spark):
    # corpus: "a a b" + "b c" → counts a:2 b:2 c:1, total 5
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # doc 1: -avg(log2(2/5), log2(2/5), log2(2/5)) = log2(5/2)
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_neg_logp"] == pytest.approx(math.log2(5 / 2), abs=1e-6)
    # doc 2: avg over log2(5/2), log2(5/1)
    exp2 = (math.log2(5 / 2) + math.log2(5)) / 2
    assert out[2]["avg_neg_logp"] == pytest.approx(exp2, abs=1e-6)


def test_unigram_logprob_rare_tokens_score_higher(spark):
    df = spark.createDataFrame(
        [(i, "common words here") for i in range(5)] + [(99, "zzz qqq vvv")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["avg_neg_logp"] for r in unigram_logprob(df).collect()}
    assert out[99] > out[0]


def test_unigram_logprob_shuffle_join_path_matches(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c d e")], ["doc_id", "text"]
    )
    a = {tuple(r) for r in unigram_logprob(df, broadcast_vocab=True).collect()}
    b = {tuple(r) for r in unigram_logprob(df, broadcast_vocab=False).collect()}
    assert a == b


# ---------------------------------------------------------- decontaminate
def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over me"),  # shares 5-grams
            (2, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in decontaminate(docs, bench, shingle_k=5).collect()}
    assert not out[1]["keep"] and out[1]["n_shared"] >= 1
    assert out[2]["keep"] and out[2]["n_shared"] == 0


def test_decontaminate_short_doc_whole_text_shingle(spark):
    # docs shorter than k contribute their whole text as one shingle
    bench = spark.createDataFrame([(9, "tiny text")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "tiny text"), (2, "other words")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["keep"] for r in decontaminate(docs, bench, shingle_k=5).collect()}
    assert out == {1: False, 2: True}


# --------------------------------------------------------- semantic_dedup
def test_semantic_dedup_keeps_min_id_per_component(spark):
    # cell 0: vecs 1,2 identical (dup) + 3 orthogonal; cell 1: 4 alone.
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 0),
            (4, [1.0, 0.0], 1),
        ],
        ["vec_id", "embedding", "label"],
    )
    kept = {r["vec_id"] for r in semantic_dedup(df, threshold=0.9).collect()}
    assert kept == {1, 3, 4}
    # the pair stage precomputed over another read of df: same survivors
    pairs = embedding_dup_pairs(df.repartition(3), bucket_col="label", threshold=0.9)
    same = semantic_dedup(df, threshold=0.9, pairs=pairs).collect()
    assert {r["vec_id"] for r in same} == kept


def test_semantic_dedup_cells_block_cross_cell_pairs(spark):
    # identical vectors in DIFFERENT cells are not compared (by design —
    # the cell assignment is the candidate-generation boundary)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    kept = {r["vec_id"] for r in semantic_dedup(df, threshold=0.9).collect()}
    assert kept == {1, 2}


# --------------------------------------------------------- mixture_sample
def test_mixture_sample_deterministic_and_alpha_rebalances(spark):
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = mixture_sample(df, "source", alpha=0.5, target_fraction=0.3)
    b = mixture_sample(df, "source", alpha=0.5, target_fraction=0.3)
    sa = _rows(a, "doc_id", "source")
    assert sa == _rows(b, "doc_id", "source")  # deterministic membership
    counts = {r["source"]: r["n"] for r in a.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # alpha=0.5 up-samples the small source relative to its 10% share
    frac_small = counts.get("small", 0) / 100
    frac_big = counts.get("big", 0) / 900
    assert frac_small > frac_big
    total = sum(counts.values())
    assert 0.15 < total / 1000 < 0.45  # near target, hash-slice variance


def test_mixture_sample_alpha_one_is_uniform(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_sample(df, "source", alpha=1.0, target_fraction=0.5)
    # alpha=1 → every stratum gets the same rate (= target_fraction)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s in ("a", "b"):
        assert abs(counts[s] / 200 - 0.5) < 0.15


def test_mixture_sample_rate_caps_at_one(spark):
    # a tiny stratum whose rebalanced rate exceeds 1 is kept whole
    rows = [(i, "big") for i in range(990)] + [(1000 + i, "tiny") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_sample(df, "source", alpha=0.1, target_fraction=0.5)
    kept_tiny = out.where(F.col("source") == "tiny").count()
    assert kept_tiny == 4


# --------------------------------------------------------- bigram_logprob
def test_bigram_logprob_values(spark):
    from auto_data_linkage_spark.operators.lm import bigram_logprob

    # corpus bigram counts: (a,b):2 (a,c):2 (b,x):1 (x,a):1; prefix
    # counts: a:4 b:1 x:1 — so p(b|a)=p(c|a)=1/2 (1 bit surprise) and
    # p(x|b)=p(a|x)=1 (0 bits)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "a b x a c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert out[1]["n_bigrams"] == 1
    assert out[1]["avg_neg_logp2"] == pytest.approx(1.0, abs=1e-6)
    assert out[2]["avg_neg_logp2"] == pytest.approx(1.0, abs=1e-6)
    assert out[3]["n_bigrams"] == 4
    assert out[3]["avg_neg_logp2"] == pytest.approx(0.5, abs=1e-6)


def test_bigram_logprob_short_docs_omitted(spark):
    from auto_data_linkage_spark.operators.lm import bigram_logprob

    df = spark.createDataFrame(
        [(1, "single"), (2, "two tokens")], ["doc_id", "text"]
    )
    out = {r["doc_id"] for r in bigram_logprob(df).collect()}
    assert out == {2}


# ------------------------------------------------- incremental_near_dedup
def _inc_kw():
    return dict(num_hashes=4, num_bands=4, shingle_k=2)


def test_incremental_dedup_existing_wins_and_min_id(spark):
    from auto_data_linkage_spark.operators.dedup import incremental_near_dedup

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # dup of corpus -> drop
            (11, "totally different words here now"),  # unique -> keep
            (12, "totally different words here now"),  # dup of 11 -> drop
        ],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in incremental_near_dedup(existing, new, **_inc_kw()).collect()
    }
    assert kept == {11}


def test_incremental_dedup_transitive_component_drops_with_hit(spark):
    from auto_data_linkage_spark.operators.dedup import incremental_near_dedup

    # 20 collides with the corpus; 21 collides with 20 (not with the
    # corpus directly) -> the whole component drops, "existing wins"
    existing = spark.createDataFrame(
        [(1, "red green blue yellow purple")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (20, "red green blue yellow purple"),
            (21, "red green blue yellow purple"),
            (22, "unrelated fresh content entirely here"),
        ],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in incremental_near_dedup(existing, new, **_inc_kw()).collect()
    }
    assert kept == {22}


def test_incremental_dedup_empty_corpus_equals_batch_dedup(spark):
    from auto_data_linkage_spark.operators.dedup import incremental_near_dedup

    existing = spark.createDataFrame([], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"), (3, "five six seven eight")],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in incremental_near_dedup(existing, new, **_inc_kw()).collect()
    }
    assert kept == {1, 3}


@pytest.mark.exhaustive
def test_prepare_training_set_end_to_end(spark, tmp_path):
    """The capstone composition: raw corpus → curated → Gopher-gated →
    span-deduped → BPE-tokenized → packed → sharded export, with the
    per-stage report and on-disk artifacts all checked."""
    import json
    import os

    from auto_data_linkage_spark.operators.bpe import load_tokenizer_json
    from auto_data_linkage_spark.operators.pipeline import prepare_training_set

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    span = ("an exactly repeated span of nine whole words appears here "
            "somewhere")
    rows = []
    for i in range(30):
        rows.append((i, f"{good} variant token{i} plus {span}"))
    rows.append((100, rows[0][1]))                 # exact duplicate
    rows.append((101, "zz qq ww"))                 # fails gates
    rows.append((102, "la de el en un es se no que y " * 6))  # non-en
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = str(tmp_path / "trainset")
    report = prepare_training_set(
        docs, out,
        min_quality=0.4, gopher_min_words=10,
        span_words=9, num_merges=30, capacity=256, n_shards=4,
    )
    assert report["n_input"] == 33
    assert report["n_curated"] <= 31           # exact dup + gates drop
    assert report["n_gopher_kept"] <= report["n_curated"]
    assert 0 < report["n_span_kept"] <= report["n_gopher_kept"]
    assert report["total_tokens"] > 0 and report["n_bins"] > 0
    assert 0 < report["packing_fill"] <= 1.0

    # tokenizer artifact round-trips
    merges, vocab = load_tokenizer_json(report["tokenizer_path"])
    assert len(merges) == report["n_merges"]
    assert len(vocab) == report["vocab_size"]
    doc = json.load(open(report["tokenizer_path"]))
    assert doc["model"]["type"] == "BPE"

    # shards hold ONE ROW PER PACKED SEQUENCE (bucket, bin) — members
    # concatenated in packing order, bins never split across shards —
    # so a loader streaming one shard trains directly on its rows
    shard_dirs = [
        d for d in os.listdir(report["shards_path"]) if d.startswith("shard=")
    ]
    assert 1 <= len(shard_dirs) <= 4
    loaded = spark.read.parquet(report["shards_path"])
    assert loaded.count() == report["n_bins"]
    assert {"token_ids", "n_tokens", "doc_ids", "n_docs", "bucket", "bin",
            "shard_order"} <= set(loaded.columns)
    ids = loaded.select(F.explode("doc_ids").alias("doc_id"))
    assert ids.count() == report["n_span_kept"]
    assert ids.distinct().count() == report["n_span_kept"]
    # every sequence's token_ids length is consistent and non-empty
    bad = loaded.where(
        (F.size("token_ids") != F.col("n_tokens")) | (F.col("n_tokens") <= 0)
    ).count()
    assert bad == 0
    # no (bucket, bin) appears in more than one shard directory
    assert (
        loaded.groupBy("bucket", "bin").count().where("count > 1").count()
        == 0
    )


def test_line_dedup_semantics(spark):
    from auto_data_linkage_spark.operators.dedup import line_dedup

    rows = [
        (1, "unique first line\nsubscribe to our newsletter\n- \nmore words"),
        (2, "different opening\nsubscribe to our newsletter\n- \nclosing"),
        (3, "subscribe to our newsletter"),   # fully duplicated → empty
        (4, ""),                              # empty stays empty
        (5, "Subscribe To Our Newsletter"),   # case-insensitive key
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert out[1].n_kept == 4                       # first copy survives
    assert out[2].n_kept == 3                       # loses the dup line
    assert "-" in out[2].dedup_text.split("\n")     # short line exempt
    assert out[3].n_kept == 0 and out[3].dedup_text == ""
    assert out[4].n_lines == 0 and out[4].dedup_text == ""
    assert out[5].n_kept == 0                       # dedup key is lowered


def test_perplexity_buckets_fractions_and_order(spark):
    from auto_data_linkage_spark.operators.lm import perplexity_buckets

    # 30 docs: clean docs repeat common words (low neg-logp), noisy docs
    # use rare words (high neg-logp)
    rows = []
    for i in range(20):
        rows.append((i, "en", "common words common words common words"))
    for i in range(20, 30):
        rows.append((i, "en", f"rare{i}a rare{i}b rare{i}c rare{i}d"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(df, group_col="lang").collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    # floor(30*33/100) = 9 in head and tail, 12 in middle
    assert len(by_bucket["head"]) == 9
    assert len(by_bucket["tail"]) == 9
    assert len(by_bucket["middle"]) == 12
    # ordering: every head score <= every middle score <= every tail
    hmax = max(r.avg_neg_logp for r in by_bucket["head"])
    mmin = min(r.avg_neg_logp for r in by_bucket["middle"])
    mmax = max(r.avg_neg_logp for r in by_bucket["middle"])
    tmin = min(r.avg_neg_logp for r in by_bucket["tail"])
    assert hmax <= mmin and mmax <= tmin
    # the common-word docs are the cleanest: all 9 head docs are common
    assert all(r.doc_id < 20 for r in by_bucket["head"])


@pytest.mark.exhaustive
def test_prepare_training_set_resume_after_stage3_failure(
    spark, tmp_path, monkeypatch
):
    """Kill the run after stage 3 (BPE training raises), rerun, and
    verify the resume skips stages 1-3 byte-identically (the persisted
    stage parquet files are NOT rewritten) while the report comes out
    complete. A changed parameter then invalidates the whole store."""
    import glob
    import os

    from auto_data_linkage_spark.operators import bpe as B
    from auto_data_linkage_spark.operators import pipeline as P

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    rows = [(i, f"{good} variant token{i} number {i * 17}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "resume")
    kwargs = dict(
        min_quality=0.4, gopher_min_words=10, span_words=9,
        num_merges=20, capacity=256, n_shards=2, jaccard_threshold=0.95,
    )

    real_train = B.train_bpe

    def boom(*a, **k):
        raise RuntimeError("driver lost in stage 4")

    monkeypatch.setattr(B, "train_bpe", boom)
    with pytest.raises(RuntimeError, match="stage 4"):
        P.prepare_training_set(docs, out, **kwargs)

    stage_files = sorted(
        glob.glob(os.path.join(out, "_stages", "s[123]*", "*.parquet"))
    )
    assert stage_files, "stages 1-3 must have persisted before the crash"
    before = {p: (os.path.getmtime(p), os.path.getsize(p)) for p in stage_files}

    monkeypatch.setattr(B, "train_bpe", real_train)
    report = P.prepare_training_set(docs, out, **kwargs)
    assert report["n_span_kept"] > 0 and report["total_tokens"] > 0

    after = {p: (os.path.getmtime(p), os.path.getsize(p)) for p in stage_files}
    assert before == after, "resume must not rewrite completed stages"

    # parameter change -> fingerprint mismatch -> full recompute
    report2 = P.prepare_training_set(
        docs, out, **{**kwargs, "num_merges": 10}
    )
    assert report2["n_merges"] == 10
    stage_files2 = sorted(
        glob.glob(os.path.join(out, "_stages", "s[123]*", "*.parquet"))
    )
    rewritten = {
        p: (os.path.getmtime(p), os.path.getsize(p)) for p in stage_files2
    }
    assert rewritten != before, "changed params must invalidate the store"


@pytest.mark.exhaustive
def test_prepare_training_set_url_front_door(spark, tmp_path):
    """Stage 0: blocklisted-domain docs and URL duplicates are gone
    before any text stage runs; corpora without a url column skip it."""
    from auto_data_linkage_spark.operators import pipeline as P

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    rows = [
        (1, f"{good} unique one", "https://keep.com/a"),
        (2, f"{good} unique two", "https://keep.com/b?utm_source=x"),
        (3, f"{good} unique three", "https://keep.com/b"),   # url dup of 2
        (4, f"{good} unique four", "https://spam.com/c"),    # blocklisted
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    report = P.prepare_training_set(
        docs, str(tmp_path / "urlset"),
        min_quality=0.3, gopher_min_words=10, span_words=20,
        num_merges=10, capacity=256, n_shards=2, jaccard_threshold=0.99,
        url_col="url", blocked_domains=["spam.com"],
    )
    assert report["n_url_kept"] == 2          # dup + blocked removed
    assert report["n_curated"] <= 2


@pytest.mark.exhaustive
def test_prepare_training_set_eos_token(spark, tmp_path):
    """eos_token: appended to the vocab as a special token and to every
    document's ids, so every doc boundary inside a packed sequence is
    marked; total_tokens grows by exactly one per surviving doc."""
    from auto_data_linkage_spark.operators import pipeline as P
    from auto_data_linkage_spark.operators.bpe import special_token_ids

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    rows = [(i, f"{good} variant token{i} number {i * 31}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kwargs = dict(
        min_quality=0.4, gopher_min_words=10, span_words=30,
        num_merges=15, capacity=512, n_shards=2, jaccard_threshold=0.99,
    )
    base = P.prepare_training_set(docs, str(tmp_path / "noeos"), **kwargs)
    eos = P.prepare_training_set(
        docs, str(tmp_path / "eos"), eos_token="<|endoftext|>", **kwargs
    )
    assert base["eos_id"] is None
    assert eos["eos_id"] == eos["vocab_size"] - 1
    assert eos["vocab_size"] == base["vocab_size"] + 1
    assert eos["n_span_kept"] == base["n_span_kept"]
    assert eos["total_tokens"] == base["total_tokens"] + eos["n_span_kept"]
    assert special_token_ids(eos["tokenizer_path"]) == {
        "<|endoftext|>": eos["eos_id"]
    }
    # every packed sequence ends with EOS (last doc's trailing marker)
    loaded = spark.read.parquet(eos["shards_path"])
    bad = loaded.where(
        F.element_at("token_ids", -1) != F.lit(eos["eos_id"])
    ).count()
    assert bad == 0


@pytest.mark.exhaustive
def test_prepare_training_set_decontaminates_benchmark(spark, tmp_path):
    """Stage 2b: a training doc sharing a 7-gram with the held-out
    benchmark never reaches the tokenizer."""
    from auto_data_linkage_spark.operators import pipeline as P

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    leak = "exactly seven shared words appear in this benchmark question"
    rows = [
        (1, f"{good} unique one"),
        (2, f"{good} unique two plus {leak} embedded"),   # contaminated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    report = P.prepare_training_set(
        docs, str(tmp_path / "decon"),
        min_quality=0.3, gopher_min_words=10, span_words=40,
        num_merges=10, capacity=256, n_shards=2, jaccard_threshold=0.99,
        benchmark=bench, benchmark_shingle_k=7,
    )
    assert report["n_decontaminated"] == 1
    loaded = spark.read.parquet(report["shards_path"])
    ids = {r[0] for r in loaded.select(F.explode("doc_ids")).collect()}
    assert ids == {1}


@pytest.mark.exhaustive
def test_prepare_training_set_authority_gate(spark, tmp_path):
    """Stage 0b: documents on low-ranked (or unranked) domains are gone
    before any text stage; rank table typically comes from
    graph.pagerank over the crawl's own link graph."""
    from auto_data_linkage_spark.operators import pipeline as P

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today")
    rows = [
        (1, f"{good} unique one", "https://www.trusted.com/a"),
        (2, f"{good} unique two", "https://trusted.com/b"),
        (3, f"{good} unique three", "https://weak.org/c"),
        (4, f"{good} unique four", "https://unranked.net/d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    ranks = spark.createDataFrame(
        [("trusted.com", 500_000), ("weak.org", 10_000)],
        "domain string, rank_scaled long",
    )
    report = P.prepare_training_set(
        docs, str(tmp_path / "authset"),
        min_quality=0.3, gopher_min_words=10, span_words=20,
        num_merges=10, capacity=256, n_shards=2, jaccard_threshold=0.99,
        url_col="url", domain_ranks=ranks, min_rank_scaled=100_000,
    )
    # www.trusted.com and trusted.com both resolve to the ranked eTLD+1;
    # weak.org is below the cut; unranked.net is absent from the table
    assert report["n_authority_kept"] == 2
    assert report["n_curated"] <= 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_col"):
        P.prepare_training_set(
            docs.drop("url"), str(tmp_path / "authbad"),
            domain_ranks=ranks,
        )


@pytest.mark.exhaustive
def test_prepare_training_set_fix_encoding(spark, tmp_path):
    """Stage 0a: mojibake is repaired before anything reads the text —
    the tokenizer trains on clean bytes with fix_encoding=True and on
    the corrupted bytes without it."""
    import json as _json
    import os as _os

    from auto_data_linkage_spark.operators import pipeline as P

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate with room to spare today plus "
            "don’t café naïve résumé")

    def sloppy(bs):
        out = []
        for b in bs:
            try:
                out.append(bytes([b]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(b))
        return "".join(out)

    corrupted = sloppy(good.encode("utf-8"))
    assert "â€™" in corrupted and "Ã©" in corrupted
    docs = spark.createDataFrame(
        [(1, corrupted)], "doc_id long, text string"
    )
    kwargs = dict(
        min_quality=0.3, gopher_min_words=10, span_words=60,
        num_merges=10, capacity=256, n_shards=2, jaccard_threshold=0.99,
    )
    P.prepare_training_set(
        docs, str(tmp_path / "fixenc"), fix_encoding=True, **kwargs
    )
    P.prepare_training_set(
        docs, str(tmp_path / "rawenc"), fix_encoding=False, **kwargs
    )
    fixed_vocab = _json.dumps(
        _json.load(open(_os.path.join(str(tmp_path / "fixenc"), "tokenizer.json"))),
        ensure_ascii=False,
    )
    raw_vocab = _json.dumps(
        _json.load(open(_os.path.join(str(tmp_path / "rawenc"), "tokenizer.json"))),
        ensure_ascii=False,
    )
    # the BPE vocab is lowercased char pieces: mojibake shows up as the
    # lead/continuation chars ã/â/€/™, which clean text never contains
    banned = "ãâ€Ã"  # mojibake lead/continuation chars only (the
    #            legit curly apostrophe U+2019 is NOT banned)
    assert not any(c in fixed_vocab for c in banned)
    assert any(c in raw_vocab for c in banned)


@pytest.mark.exhaustive
def test_prepare_training_set_site_boilerplate(spark, tmp_path):
    """Stage 0c (unit="line"): per-site nav LINES vanish from the text
    every later stage (and the trained tokenizer) sees, while the
    surviving body keeps its ORIGINAL case and line structure — the
    chunk unit would lowercase and flatten the training corpus."""
    import json as _json
    import os as _os

    from auto_data_linkage_spark.operators import pipeline as P

    nav = "ClickNav Menu Cart Login Search Helpdesk Account Settings"
    # body text must be unique PER DOC — identical filler across pages
    # is itself (correctly) detected as site boilerplate
    bodies = [
        "The quick brown fox jumps over that lazy dog and all words\n"
        "here are sensible so this page passes every quality gate",
        "A calm river flows past the old mill where children often\n"
        "play on warm summer evenings with their friendly neighbors",
        "The library keeps many fine books about science history art\n"
        "and music that visitors can borrow for three whole weeks",
        "Fresh bread from the corner bakery smells wonderful in the\n"
        "early morning when the town square is still very quiet",
    ]
    rows = [
        (i, f"{nav}\n{bodies[i]}", f"https://site.com/p/{i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    report = P.prepare_training_set(
        docs, str(tmp_path / "siteboiler"),
        min_quality=0.3, gopher_min_words=10, span_words=60,
        num_merges=10, capacity=256, n_shards=2, jaccard_threshold=0.99,
        url_col="url", site_boilerplate=True,
    )
    assert report["n_boilerplate_chunks_removed"] >= 4
    assert report["n_curated"] == 4
    tok = _json.dumps(
        _json.load(open(_os.path.join(str(tmp_path / "siteboiler"),
                                      "tokenizer.json")))
    )
    assert "clicknav" not in tok.lower() and "helpdesk" not in tok.lower()
    # the replaced text preserved case and the intra-body newline
    stage = spark.read.parquet(
        _os.path.join(str(tmp_path / "siteboiler"), "_stages",
                      "s0c_boilerplate")
    )
    clean = {r.doc_id: r.clean_text for r in stage.collect()}
    assert clean[0] == bodies[0]
    assert "\n" in clean[0] and "The quick" in clean[0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_col"):
        P.prepare_training_set(
            docs.drop("url"), str(tmp_path / "siteboilerbad"),
            site_boilerplate=True,
        )
