"""Composed document-curation pipeline — the end-to-end pass a
training-data pipeline runs over a raw corpus before anything else:

    annotate (quality, language) → filter → exact dedup → near dedup

Each stage is an existing operator (operators/text.py, operators/
dedup.py, cluster.py); this module owns only the composition, so the
whole flow stays one declarative DataFrame program:

- annotation is pure built-in column expressions (zero UDF),
- filters run BEFORE any dedup join, so the expensive stages see only
  surviving rows (at 100 TB the quality/lang gate typically drops a
  large fraction of the corpus before anything shuffles),
- exact dedup shuffles (hash, id) pairs only — the wide text column
  never moves — and near dedup is MinHash-LSH banding (Σ bucket² pairs,
  never n²) followed by delta-sized connected components.

The catalog query ``curate_documents`` value-checks the composition
end-to-end against a single DuckDB SQL program (recursive-CTE closure
for the near-dedup stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import dedup as D
from auto_data_linkage_spark.operators import text as X

# Stage 0b broadcasts the trusted-domain set only below this exact
# count (1M domains ≈ tens of MB of strings — safely inside executor
# memory and Spark's 8 GB broadcast cap); above it AQE picks the join.
AUTHORITY_BROADCAST_MAX_DOMAINS = 1_000_000


def curate_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.7,
    num_hashes: int = 4,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = D.DEFAULT_MAX_BUCKET,
    reuse_filtered: bool = True,
    keeper: str = "min_id",
) -> DataFrame:
    """Surviving documents of the full curation pass, as
    ``(id_col, lang_pred, quality)``.

    Keeps a document iff it (a) scores ``quality >= min_quality``,
    (b) language-IDs into ``langs``, (c) is the min-id row of its exact
    duplicate group, and (d) survives its near-duplicate cluster —
    with ``keeper="min_id"`` (default) the min-id member, with
    ``keeper="best_quality"`` the highest-``quality`` member (ties on
    min id; the FineWeb-style keep-the-best-copy refinement via
    :func:`~.dedup.keep_best_in_cluster`). Near-dup edges are LSH
    candidates VERIFIED by exact shingle Jaccard ≥
    ``jaccard_threshold`` (dedup.minhash_dedup_pairs) — raw
    LSH candidates are probabilistic (with b bands of 1 hash a pair of
    true Jaccard j collides with probability 1−(1−j)^b, so dissimilar
    documents would chain into one transitive blob and be dropped);
    verification touches only candidate pairs, never n². Input
    partitioning is the caller's: read a single-file corpus through a
    catalog reader (``queries_llm._docs``) to spread its scan.
    """
    if keeper not in ("min_id", "best_quality"):
        raise ValueError("keeper must be 'min_id' or 'best_quality'")
    from auto_data_linkage_spark.cluster import connected_components

    c = F.col(text_col)
    annotated = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.round(X.quality_score(c), 6).alias("quality"),
        X.lang_id(c).alias("lang_pred"),
    )
    kept = annotated.where(
        # no_pushdown: without it Catalyst pushes the regex gate below
        # the reader's read-time repartition, serializing the whole
        # quality/lang pass on the scan's (possibly single) partition —
        # measured as two ~3 s one-task stages at sf0.1.
        X.no_pushdown(
            (F.col("quality") >= min_quality)
            & F.col("lang_pred").isin(*langs)
        )
    )
    if reuse_filtered:
        # the filtered survivor set feeds the exact-dedup aggregate, the
        # near-dup pair branch, AND the final survivor join; without
        # truncation the annotate→filter prefix (regex quality/lang
        # scoring over the full corpus) executes once PER CONSUMER.
        # Eager localCheckpoint right after the gate materializes it
        # exactly once — downstream recomputes are then only the cheap
        # fingerprint aggregate + broadcast semi-join over checkpointed
        # rows, never the corpus regex pass. Same lineage-truncation
        # pattern as the LSH banding and incremental-CC stages
        # (dedup.py, incremental.py). Blocks are freed when the returned
        # DataFrame is garbage collected; pass reuse_filtered=False for
        # a purely declarative single-pass plan (e.g. under a cost-based
        # optimizer that already dedups CTEs).
        kept = kept.localCheckpoint(eager=True)
    exact = D.exact_dedup(kept, text_col=text_col, id_col=id_col)
    pairs = D.minhash_dedup_pairs(
        exact,
        text_col=text_col,
        id_col=id_col,
        jaccard_threshold=jaccard_threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        max_bucket=max_bucket,
    )
    edges = pairs.select(
        F.col(f"{id_col}_l").alias("src"), F.col(f"{id_col}_r").alias("dst")
    )
    comp = connected_components(edges)
    if keeper == "best_quality":
        survivors = D.keep_best_in_cluster(
            exact, comp, "quality", id_col=id_col
        )
    else:
        survivors = (
            exact.join(comp, exact[id_col] == comp["node"], "left")
            .where(
                F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
            )
        )
    return survivors.select(id_col, "lang_pred", "quality")


def curation_funnel(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.7,
    num_hashes: int = 4,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = D.DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Survivor counts AND surviving whitespace-token mass after each
    cumulative stage of :func:`curate_documents`, as ``(stage_idx,
    stage, survivors, survivor_tokens)`` — the funnel report every
    production curation run publishes next to its output (what
    fraction did the quality gate drop? how many training TOKENS did
    dedup reclaim?), and the first thing an operator reads when a
    pipeline change moves the corpus size.

    Stages (cumulative, matching the pipeline order exactly):
    ``input`` → ``quality`` (score ≥ ``min_quality``) → ``language``
    (quality AND lang ∈ ``langs``) → ``exact_dedup`` (min-id per
    normalized-text group) → ``near_dedup`` (one survivor per verified
    LSH cluster). The near-dedup COUNT is KEEPER-INDEPENDENT — every
    ``keeper`` policy retains exactly one member per cluster — and the
    token column reports the min-id keeper's mass (near-dup cluster
    members differ by small edits, so keeper choice moves it only
    marginally).

    Cost: the same two corpus scans as ``curate_documents`` (one for
    the gate aggregate, one feeding the checkpointed exact-dedup
    survivor set that the pair/cluster stages reuse); the cluster math
    runs on candidate pairs only, and the dropped-cluster-member
    rollup is one broadcast semi-join of the delta-sized component
    table against the checkpointed survivors. The five rows assemble
    driver-side (they are aggregate scalars, not data).
    """
    from auto_data_linkage_spark.cluster import connected_components

    spark = docs.sparkSession
    c = F.col(text_col)
    annotated = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.round(X.quality_score(c), 6).alias("quality"),
        X.lang_id(c).alias("lang_pred"),
        X.token_count(c).cast("bigint").alias("__n_tok"),
    )
    q_ok = F.col("quality") >= min_quality
    l_ok = F.col("lang_pred").isin(*langs)
    t = F.col("__n_tok")
    gates = annotated.agg(
        F.count("*").alias("n_input"),
        F.sum(t).alias("t_input"),
        F.sum(q_ok.cast("long")).alias("n_quality"),
        F.sum(F.when(q_ok, t)).alias("t_quality"),
        F.sum((q_ok & l_ok).cast("long")).alias("n_lang"),
        F.sum(F.when(q_ok & l_ok, t)).alias("t_lang"),
    ).collect()[0]
    # barrier + checkpoint at the GATE (see curate_documents): the regex
    # pass runs once, parallel, after the repartition; the exact-dedup
    # aggregate recomputes cheaply from checkpointed rows per consumer.
    kept = annotated.where(X.no_pushdown(q_ok & l_ok)).localCheckpoint(
        eager=True
    )
    exact = D.exact_dedup(kept, text_col=text_col, id_col=id_col)
    ex = exact.agg(
        F.count("*").alias("n"), F.sum(t).alias("tok")
    ).collect()[0]
    pairs = D.minhash_dedup_pairs(
        exact,
        text_col=text_col,
        id_col=id_col,
        jaccard_threshold=jaccard_threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        max_bucket=max_bucket,
    )
    comp = connected_components(
        pairs.select(
            F.col(f"{id_col}_l").alias("src"),
            F.col(f"{id_col}_r").alias("dst"),
        )
    )
    # each cluster keeps exactly one member; dropped = non-canonical
    # rows of the (delta-sized, broadcast) component table
    dropped = exact.join(
        F.broadcast(
            comp.where(F.col("node") != F.col("component")).select("node")
        ),
        exact[id_col] == F.col("node"),
    ).agg(F.count("*").alias("n"), F.sum(t).alias("tok")).collect()[0]
    z = lambda v: int(v or 0)  # noqa: E731 — null agg over empty stage
    rows = [
        (0, "input", gates["n_input"], z(gates["t_input"])),
        (1, "quality", z(gates["n_quality"]), z(gates["t_quality"])),
        (2, "language", z(gates["n_lang"]), z(gates["t_lang"])),
        (3, "exact_dedup", ex["n"], z(ex["tok"])),
        (4, "near_dedup", ex["n"] - dropped["n"],
         z(ex["tok"]) - z(dropped["tok"])),
    ]
    from auto_data_linkage_spark.session import local_rows_df

    return local_rows_df(
        spark,
        rows,
        "stage_idx int, stage string, survivors long, survivor_tokens long",
    )


def authority_gate_ids(
    docs: DataFrame,
    domain_ranks: DataFrame,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
    min_rank_scaled: int = 0,
) -> DataFrame:
    """Ids of documents whose registered domain holds ``rank_scaled >=
    min_rank_scaled`` in ``domain_ranks`` (typically
    :func:`graph.pagerank` over the crawl's own link graph) — the
    stage-0b authority gate, one semi-join keyed on the domain.

    The trusted set is DATA-DEPENDENT cardinality: a strict threshold
    keeps thousands of domains (broadcast-cheap), a permissive one at
    crawl scale keeps 10^7-10^8 registered domains (multi-GB — Spark
    hard-caps broadcasts at 8 GB and the driver materializes it first),
    so the broadcast hint is gated on an exact count
    (``AUTHORITY_BROADCAST_MAX_DOMAINS``); above the gate AQE picks the
    join strategy (it still broadcasts when runtime stats allow).
    """
    from auto_data_linkage_spark.operators.graph import _HOST_RE
    from auto_data_linkage_spark.operators.urls import registered_domain

    trusted = domain_ranks.where(
        F.col("rank_scaled") >= F.lit(int(min_rank_scaled))
    ).select("domain")
    if trusted.count() <= AUTHORITY_BROADCAST_MAX_DOMAINS:
        trusted = F.broadcast(trusted)
    return (
        docs.select(
            id_col,
            registered_domain(
                F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))
            ).alias("__dom"),
        )
        .join(trusted, F.col("__dom") == F.col("domain"), "left_semi")
        .select(id_col)
    )


def prepare_training_set(
    docs: DataFrame,
    out_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    gopher_min_words: int = 10,
    gopher_required_stopwords: tuple[str, ...] | None = None,
    gopher_repetition: bool = True,
    fix_encoding: bool = False,
    site_boilerplate: bool = False,
    span_words: int = 8,
    span_hash_key: bool = True,
    num_merges: int = 200,
    capacity: int = 2048,
    n_shards: int = 8,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = D.DEFAULT_MAX_BUCKET,
    keeper: str = "min_id",
    resume: bool = True,
    url_col: str | None = None,
    blocked_domains: list[str] | None = None,
    max_per_domain: int | None = None,
    domain_ranks: DataFrame | None = None,
    min_rank_scaled: int = 0,
    eos_token: str | None = None,
    benchmark: DataFrame | None = None,
    benchmark_shingle_k: int = 7,
) -> dict:
    """The COMPLETE corpus → training-set pass, every stage an existing
    oracle-checked operator, composed in the order a production recipe
    runs them (filter early, dedup before tokenize, tokenize before
    pack):

    0a. (when ``fix_encoding``) :func:`text.fix_mojibake` — encoding
       repair FIRST (the C4/CCNet ordering: every downstream token,
       stopword, and shingle statistic is garbage on "donâ€™t"-style
       text); conservative sloppy-cp1252 round-trip, rlike-gated so
       clean corpora pay one codegen regexp scan;
    0. (when ``url_col`` is given) :func:`urls.curate_urls` — the URL
       front door every published web recipe runs FIRST: normalize,
       blocklist (``blocked_domains``), exact normalized-URL dedup,
       per-domain quota (``max_per_domain``) — cheapest gate, so it
       drops rows before any text operator pays for them;
    0b. (when ``domain_ranks`` is also given) the AUTHORITY gate: keep
       only documents whose registered domain holds
       ``rank_scaled >= min_rank_scaled`` in the supplied
       (domain, rank_scaled) table — typically
       :func:`graph.pagerank` over the crawl's own link graph
       (:func:`graph.extract_links`); one semi-join (broadcast below
       ``AUTHORITY_BROADCAST_MAX_DOMAINS`` trusted domains, AQE-chosen
       above), still before any text operator runs;
    0c. (when ``site_boilerplate``, requires ``url_col``)
       :func:`dedup.strip_boilerplate_grouped` with ``unit="line"``,
       keyed by each document's registered domain — LINES that repeat
       across a SITE's pages (navigation, cookie banners, footers) are
       removed and the document text REPLACED by the surviving
       original lines (case and paragraph structure preserved — the
       token-chunk unit would lowercase and flatten the training
       text) before any quality or dedup statistic reads them;
       per-site chrome otherwise both drags quality scores down and
       welds near-dup clusters together;
    1. :func:`curate_documents` — quality + language gate, exact dedup,
       verified MinHash near-dedup (survivor ids; ``keeper=
       "best_quality"`` keeps the highest-quality copy per cluster);
    2. :func:`text.gopher_rules` AND
       :func:`text.gopher_repetition_rules` — the FULL Rae'21 gate
       (document rules + repetition rules; ``gopher_repetition=False``
       reverts to the document-rule half only);
    2b. (when ``benchmark`` is given) :func:`dedup.decontaminate` —
       drop every document sharing a ``benchmark_shingle_k``-gram with
       the held-out evaluation set (the GPT-3/PaLM data-card rule);
       broadcast semi-join, the corpus never shuffles for it;
    3. :func:`dedup.span_dedup` — offset-robust duplicated-span removal
       (the text that survives is the text that trains);
    4. :func:`bpe.train_bpe` + :func:`bpe.bpe_encode_ids` — tokenizer
       trained on exactly the surviving corpus, artifact exported in
       the standard tokenizer-JSON shape next to the shards; when
       ``eos_token`` is given it is appended to the vocabulary as a
       special token AND to every document's token ids, so packed
       sequences carry the document boundary the trainer's loss
       masking needs (the standard pre-training convention);
    5. :func:`pack.pack_sequences` — context-window bin assignment;
    6. packed-sequence materialization + :func:`pack.write_shards` —
       one row per (bucket, bin) with the members' token ids
       concatenated in packing order, hash-sharded by the SEQUENCE key
       so bins stay whole within a shard directory and a training
       loader streams shards directly.

    Returns a report dict (per-stage survivor counts, token totals,
    packing fill, artifact paths). Writes ``tokenizer.json`` and the
    shard directories under ``out_path`` (local/POSIX path — the same
    contract as the versioned upsert; object stores go through a real
    table format).

    Scale posture: stages 1–3 shuffle ids/hashes (never full text except
    the one gram-keyed exchange inside span_dedup — 8-byte keys when
    ``span_hash_key``); stage 4's driver transfer is the bounded
    word-frequency table; stages 5–6 are one window + one hash exchange.
    Each stage gate drops rows BEFORE the next stage pays for them.

    CHECKPOINT/RESUME: each heavy stage persists its survivor table
    under ``out_path/_stages/`` (ids for the gates, the deduplicated
    text for stage 3, the token ids for stage 4) — a 6-stage pass over
    100 TB cannot restart from zero on a stage-5 failure. A rerun with
    ``resume=True`` (default) skips every COMPLETE stage byte-
    identically and recomputes from the first missing one. The stage
    store is invalidated — everything recomputed — when the pipeline
    PARAMETERS or the input row count change (a params+input
    fingerprint in ``_stages/manifest.json``); pass ``resume=False``
    to force a clean run (e.g. same-count input with different
    contents, which the fingerprint cannot see). Input partitioning is
    the caller's, as in :func:`curate_documents`.
    """
    import json
    import os
    import shutil

    from auto_data_linkage_spark.operators import bpe as B
    from auto_data_linkage_spark.operators.pack import (
        pack_sequences,
        write_shards,
    )

    spark = docs.sparkSession
    n_input = docs.count()
    local_out = out_path[7:] if out_path.startswith("file://") else out_path
    os.makedirs(local_out, exist_ok=True)
    stages_dir = os.path.join(local_out, "_stages")

    fingerprint = {
        "n_input": n_input,
        "text_col": text_col,
        "id_col": id_col,
        "langs": list(langs),
        "min_quality": min_quality,
        "gopher_min_words": gopher_min_words,
        "gopher_required_stopwords": (
            list(gopher_required_stopwords)
            if gopher_required_stopwords is not None
            else None
        ),
        "gopher_repetition": gopher_repetition,
        "fix_encoding": fix_encoding,
        "span_words": span_words,
        "span_hash_key": span_hash_key,
        "num_merges": num_merges,
        "jaccard_threshold": jaccard_threshold,
        "max_bucket": max_bucket,
        "keeper": keeper,
        "url_col": url_col,
        "blocked_domains": sorted(blocked_domains or []),
        "max_per_domain": max_per_domain,
        "eos_token": eos_token,
        # the benchmark is identified by row count in the fingerprint —
        # a same-size different-content benchmark needs resume=False
        "benchmark_rows": (
            benchmark.count() if benchmark is not None else None
        ),
        "benchmark_shingle_k": benchmark_shingle_k,
        # same row-count identification for the rank table
        "site_boilerplate": site_boilerplate,
        "domain_rank_rows": (
            domain_ranks.count() if domain_ranks is not None else None
        ),
        "min_rank_scaled": min_rank_scaled,
    }
    manifest_path = os.path.join(stages_dir, "manifest.json")
    if resume and os.path.isfile(manifest_path):
        try:
            with open(manifest_path) as f:
                resume = json.load(f) == fingerprint
        except (OSError, ValueError):
            resume = False
    else:
        resume = False
    if not resume and os.path.isdir(stages_dir):
        shutil.rmtree(stages_dir)
    os.makedirs(stages_dir, exist_ok=True)
    with open(manifest_path, "w") as f:
        json.dump(fingerprint, f)

    def _stage(name: str, compute):
        """Load the stage's parquet if complete, else compute + persist.
        Reading back the persisted table (instead of reusing the
        in-memory plan) makes rerun and first-run lineage identical."""
        path = os.path.join(stages_dir, name)
        if not (
            resume
            and os.path.isdir(path)
            and os.path.isfile(os.path.join(path, "_SUCCESS"))
        ):
            compute().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # 0a. encoding repair before anything reads the text
    if fix_encoding:
        from auto_data_linkage_spark.operators.text import fix_mojibake

        docs = fix_mojibake(docs, text_col)

    # 0. URL front door (cheapest gate first; only when a URL column
    # exists — plain-document corpora skip straight to stage 1)
    n_url_kept = None
    if url_col is not None:
        from auto_data_linkage_spark.operators.urls import curate_urls

        url_ids = _stage(
            "s0_url_ids",
            lambda: curate_urls(
                docs.select(id_col, F.col(url_col).alias("url")),
                id_col=id_col,
                blocked_domains=blocked_domains,
                max_per_domain=max_per_domain,
            ).select(id_col),
        )
        docs = docs.join(url_ids, id_col, "left_semi")
        n_url_kept = url_ids.count()

    # 0b. authority gate: registered domain must hold sufficient rank
    # in the supplied table (graph.pagerank over the crawl's link
    # graph). The trusted set is DATA-DEPENDENT cardinality: a strict
    # threshold keeps thousands of domains (broadcast-cheap), a
    # permissive one at crawl scale keeps 10^7-10^8 (multi-GB — Spark
    # hard-caps broadcasts at 8 GB and the driver pays it first), so
    # the hint is gated on an exact count and above the gate AQE picks
    # the join strategy (it still broadcasts when runtime stats allow).
    n_authority_kept = None
    if domain_ranks is not None:
        if url_col is None:
            raise ValueError(
                "domain_ranks requires url_col (the gate keys on each "
                "document's registered domain)"
            )
        auth_ids = _stage(
            "s0b_authority_ids",
            lambda: authority_gate_ids(
                docs,
                domain_ranks,
                url_col=url_col,
                id_col=id_col,
                min_rank_scaled=min_rank_scaled,
            ),
        )
        docs = docs.join(auth_ids, id_col, "left_semi")
        n_authority_kept = auth_ids.count()

    # 0c. per-site boilerplate strip (text REPLACED by clean_text)
    n_boiler_removed = None
    if site_boilerplate:
        if url_col is None:
            raise ValueError(
                "site_boilerplate requires url_col (the group key is "
                "each document's registered domain)"
            )
        from auto_data_linkage_spark.operators.dedup import (
            strip_boilerplate_grouped,
        )
        from auto_data_linkage_spark.operators.graph import _HOST_RE
        from auto_data_linkage_spark.operators.urls import (
            registered_domain,
        )

        other = [c for c in docs.columns if c not in (id_col, text_col)]
        keyed = docs.withColumn(
            "__site",
            registered_domain(
                F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))
            ),
        )
        # unit="line": the strip REPLACES the training text, so the
        # reassembly must preserve case and line/paragraph structure
        # (the chunk unit rebuilds text from lowercased tokens — it
        # would case-fold the corpus and collapse every document to one
        # line, degenerating Gopher's line/paragraph repetition rules
        # downstream).
        stripped = _stage(
            "s0c_boilerplate",
            lambda: strip_boilerplate_grouped(
                keyed, "__site", text_col=text_col, id_col=id_col,
                unit="line",
            ).select(id_col, "n_removed", "clean_text"),
        )
        n_boiler_removed = (
            stripped.agg(F.sum("n_removed")).collect()[0][0] or 0
        )
        docs = (
            docs.drop(text_col)
            .join(stripped.select(id_col, "clean_text"), id_col)
            .withColumnRenamed("clean_text", text_col)
            .select(id_col, text_col, *other)
        )

    # 1. curation gate (quality/lang/exact/near-dup survivor ids)
    survivors = _stage(
        "s1_curated_ids",
        lambda: curate_documents(
            docs,
            text_col=text_col,
            id_col=id_col,
            min_quality=min_quality,
            langs=langs,
            jaccard_threshold=jaccard_threshold,
            max_bucket=max_bucket,
            keeper=keeper,
        ).select(id_col),
    )
    curated = docs.join(survivors, id_col, "left_semi")
    n_curated = survivors.count()

    # 2. Gopher hard rules (pass a corpus-appropriate required-word
    # inventory for non-English / non-prose corpora)
    def _gate_ids():
        gopher_kwargs = (
            {"required_stopwords": gopher_required_stopwords}
            if gopher_required_stopwords is not None
            else {}
        )
        rules = X.gopher_rules(
            curated, text_col=text_col, id_col=id_col,
            min_words=gopher_min_words, **gopher_kwargs,
        )
        gated_ = curated.join(
            rules.where(F.col("keep")).select(id_col), id_col, "left_semi"
        )
        if gopher_repetition:
            rep = X.gopher_repetition_rules(
                gated_, text_col=text_col, id_col=id_col
            )
            gated_ = gated_.join(
                rep.where(F.col("keep")).select(id_col), id_col, "left_semi"
            )
        return gated_.select(id_col)

    gated_ids = _stage("s2_gated_ids", _gate_ids)
    gated = curated.join(gated_ids, id_col, "left_semi")
    n_gated = gated_ids.count()

    # 2b. benchmark decontamination (held-out n-gram overlap)
    n_decontaminated = None
    if benchmark is not None:
        decon_ids = _stage(
            "s2b_decontaminated_ids",
            lambda: D.decontaminate(
                gated,
                benchmark,
                shingle_k=benchmark_shingle_k,
                text_col=text_col,
                id_col=id_col,
            )
            .where(F.col("keep"))
            .select(id_col),
        )
        gated = gated.join(decon_ids, id_col, "left_semi")
        n_decontaminated = decon_ids.count()

    # 3. offset-robust span dedup; the deduplicated text becomes the
    # training text (drop documents whose every span was seen earlier).
    # The persisted stage table replaces the old localCheckpoint — it
    # feeds BPE train AND encode, and survives a driver restart.
    clean = _stage(
        "s3_clean_text",
        lambda: D.span_dedup(
            gated,
            min_span_words=span_words,
            text_col=text_col,
            id_col=id_col,
            hash_key=span_hash_key,
        )
        .where(F.col("dedup_text") != "")
        .select(F.col(id_col), F.col("dedup_text").alias(text_col)),
    )
    n_clean = clean.count()

    # 4. tokenizer trained on the surviving corpus; artifact exported.
    # Stage-complete = encoded parquet + tokenizer.json both present
    # (the artifact is rewritten whenever the encode recomputes).
    tok_path = os.path.join(local_out, "tokenizer.json")

    def _encode():
        merges_ = B.train_bpe(
            clean, text_col, num_merges=num_merges, min_freq=1
        )
        vocab_ = B.bpe_vocab(clean, merges_, text_col)
        specials = (eos_token,) if eos_token is not None else ()
        doc = B.export_tokenizer_json(
            merges_, vocab_, tok_path, special_tokens=specials
        )
        ids = B.bpe_encode_ids(clean, merges_, vocab_, text_col)
        if eos_token is not None:
            eos_id = B.special_token_ids(doc)[eos_token]
            ids = ids.withColumn(
                "token_ids",
                F.concat(
                    F.col("token_ids"), F.array(F.lit(eos_id).cast("int"))
                ),
            )
        return ids.select(
            id_col, "token_ids", F.size("token_ids").alias("n_tokens")
        )

    if not os.path.isfile(tok_path):
        # a torn stage-4 (encoded parquet without the artifact) must
        # recompute: drop the stage dir so _stage reruns _encode
        shutil.rmtree(
            os.path.join(stages_dir, "s4_encoded"), ignore_errors=True
        )
    encoded = _stage("s4_encoded", _encode)
    merges, vocab = B.load_tokenizer_json(tok_path)

    # 5. context-window packing
    packed = pack_sequences(encoded, capacity=capacity)

    # 6. deterministic shard export — ONE ROW PER PACKED SEQUENCE.
    # Sharding the per-document rows by doc_id would scatter members of
    # the same (bucket, bin) across shard directories, so a loader
    # streaming one shard could never reassemble any packed sequence
    # (the round-7 ADVICE finding). Instead the bin is materialized
    # first: members concatenate in the packing order (n_tokens desc,
    # id asc — pack_sequences' window order), and the SEQUENCE hashes
    # to a shard via the composite (bucket, bin) key, so bins stay
    # whole and a shard is directly trainable.
    members = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("n_tokens")).alias("o"),
                F.col(id_col).alias("i"),
                F.col("token_ids").alias("t"),
            )
        )
    )
    seqs = (
        packed.groupBy("bucket", "bin")
        .agg(members.alias("__m"))
        .select(
            "bucket",
            "bin",
            F.transform("__m", lambda m: m["i"]).alias("doc_ids"),
            F.flatten(F.transform("__m", lambda m: m["t"])).alias(
                "token_ids"
            ),
        )
        .withColumn("n_tokens", F.size("token_ids"))
        .withColumn("n_docs", F.size("doc_ids"))
    )
    shards_path = os.path.join(local_out, "shards")
    write_shards(seqs, shards_path, n_shards, id_col=["bucket", "bin"])

    stats = packed.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct("bucket", "bin").alias("n_bins"),
    ).collect()[0]
    total_tokens = stats.total_tokens or 0
    n_bins = stats.n_bins or 0
    return {
        "n_input": n_input,
        "n_url_kept": n_url_kept,
        "n_authority_kept": n_authority_kept,
        "n_boilerplate_chunks_removed": n_boiler_removed,
        "n_curated": n_curated,
        "n_decontaminated": n_decontaminated,
        "n_gopher_kept": n_gated,
        "n_span_kept": n_clean,
        "total_tokens": int(total_tokens),
        "n_bins": int(n_bins),
        "packing_fill": (
            round(total_tokens / (n_bins * capacity), 4) if n_bins else 0.0
        ),
        "vocab_size": len(vocab),
        "n_merges": len(merges),
        "eos_id": (
            B.special_token_ids(tok_path).get(eos_token)
            if eos_token is not None
            else None
        ),
        "tokenizer_path": tok_path,
        "shards_path": shards_path,
        "n_shards": n_shards,
    }
