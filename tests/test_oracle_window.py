"""Out-of-window oracle coverage.

The driver's correctness gate only checks the FIRST
``queries.DRIVER_WINDOW`` catalog registrations. Everything demoted past
that window (``queries._DEPRIORITIZED``) would otherwise rely on
same-engine pytest assertions alone — and round 4 proved local-green ≠
driver-green. This test runs the EXACT driver comparison (Spark vs the
DuckDB oracle SQL: row count, sorted columns, order-insensitive
canonicalized values, via tools/check_oracle.compare_query) over every
out-of-window entry at sf0.001, so a cross-engine drift in a demoted
query still fails CI loudly.
"""

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from check_oracle import compare_query, duckdb_connect  # noqa: E402

from auto_data_linkage_spark import queries as catalog  # noqa: E402


def _window_split():
    catalog._load_extensions()
    names = catalog._ordered_names()
    window = catalog.DRIVER_WINDOW
    return names[:window], names[window:]


def test_front_window_fits_driver_gate():
    front, back = _window_split()
    assert len(front) <= catalog.DRIVER_WINDOW
    # every operator newly added in rounds 5-7 must hold a driver row
    # (pq_topk rotated back in r7 — ivfpq_topk is its superset; the
    # generalized guarantee now lives in test_every_family_holds_a_driver_row)
    for name in (
        "curate_documents",
        "ivfpq_topk",
        "pack_sequences",
        "stratified_sample",
        "bm25_topk",
        "phonetic_blocking_pairs",
        "zorder_values",
        "count_min_tokens",
        "span_dedup",
        # (media_near_dup rotated back in r9j — embedding-dedup keeps
        # semantic_dedup in-window, multimodal keeps media_decode_stats)
        "window_count",
        "levenshtein_pairs",
        # round-8 promotions: the three r7 back-window-only additions
        # plus the new URL front door (c4_clean rotated back in r9i —
        # curate_documents composes its full cleaning chain in-window)
        "url_curation",
        # (line_dedup rotated back in r10c for domain_hits — the
        # substring-dedup family keeps three richer front rows)
        "perplexity_buckets",
        # round-9 promotions: every operator newly added in round 9
        # holds a driver row (the standing rule; epoch_mixture and
        # sq8_topk rotated back in r10b for the two new r10 operators —
        # their families keep richer front rows, see _DEPRIORITIZED)
        "gopher_repetition_filter",
        "decontaminate_attribution",
        "hybrid_topk",
        "hard_negatives",
        "fim_split",
        "dsir_resample",
        "near_dedup_keep_best",
        "curriculum_order",
        "embedding_outliers",
        "html_extract",
        "domain_pagerank",
        # round-12 promotion: source_overlap_matrix (the cross-source
        # duplication matrix over the certified LSH chain) takes the
        # driver row; anchor_pairs rotated back in exchange (the
        # link-graph family keeps four driver rows; the anchor-text
        # pairing stays driver-identically checked back-window)
        "source_overlap_matrix",
        "sentence_chunks",
        # round-10 promotions: domain_rank_prune (the link-graph
        # composition row, per the r9 verdict) and the new line-unit
        # boilerplate variant; link_graph and chunk-unit
        # site_boilerplate rotated back in exchange (each family keeps
        # strictly-richer front rows — see queries._DEPRIORITIZED)
        "domain_rank_prune",
        "site_boilerplate_lines",
        "tfidf_keywords",
        "token_budget_cap",
        # round-11 promotion: the HITS composition row over the real
        # extraction path (domain_hits rotated back in exchange — the
        # composition runs the identical fixed-point chain plus the
        # extract scan and gate under the same equality oracle)
        "domain_authority_prune",
    ):
        assert name in front, f"{name} fell out of the driver window"


def test_deprioritized_names_exist():
    catalog._load_extensions()
    missing = [n for n in catalog._DEPRIORITIZED if n not in catalog.REGISTRY]
    assert not missing, f"_DEPRIORITIZED names not registered: {missing}"


def test_every_family_holds_a_driver_row():
    """The generalized window invariant (VERDICT r6 #7): every operator
    family keeps ≥1 query inside the driver's front correctness window,
    every registered query belongs to exactly one family, and FAMILIES
    names no unregistered query. A future addition that lands without a
    family, or a rotation that pushes a family's last member back-window,
    fails here instead of silently downgrading that family's hard
    driver signal."""
    front, _back = _window_split()
    front_set = set(front)
    all_named = [n for members in catalog.FAMILIES.values() for n in members]
    # no typos: every FAMILIES name is a registered query
    unknown = [n for n in all_named if n not in catalog.REGISTRY]
    assert not unknown, f"FAMILIES names unregistered queries: {unknown}"
    # exactly one family per query
    dupes = {n for n in all_named if all_named.count(n) > 1}
    assert not dupes, f"queries in multiple families: {dupes}"
    unassigned = [n for n in catalog.REGISTRY if n not in set(all_named)]
    assert not unassigned, (
        f"registered queries with no family: {unassigned} — add each to "
        "queries.FAMILIES so the window invariant covers it"
    )
    # the invariant itself: each family has a front-window member
    orphaned = {
        fam: members
        for fam, members in catalog.FAMILIES.items()
        if not front_set.intersection(members)
    }
    assert not orphaned, (
        f"families with NO driver-window row: {orphaned} — rotate one "
        "member back into the front window"
    )


def test_no_oracle_sql_yields_hugeint(sf_dir):
    """Round 6 lost 3 driver hash rows to DuckDB ``SUM(BIGINT)`` widening
    to HUGEINT: the repo replica fetches via ``fetchall()`` (HUGEINT →
    Python int, hashes equal) while the driver materializes through
    pandas/Arrow where HUGEINT renders as float/decimal — invisible
    locally, red on the driver. Guard: no oracle SQL may emit a HUGEINT
    column; wrap integer SUMs in ``CAST(... AS BIGINT)``."""
    catalog._load_extensions()
    con = duckdb_connect(sf_dir)
    offenders = {}
    for name, entry in catalog.REGISTRY.items():
        if entry.sql is None:
            continue
        rel = con.sql(f"SELECT * FROM ({entry.sql}) LIMIT 0")
        bad = [
            c
            for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t).upper() or "INT128" in str(t).upper()
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"HUGEINT oracle columns (driver-red risk): {offenders}"


def _assert_matches_oracle(spark, sf_dir, name):
    catalog._load_extensions()
    fn = catalog.REGISTRY[name].fn
    sql = catalog.REGISTRY[name].sql
    if sql is None:
        pytest.skip(f"{name} has no SQL oracle (rows-only driver check)")
    con = duckdb_connect(sf_dir)
    problems = compare_query(spark, con, fn, sql, sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", _window_split()[1])
def test_out_of_window_query_matches_oracle(spark, sf_dir, name):
    _assert_matches_oracle(spark, sf_dir, name)


@pytest.mark.parametrize(
    "name", ["blocking_self_join", "fs_score_fixed", "connected_components"]
)
def test_front_window_engine_row_matches_oracle(spark, sf_dir, name):
    """The front-window rows that run the linkage engine (candidate_pairs,
    FellegiSunterModel.predict, connected_components) get the same
    oracle comparison here, so a drift in the engine fails this suite,
    not only the external gate."""
    assert name in _window_split()[0]
    _assert_matches_oracle(spark, sf_dir, name)
