"""Domain link-graph operators: edge extraction from raw HTML, degree
statistics, and fixed-point PageRank — the graph tier of web-corpus
curation (domain authority is a standard quality signal next to the
text-level Gopher/C4 gates; CC-style pipelines rank domains by link
centrality before sampling).

Green-field extension (no reference analogue — the reference stops at
record linkage); cites the house patterns it composes:
``registered_domain`` (operators/urls.py), the loop-carried driver
scalar convention (similarity.py k-means), and the per-iteration
``localCheckpoint`` lineage truncation used by every iterative operator
in this repo (cluster.py star rounds, similarity.py k-means).

Scale design
------------
- ``extract_links`` is a zero-shuffle regexp projection + one
  groupBy((src,dst)) count: the raw pages never shuffle — only the
  (src_domain, dst_domain) pairs do (bytes ~ edge count, not page
  bytes).
- ``pagerank`` iterates: ranks ⋈ edges on src (shuffle keyed by the
  16-ish-byte domain string; AQE skew-join splits mega-out-degree hub
  domains), then groupBy(dst) sum (map-side partial aggregation absorbs
  mega-IN-degree hubs). Per iteration: ONE shuffle join + ONE
  aggregation; the rank table (|nodes| rows, two columns) is
  localCheckpointed each round so the plan does not grow with the
  iteration count. The only driver state is |nodes| plus one 8-byte
  dangling-mass scalar per iteration (collected, never a data-sized
  pull — the same loop-carried-scalar convention as the k-means loop).
- Fixed-point arithmetic (BIGINT ranks scaled by 1e12, exact integer
  division) makes the result BIT-EXACT and summation-order-independent:
  the same corpus gives the same ranks on 1 executor or 1000 — which is
  also what makes the DuckDB oracle an equality check rather than a
  tolerance check. Overflow-safe at any node count (total mass is fixed
  at SCALE; see PAGERANK_SCALE for the headroom/precision math).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..cluster import collect_if_small
from . import manifestfs as M
from .urls import registered_domain

__all__ = [
    "anchor_texts",
    "compact_edge_store",
    "edge_store_sink",
    "init_edge_store",
    "load_edges",
    "delete_domains_from_edge_store",
    "vacuum_edge_store",
    "refresh_hits",
    "refresh_pagerank",
    "extract_links",
    "hits",
    "HITS_SCALE",
    "link_graph_stats",
    "pagerank",
    "PAGERANK_SCALE",
    "commit_ranks",
    "load_ranks",
    "commit_hits",
    "load_hits",
]

_EDGES_SCHEMA = (
    "src_domain string, dst_domain string, n_links bigint, bucket int"
)
# the domain-takedown mask (delete_domains_from_edge_store writes it)
_TOMBSTONES_SCHEMA = "domain string"

# href="..." capture: scheme-qualified links only (relative links stay
# on-site and carry no cross-domain authority). RE2-safe (no
# backreferences) so a DuckDB oracle can run the identical pattern.
_HREF_RE = r"""(?i)<a\s[^>]*href\s*=\s*["']?(https?://[^"'\s>#?]+)"""
_HOST_RE = r"(?i)^https?://([^/:]+)"
# href + anchor text in one capture pass: group 1 = url, group 2 = the
# full inner region up to the closing </a tag — INCLUDING wrapped
# markup (<b>text</b> anchors are common; a first-'<'-stops capture
# would drop them, a real recall gap for retrieval weak supervision).
# Inner tags are stripped AFTER the match by a bounded regexp_replace
# on the match string (match-sized, never page-sized). The lazy
# repetition is bounded at 999 chars (RE2's repeat limit is 1000):
# anchor regions longer than that — and unclosed <a> tags — produce no
# pair, the documented trade. Still RE2-safe: lazy quantifiers and
# bounded repeats only, no backreferences/lookarounds, so DuckDB runs
# the identical pattern.
_HREF_ANCHOR_RE = (
    r"""(?i)<a\s[^>]*href\s*=\s*["']?(https?://[^"'\s>#?]+)"""
    r"""[^>]*>([\s\S]{0,999}?)</a"""
)


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    *,
    drop_self: bool = True,
) -> DataFrame:
    """(src_domain, dst_domain, n_links) edge table from raw HTML pages.

    ``src_domain`` is the registered domain of the page's own URL,
    ``dst_domain`` that of each absolute href target; intra-domain links
    are dropped by default (they carry no cross-site authority signal).
    Pure codegen: regexp_extract_all → explode → two registered-domain
    projections → groupBy count. The page bytes never shuffle — only
    the exploded (src, dst) string pairs reach the exchange.
    """
    links = df.select(
        registered_domain(
            F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))
        ).alias("src_domain"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RE), F.lit(1))
        ).alias("__href"),
    ).select(
        "src_domain",
        registered_domain(
            F.lower(F.regexp_extract(F.col("__href"), _HOST_RE, 1))
        ).alias("dst_domain"),
    ).where(F.col("dst_domain") != "")
    if drop_self:
        links = links.where(F.col("src_domain") != F.col("dst_domain"))
    return links.groupBy("src_domain", "dst_domain").agg(
        F.count("*").alias("n_links")
    )


def anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    *,
    drop_self: bool = True,
) -> DataFrame:
    """(src_domain, dst_domain, anchor) rows: each absolute link with
    its anchor text — the classic weak-supervision source for
    query→document retrieval training pairs (the anchor describes the
    TARGET page in someone else's words). Same zero-UDF shape as
    :func:`extract_links`. The PAGE-SIZED regex pass runs ONCE
    (``regexp_extract_all`` of the full match); the two capture groups
    are re-extracted per MATCH string after the explode — match bytes
    are tiny next to page bytes, so this halves the raw-HTML scan cost
    vs two whole-page group extractions. Markup-wrapped anchors
    (``<a ...><b>text</b></a>``) are RECOVERED: the capture runs to the
    closing ``</a`` and inner tags are stripped by a match-sized
    ``regexp_replace`` (then whitespace-collapsed) — never a page-sized
    pass. Unclosed anchors and inner regions over 999 chars produce no
    pair (bounded lazy repeat; see ``_HREF_ANCHOR_RE``). Page bytes
    never shuffle; output is link-sized.
    """
    out = df.select(
        registered_domain(
            F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))
        ).alias("src_domain"),
        F.explode(
            F.regexp_extract_all(
                F.col(html_col), F.lit(_HREF_ANCHOR_RE), F.lit(0)
            )
        ).alias("__m"),
    ).select(
        "src_domain",
        registered_domain(
            F.lower(
                F.regexp_extract(
                    F.regexp_extract(F.col("__m"), _HREF_ANCHOR_RE, 1),
                    _HOST_RE,
                    1,
                )
            )
        ).alias("dst_domain"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(F.col("__m"), _HREF_ANCHOR_RE, 2),
                    r"<[^>]*>",
                    " ",
                ),
                r"\s+",
                " ",
            )
        ).alias("anchor"),
    ).where((F.col("dst_domain") != "") & (F.col("anchor") != ""))
    if drop_self:
        out = out.where(F.col("src_domain") != F.col("dst_domain"))
    return out


def link_graph_stats(edges: DataFrame, *, materialize: bool = True) -> DataFrame:
    """Per-domain degree profile over a (src_domain, dst_domain[,
    n_links]) edge table: out_degree (distinct targets), in_degree
    (distinct referrers), and ``reciprocal`` (count of mutual links —
    link-farm rings show high reciprocity). Three aggregations over
    edge-sized relations plus one self-semi-join on the reversed key;
    nothing corpus-sized.

    ``materialize`` (default on) localCheckpoints the projected edge
    table before the four consumers below (out/in/reciprocal's two
    sides). Without it Catalyst prunes each branch differently (one
    keeps the n_links count, the others drop it), the canonicalized
    subtrees stop being equal, exchange reuse never fires, and the
    edge-building lineage — for :func:`extract_links` input a full
    page-corpus regex pass — executes once PER BRANCH (measured: 4
    parquet scans + 4 regexp_extract_all passes in the sf0.1 plan).
    The pinned state is edge-sized (two domain strings per row), the
    same delta-class intermediate the LSH band table pins; pass
    ``materialize=False`` to keep the plan fully declarative."""
    e = edges.select("src_domain", "dst_domain")
    if materialize:
        e = e.localCheckpoint(eager=False)
    out_deg = e.groupBy(F.col("src_domain").alias("domain")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = e.groupBy(F.col("dst_domain").alias("domain")).agg(
        F.count("*").alias("in_degree")
    )
    mutual = (
        e.alias("a")
        .join(
            e.select(
                F.col("dst_domain").alias("src_domain"),
                F.col("src_domain").alias("dst_domain"),
            ).alias("b"),
            ["src_domain", "dst_domain"],
            "left_semi",
        )
        .groupBy(F.col("src_domain").alias("domain"))
        .agg(F.count("*").alias("reciprocal"))
    )
    return (
        out_deg.join(in_deg, "domain", "full_outer")
        .join(mutual, "domain", "left")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("reciprocal", F.lit(0)).alias("reciprocal"),
        )
    )


#: Fixed-point scale for PageRank: TOTAL graph mass == SCALE (each node
#: starts at SCALE DIV |nodes|). Overflow headroom: no node can hold
#: more than the total mass, so the hottest intermediate is
#: 85·SCALE = 8.5e13 « 2^63 — safe at ANY node count. What |nodes|
#: does bound is per-node PRECISION: a node's rank is ~SCALE/|nodes|
#: scaled units and each out-edge floors away <1 unit per iteration,
#: so at 10^12 a billion-domain graph still carries ~3 significant
#: digits per average node (raise scale to 10^15 for more; headroom
#: allows up to ~9e16).
PAGERANK_SCALE = 10**12


def _pagerank_driver(
    edge_rows,
    spark,
    *,
    iterations: int,
    damping_pct: int,
    scale: int,
    seeds,
    init_rank_rows,
    tol_scaled,
    min_iterations: int,
    stats,
) -> DataFrame:
    """Driver-side replica of the distributed :func:`pagerank` loop for
    graphs small enough to collect. Every quantity is the SAME exact
    non-negative BIGINT arithmetic (``//`` ≡ SQL ``DIV`` on
    non-negatives), so the output is bit-identical to the distributed
    path — the adaptive-execution contract :func:`..cluster
    .connected_components` established. A 50k-edge graph costs
    O(E·iterations) dict ops here (milliseconds) versus ~2 Spark jobs
    PER ITERATION distributed (~0.1 s each of pure scheduling at any
    scale factor)."""
    import pandas as pd

    out_deg: dict = {}
    nodes: set = set()
    adj: list = []
    for r in edge_rows:
        s, d = r["src"], r["dst"]
        nodes.add(s)
        nodes.add(d)
        out_deg[s] = out_deg.get(s, 0) + 1
        adj.append((s, d))
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame(
            [], "domain string, rank_scaled bigint"
        )
    if seeds is not None:
        seed_set = set(seeds)
        is_seed = {v: (v in seed_set) for v in nodes}
        n_tel = sum(1 for v in nodes if is_seed[v])
        if n_tel == 0:
            raise ValueError("no seed domain is present in the graph")
    else:
        is_seed = {v: True for v in nodes}
        n_tel = n
    teleport = (scale // n_tel) * (100 - damping_pct) // 100
    if init_rank_rows is not None:
        init_map = {r["domain"]: r["rank_scaled"] for r in init_rank_rows}
        uniform = scale // n
        rank = {
            v: (
                init_map[v]
                if init_map.get(v) is not None
                else uniform
            )
            for v in nodes
        }
    else:
        rank = {v: scale // n for v in nodes}
    prev = None
    iterations_run = 0
    l1 = None
    for _ in range(iterations):
        dangling = sum(
            rank[v] for v in nodes if out_deg.get(v, 0) == 0
        )
        l1 = (
            None
            if prev is None
            else sum(abs(rank[v] - prev[v]) for v in nodes)
        )
        if (
            tol_scaled is not None
            and l1 is not None
            and iterations_run >= min_iterations
            and l1 <= tol_scaled
        ):
            break
        contrib: dict = {}
        for s, d in adj:
            share = rank[s] // out_deg[s]
            contrib[d] = contrib.get(d, 0) + share
        prev = rank
        extra = dangling // n_tel
        rank = {
            v: (
                (teleport if is_seed[v] else 0)
                + damping_pct
                * (contrib.get(v, 0) + (extra if is_seed[v] else 0))
                // 100
            )
            for v in nodes
        }
        iterations_run += 1
    if stats is not None:
        stats["iterations_run"] = iterations_run
        stats["final_l1"] = l1
    pdf = pd.DataFrame(
        sorted(rank.items()), columns=["domain", "rank_scaled"]
    )
    return spark.createDataFrame(pdf, "domain string, rank_scaled bigint")


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    seeds: list[str] | None = None,
    init_ranks: DataFrame | None = None,
    tol_scaled: int | None = None,
    min_iterations: int = 1,
    stats: dict | None = None,
    driver_threshold: int = 50_000,
) -> DataFrame:
    """Fixed-point PageRank over a (src, dst) edge table →
    ``(domain, rank_scaled)`` with rank_scaled summing to ≈ scale.

    Deterministic BY CONSTRUCTION: ranks are BIGINTs, contributions are
    exact integer divisions (``rank DIV out_degree``), and integer sums
    are order-independent — so results are bit-identical run to run and
    cluster to cluster (and checkable by an exact-equality oracle).
    ``damping_pct`` is the damping factor in percent (85 ≡ 0.85).

    ``seeds`` switches to TrustRank (Gyöngyi'04): teleport and dangling
    mass flow only to the listed trusted domains (a literal ``isin``
    predicate — no join; curation blocklists are the mirror image, and
    trust lists are similarly small). Spam islands unreachable from a
    seed decay to rank 0 instead of collecting teleport mass. Seeds
    absent from the graph are ignored.

    ``init_ranks`` warm-starts the iteration from a previous run's
    (domain, rank_scaled) output instead of the uniform vector — the
    INCREMENTAL refresh: after a small edge delta, the old ranks are
    near the new fixed point, so far fewer iterations recover full
    precision (power iteration converges geometrically from wherever
    it starts). Domains absent from ``init_ranks`` (new since the last
    run) start at the uniform share. One extra broadcast-sized join
    outside the loop; the per-iteration plan is unchanged.

    ``tol_scaled`` enables CONVERGENCE EARLY-STOP: before each update
    the loop checks the exact-BIGINT L1 delta of the previous update
    (``sum(abs(new - old))``, piggybacked on the same one-row aggregate
    that already collects the dangling mass — zero extra jobs) and
    stops once it is ``<= tol_scaled`` after at least
    ``min_iterations`` updates; ``iterations`` stays the hard cap. The
    returned ranks are BIT-IDENTICAL to a fixed-``iterations`` run
    stopped at the same point (the stop never alters an update, it
    only skips provably-negligible ones), so the equality oracle is
    unaffected when the knob is off (the default). This is what makes
    warm-started refreshes adaptive: a tiny edge delta converges in
    1-2 updates instead of paying the fixed schedule. Pass a ``stats``
    dict to receive ``{"iterations_run", "final_l1"}`` (``final_l1``
    is the last L1 delta the stop-check aggregated, ``None`` if no
    update ran).

    ``driver_threshold``: graphs with no more than this many distinct
    edges run the IDENTICAL exact-integer loop driver-side (bounded
    limit probe first — no edge row reaches the driver above the
    threshold), the same adaptive-execution convention as
    ``cluster.connected_components``; 0/None forces the distributed
    path. Both paths are bit-identical by construction.

    Per iteration (distributed path): one shuffle join (ranks ⋈ edges
    on src) + one aggregation (sum by dst), with ranks eagerly localCheckpointed so
    the logical plan stays O(1) in ``iterations``. The dangling mass is
    a 1-row aggregate COLLECTED to the driver each round — 8 bytes, the
    same loop-carried-scalar convention as the k-means centroid loop
    (similarity.py), measured 5× faster here than the
    broadcast-crossJoin formulation (each broadcast spawns its own
    job + exchange; a scalar collect is one tiny job and folds the
    dangling term into the update as a LITERAL, shrinking the codegen
    tree too). Multi-edges count once — callers wanting weighted
    PageRank can pre-expand, but domain-level authority conventionally
    ignores link multiplicity.
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # adaptive execution (the connected_components convention): a graph
    # under ``driver_threshold`` distinct edges runs the IDENTICAL exact-
    # integer loop on the driver — a distributed iteration costs ~2 jobs
    # of fixed scheduling latency regardless of data size, so a 100-node
    # bench graph pays ~10 jobs for microseconds of arithmetic. Memory
    # math: ≤ threshold+1 collected edge Rows (~200 B each incl. Python
    # overhead → ~10 MB at the default 50k) plus two int dicts over
    # ≤ 2·threshold nodes — trivially driver-safe; the 50k default also
    # bounds the Python loop at O(50k·iterations) dict ops (~ms). Above
    # the threshold NO edge row reaches the driver (bounded limit probe)
    # and the star of the show stays the executor-side loop.
    if driver_threshold and driver_threshold > 0:
        rows = collect_if_small(e, driver_threshold)
        if rows is not None:
            init_rows = (
                None
                if init_ranks is None
                else collect_if_small(
                    # a warm-start vector for a ≤ threshold-edge graph
                    # has ≤ 2·threshold useful rows; a bigger one means
                    # the PREVIOUS graph was over-threshold — keep that
                    # case distributed rather than collect it
                    init_ranks.select("domain", "rank_scaled"),
                    2 * driver_threshold,
                )
            )
            if init_ranks is None or init_rows is not None:
                return _pagerank_driver(
                    rows,
                    edges.sparkSession,
                    iterations=iterations,
                    damping_pct=damping_pct,
                    scale=scale,
                    seeds=seeds,
                    init_rank_rows=init_rows,
                    tol_scaled=tol_scaled,
                    min_iterations=min_iterations,
                    stats=stats,
                )
    # reused every iteration (both loop reads) — materialize once.
    e = e.localCheckpoint(eager=True)

    nodes = e.select(F.col("src").alias("domain")).union(
        e.select(F.col("dst").alias("domain"))
    ).distinct()
    out_deg = e.groupBy(F.col("src").alias("domain")).agg(
        F.count("*").alias("out_degree")
    )
    # nodes ⋈ out-degrees once, outside the loop; dangling = 0 out-links.
    base = (
        nodes.join(out_deg, "domain", "left")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
        .localCheckpoint(eager=True)
    )
    # the per-loop driver scalars: |nodes| / |present seeds| (literals
    # in the teleport term) and, per iteration, the 8-byte dangling mass.
    n = base.count()
    if n == 0:
        return base.select(
            "domain", F.lit(0).cast("bigint").alias("rank_scaled")
        )
    if seeds is not None:
        is_seed = F.col("domain").isin(list(seeds))
        n_tel = base.where(is_seed).count()
        if n_tel == 0:
            raise ValueError("no seed domain is present in the graph")
    else:
        is_seed = F.lit(True)
        n_tel = n

    teleport = (scale // n_tel) * (100 - damping_pct) // 100
    seed_col = is_seed.cast("boolean").alias("__seed")
    no_prev = F.lit(None).cast("bigint").alias("__prev")
    if init_ranks is not None:
        ranks = base.join(
            init_ranks.select(
                "domain", F.col("rank_scaled").alias("__r0")
            ),
            "domain",
            "left",
        ).select(
            "domain",
            "out_degree",
            seed_col,
            no_prev,
            F.coalesce(F.col("__r0"), F.lit(scale // n))
            .cast("bigint")
            .alias("rank_scaled"),
        ).localCheckpoint(eager=True)
    else:
        ranks = base.select(
            "domain",
            "out_degree",
            seed_col,
            no_prev,
            F.lit(scale // n).cast("bigint").alias("rank_scaled"),
        ).localCheckpoint(eager=True)
    iterations_run = 0
    l1 = None
    for _ in range(iterations):
        # ONE tiny job collects BOTH loop-carried scalars: the dangling
        # mass for this update and the L1 delta of the PREVIOUS update
        # (rank - __prev; null until an update ran) — the convergence
        # check rides the collect that already existed.
        row = ranks.agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("out_degree") == 0, F.col("rank_scaled")
                    )
                ),
                F.lit(0),
            ).alias("d"),
            F.sum(F.abs(F.col("rank_scaled") - F.col("__prev"))).alias(
                "l1"
            ),
        ).collect()[0]
        dangling = int(row["d"])
        l1 = None if row["l1"] is None else int(row["l1"])
        if (
            tol_scaled is not None
            and l1 is not None
            and iterations_run >= min_iterations
            and l1 <= tol_scaled
        ):
            break
        # all arithmetic below is exact integer DIV/×/+ (never float `/`
        # + cast: doubles lose exactness past 2^53, and bit-exactness is
        # the whole point of the fixed-point formulation).
        contrib = (
            ranks.where(F.col("out_degree") > 0)
            .select(
                F.col("domain").alias("src"),
                F.expr("rank_scaled DIV out_degree").alias("__share"),
            )
            .join(e, "src")
            .groupBy(F.col("dst").alias("domain"))
            .agg(F.sum("__share").cast("bigint").alias("__in"))
        )
        ranks = (
            ranks.select(
                "domain",
                "out_degree",
                "__seed",
                F.col("rank_scaled").alias("__prev"),
            )
            .join(contrib, "domain", "left")
            .select(
                "domain",
                "out_degree",
                F.col("__seed"),
                F.col("__prev"),
                F.expr(
                    f"CAST(IF(__seed, {teleport}, 0) + {damping_pct} * "
                    f"(COALESCE(__in, 0) + "
                    f"IF(__seed, {dangling} DIV {n_tel}, 0)) DIV 100 "
                    f"AS BIGINT)"
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
        iterations_run += 1
    if stats is not None:
        # final_l1: delta of the last COMPLETED update. When the loop
        # exhausted `iterations` the last update's delta was never
        # aggregated — leave the pre-update value only on early stop.
        stats["iterations_run"] = iterations_run
        stats["final_l1"] = l1
    return ranks.select("domain", "rank_scaled")


HITS_SCALE = 10**6


def _hits_driver(
    edge_rows, spark, *, iterations: int, scale: int
) -> DataFrame:
    """Driver-side replica of the distributed :func:`hits` loop —
    identical exact-integer half-steps (``//`` ≡ SQL ``DIV`` on
    non-negatives), bit-identical output; see :func:`_pagerank_driver`
    for the adaptive-execution rationale and memory math."""
    import pandas as pd

    nodes: set = set()
    adj: list = []
    for r in edge_rows:
        s, d = r["src"], r["dst"]
        nodes.add(s)
        nodes.add(d)
        adj.append((s, d))
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame(
            [], "domain string, hub_scaled bigint, auth_scaled bigint"
        )
    if scale // n == 0:
        raise ValueError(
            f"graph has {n} nodes but scale={scale}: the initial hub "
            "share scale DIV n floors to 0 and zero vectors are a "
            "fixed point of the integer rescale (the result would be "
            "silently all-zero). Raise scale to at least the node "
            "count — and check the max_degree < 2^63/scale^2 overflow "
            "bound still holds at the new scale (see docstring)."
        )
    hub = {v: scale // n for v in nodes}
    auth = None
    for _ in range(iterations):
        a_raw: dict = {}
        for s, d in adj:
            a_raw[d] = a_raw.get(d, 0) + hub[s]
        a_tot = max(sum(a_raw.values()), 1)
        auth = {v: a_raw.get(v, 0) * scale // a_tot for v in nodes}
        h_raw: dict = {}
        for s, d in adj:
            h_raw[s] = h_raw.get(s, 0) + auth[d]
        h_tot = max(sum(h_raw.values()), 1)
        hub = {v: h_raw.get(v, 0) * scale // h_tot for v in nodes}
    pdf = pd.DataFrame(
        [(v, hub[v], auth[v]) for v in sorted(nodes)],
        columns=["domain", "hub_scaled", "auth_scaled"],
    )
    return spark.createDataFrame(
        pdf, "domain string, hub_scaled bigint, auth_scaled bigint"
    )


def hits(
    edges: DataFrame,
    *,
    iterations: int = 5,
    scale: int = HITS_SCALE,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    driver_threshold: int = 50_000,
) -> DataFrame:
    """Fixed-point HITS (Kleinberg'99 hubs & authorities — public
    algorithm) over a (src, dst) edge table →
    ``(domain, hub_scaled, auth_scaled)``, each vector summing to
    ≈ ``scale``. The complement of :func:`pagerank` for curation:
    AUTHORITIES are the pages worth keeping, HUBS are the link/
    directory pages worth crawling but usually not worth training on —
    a high hub/authority ratio is itself a boilerplate-page signal.

    Deterministic BY CONSTRUCTION, like :func:`pagerank`: all state is
    BIGINT, each half-step rescales by exact integer division
    ``raw * scale DIV total`` (totals are exact integer sums, so the
    result is order-independent and bit-identical run to run), which
    replaces the float L2 normalization of the textbook formulation —
    rankings are unaffected by the norm choice (L1 here). The DuckDB
    oracle unrolls the identical chain and compares by EQUALITY.

    Overflow bound: ``raw ≤ total`` and the rescale computes
    ``raw * scale``, so we need ``total * scale < 2^63``; ``total ≤
    scale · max_degree``, giving ``max_degree < 2^63 / scale²`` ≈
    9.2e6 at the default ``scale=10^6``. Domain graphs with
    mega-degree hubs beyond that should drop ``scale`` a decade (the
    same documented trade as ``PAGERANK_SCALE``).

    Node-count floor (the other side of the same trade): the initial
    hub share is ``scale DIV n`` and zero vectors are a fixed point of
    the integer rescale, so a graph with more than ``scale`` nodes
    would silently return all zeros — this raises instead. Together
    the two bounds pin the working envelope: ``n ≤ scale`` AND
    ``max_degree < 2^63 / scale²``; pick ``scale`` between them (e.g.
    ``10^8`` handles a 10^8-domain graph with max_degree < 900; an
    exact-integer formulation for BOTH huge n and mega-degree hubs
    needs a wider intermediate than BIGINT — use :func:`pagerank`
    (scale 10^12, overflow-safe at any node count) when only a single
    authority vector is needed).

    Per iteration: TWO shuffle joins + TWO aggregations (authority
    then hub half-step, the hub step reading the UPDATED authorities —
    the textbook order), each followed by an 8-byte total collected to
    the driver and folded in as a literal (the pagerank loop-scalar
    convention), with both vectors eagerly localCheckpointed so the
    plan stays O(1) in ``iterations``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # adaptive execution, same contract as pagerank: under the edge
    # threshold the identical integer loop runs on the driver (HITS
    # costs ~6 jobs per iteration distributed — two raw checkpoints,
    # two total collects, two vector checkpoints — all fixed latency
    # on a small graph); see _pagerank_driver for the memory math.
    if driver_threshold and driver_threshold > 0:
        rows = collect_if_small(e, driver_threshold)
        if rows is not None:
            return _hits_driver(
                rows,
                edges.sparkSession,
                iterations=iterations,
                scale=scale,
            )
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("domain"))
        .union(e.select(F.col("dst").alias("domain")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "domain",
            F.lit(0).cast("bigint").alias("hub_scaled"),
            F.lit(0).cast("bigint").alias("auth_scaled"),
        )
    if scale // n == 0:
        raise ValueError(
            f"graph has {n} nodes but scale={scale}: the initial hub "
            "share scale DIV n floors to 0 and zero vectors are a "
            "fixed point of the integer rescale (the result would be "
            "silently all-zero). Raise scale to at least the node "
            "count — and check the max_degree < 2^63/scale^2 overflow "
            "bound still holds at the new scale (see docstring)."
        )
    hub = nodes.select(
        "domain", F.lit(scale // n).cast("bigint").alias("hub_scaled")
    ).localCheckpoint(eager=True)
    auth = None
    for _ in range(iterations):
        # authority half-step: a_i = Σ_{j→i} h_j, L1-rescaled
        a_raw = (
            hub.join(e, hub["domain"] == e["src"])
            .groupBy(F.col("dst").alias("domain"))
            .agg(F.sum("hub_scaled").alias("__raw"))
            .localCheckpoint(eager=True)
        )
        a_tot = max(
            int(a_raw.agg(F.coalesce(F.sum("__raw"), F.lit(0))).first()[0]),
            1,
        )
        auth = (
            nodes.join(a_raw, "domain", "left")
            .select(
                "domain",
                F.expr(
                    f"CAST(COALESCE(__raw, 0) * {scale} DIV {a_tot} "
                    f"AS BIGINT)"
                ).alias("auth_scaled"),
            )
            .localCheckpoint(eager=True)
        )
        # hub half-step over the UPDATED authorities: h_i = Σ_{i→j} a_j
        h_raw = (
            auth.join(e, auth["domain"] == e["dst"])
            .groupBy(F.col("src").alias("domain"))
            .agg(F.sum("auth_scaled").alias("__raw"))
            .localCheckpoint(eager=True)
        )
        h_tot = max(
            int(h_raw.agg(F.coalesce(F.sum("__raw"), F.lit(0))).first()[0]),
            1,
        )
        hub = (
            nodes.join(h_raw, "domain", "left")
            .select(
                "domain",
                F.expr(
                    f"CAST(COALESCE(__raw, 0) * {scale} DIV {h_tot} "
                    f"AS BIGINT)"
                ).alias("hub_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return hub.join(auth, "domain").select(
        "domain", "hub_scaled", "auth_scaled"
    )


# ------------------------------------------------------------ edge store
def _edge_bucket(col, n_buckets: int):
    from .text import md5_hash64

    return F.pmod(md5_hash64(col), F.lit(n_buckets)).cast("int")


def edge_store_sink(
    path: str,
    *,
    html_col: str = "html",
    url_col: str = "url",
    n_buckets: int = 16,
    drop_self: bool = True,
    compact_over: int | None = None,
    app_id: str | None = None,
):
    """``foreachBatch`` sink maintaining a persistent domain edge store
    from a stream of raw pages (the continuous-crawl twin of
    :func:`extract_links`): each micro-batch's edges append as DELTA
    rows (src_domain, dst_domain, n_links) partitioned by a src-domain
    bucket — nothing stored is ever rewritten, the same
    sum-deltas-at-read contract as the lexical index's df stats
    (operators/lexindex.py). Readers go through :func:`load_edges`
    (one aggregate); :func:`compact_edge_store` merges deltas when
    fragmentation warrants; :func:`pagerank` over the loaded edges
    refreshes domain authority at any cadence.

    Usage::

        pages.writeStream.foreachBatch(edge_store_sink("/edges"))
             .option("checkpointLocation", ckpt).start()

    The store is a manifest store (:mod:`.manifestfs`); the sink
    creates it on first use exactly as ``init_edge_store(path,
    n_buckets=n_buckets)`` would (an existing store keeps its own
    ``n_buckets``). Each micro-batch's delta lands in a fresh
    ``gen=N`` dir under ``<path>/edges`` and becomes visible at ONE
    manifest commit — with ``app_id`` set, that commit also records
    the ``(app_id, batch_id)`` idempotence token, making the sink
    EXACTLY-ONCE: a replay of a batch whose commit never happened
    appends cleanly, a replay of a batch that DID commit (crash before
    the checkpoint advanced) is skipped by its token, and no rename is
    ever performed (object-store-safe maintenance). Without
    ``app_id``, a replay of a committed batch appends duplicate deltas
    (n_links inflates; edge EXISTENCE — what PageRank consumes — is
    unaffected since :func:`pagerank` drops multiplicity).
    ``app_id`` names the query's checkpoint lineage and is OPT-IN
    (default None = no token): an implicit shared default would
    silently drop the first batches of a new query whose fresh
    checkpoint resets batch ids — a new checkpoint directory must come
    with a new app_id.

    ``compact_over`` is the scheduling policy the other two index
    sinks carry (:func:`lexindex.lex_index_sink`,
    :func:`annindex.ann_index_sink`): after each append, buckets whose
    live data-file count exceeds the threshold are merged via
    :func:`compact_edge_store` — so a long-running stream bounds its
    own fragmentation instead of waiting for an operator; pinned
    readers are untouched and the compaction commit simply interleaves
    with the appends.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if M.is_manifest_store(path):
            snap = M.read_manifest(path)
        else:
            snap = init_edge_store(path, n_buckets=n_buckets)
        if app_id is not None and (
            M.txn_version(snap["meta"], app_id) >= batch_id
        ):
            return  # batch already committed: a checkpoint replay
        if batch_df.isEmpty():
            return
        nb = int(snap["meta"].get("n_buckets", n_buckets))
        local = M.local_path(path)
        gen = M.next_gen(path, "edges")
        edges = extract_links(batch_df, html_col, url_col, drop_self=drop_self)
        (
            edges.withColumn("bucket", _edge_bucket(F.col("src_domain"), nb))
            .write.partitionBy("bucket")
            .parquet(os.path.join(local, "edges", gen))
        )
        parts = M.written_parts(path, "edges", gen)
        if parts:
            # merge-retry commit: the delta generation is immutable;
            # losing the version race (a concurrent takedown or
            # compaction) re-runs only this manifest merge, so the sink
            # keeps streaming through maintenance commits. The
            # (app_id, batch_id) token commits WITH the data: a replay
            # of an already-committed batch is skipped above —
            # exactly-once.
            def mutate(fresh: dict):
                if int(fresh["meta"].get("n_buckets", nb)) != nb:
                    raise M.ManifestConflictError(
                        "edge-store n_buckets changed under this "
                        "append — re-bucket the delta"
                    )
                if app_id is not None and (
                    M.txn_version(fresh["meta"], app_id) >= batch_id
                ):
                    # same-token concurrent sink instance won since the
                    # entry check: merging would double-append — abort
                    # atomically with the commit
                    raise M.AlreadyApplied(fresh)
                return (
                    M.add_gens(fresh["tables"], "edges", parts, gen),
                    M.with_txn(
                        fresh["meta"],
                        None if app_id is None else (app_id, batch_id),
                    ),
                )

            try:
                M.commit_with_retry(path, mutate)
            except M.AlreadyApplied:
                return
        if compact_over is not None:
            compact_edge_store(
                batch_df.sparkSession, path,
                max_files_per_bucket=compact_over,
            )

    return _sink


def init_edge_store(path: str, *, n_buckets: int = 16) -> dict:
    """Create an empty edge store (commit manifest v1 — see
    :mod:`.manifestfs` for the contract). :func:`edge_store_sink` does
    this on first use; call it directly to fix ``n_buckets`` before
    any data arrives. Returns the committed manifest."""
    local = M.local_path(path)
    os.makedirs(local, exist_ok=True)
    return M.init_manifest_store(
        path,
        tables={},
        meta={
            "n_buckets": int(n_buckets),
            "edges_schema": _EDGES_SCHEMA,
        },
    )


def vacuum_edge_store(
    path: str, *, keep_manifests: int = 2, min_age_seconds: float = 3600.0
) -> dict:
    """Reclaim superseded/orphaned generations of an edge store — see
    :func:`manifestfs.vacuum` for the reader-pinning grace contract and
    the ``min_age_seconds`` misuse guard."""
    return M.vacuum(
        path, keep_manifests=keep_manifests, min_age_seconds=min_age_seconds
    )


def delete_domains_from_edge_store(spark, path: str, domains) -> dict:
    """Domain TAKEDOWN for the edge store — the graph-tier mirror of
    the index tombstones (spam rings caught by reciprocity stats,
    legal blocks, site owners opting out): a ``(domain)`` row appends
    to ``<path>/_tombstones`` and :func:`load_edges` drops every edge
    touching a masked domain (src OR dst), so the next
    :func:`refresh_pagerank` redistributes the domain's authority as
    if it never existed — bit-identical to PageRank over the filtered
    edge table (tested), with nothing stored rewritten. ``domains`` is
    a one-column DataFrame or a Python list. Compaction purges masked
    edges physically in rewritten buckets; the mask itself is
    permanent (re-crawled pages of a taken-down domain stay masked —
    the point of a takedown). The mask lands as a new tombstone
    generation committed atomically. Returns ``{"deleted": n}`` (count
    of newly masked domain names)."""
    snap = M.read_manifest(path)
    if not isinstance(domains, DataFrame):
        from auto_data_linkage_spark.session import local_rows_df

        domains = local_rows_df(
            spark, [(str(d),) for d in domains], ["domain"]
        )
    else:
        domains = domains.select(
            F.col(domains.columns[0]).cast("string").alias("domain")
        )
    domains = domains.distinct()
    tombs = M.read_table(spark, path, "tombstones", snap)
    if tombs is not None:
        domains = domains.join(tombs, "domain", "left_anti")
    domains = domains.localCheckpoint(eager=True)
    n = domains.count()
    if n:
        gen = M.next_gen(path, "tombstones")
        domains.write.parquet(
            os.path.join(M.local_path(path), "tombstones", gen)
        )
        parts = M.written_parts(path, "tombstones", gen)

        # merge-retry commit: the mask is a SET (readers anti-join it),
        # so a concurrent takedown that re-masked one of our domains in
        # between only makes `deleted` an overcount — never a wrong
        # mask.
        def mutate(fresh: dict):
            return (
                M.add_gens(fresh["tables"], "tombstones", parts, gen),
                fresh["meta"],
            )

        M.commit_with_retry(path, mutate)
    return {"deleted": int(n)}


def load_edges(spark, path: str, *, version: int | None = None) -> DataFrame:
    """Aggregated edge table from an :func:`edge_store_sink` store:
    delta rows summed to one (src_domain, dst_domain, n_links) row per
    edge — the input shape :func:`pagerank` / :func:`link_graph_stats`
    expect — with the domain-takedown mask applied
    (:func:`delete_domains_from_edge_store`): edges touching a masked
    domain never reach a reader (two deleted-domains-sized anti-joins;
    AQE broadcasts them). The manifest read PINS the snapshot — concurrent appends/compactions/takedowns committing
    later never change what this reader aggregates; ``version``
    TIME-TRAVELS to that exact committed snapshot (e.g. the edge
    graph as of a crawl epoch, pre-takedown — within vacuum's
    keep-window). The reads take the edge schema the store recorded
    and the fixed tombstone schema, so opening the handle launches no
    Spark job (a store whose meta has no ``edges_schema`` falls back
    to inference)."""
    snap = M.read_manifest(path, version)
    schema = snap["meta"].get("edges_schema")
    edges = M.read_table(spark, path, "edges", snap, schema=schema)
    if edges is None:
        edges = spark.createDataFrame([], schema)
    tombs = M.read_table(
        spark, path, "tombstones", snap, schema=_TOMBSTONES_SCHEMA
    )
    if tombs is not None:
        edges = edges.join(
            tombs.select(F.col("domain").alias("src_domain")),
            "src_domain",
            "left_anti",
        ).join(
            tombs.select(F.col("domain").alias("dst_domain")),
            "dst_domain",
            "left_anti",
        )
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.sum("n_links").cast("bigint").alias("n_links")
    )


def commit_ranks(
    spark,
    path: str,
    ranks: DataFrame,
    *,
    algo: str = "pagerank",
    params: dict | None = None,
    edge_state: str | None = None,
    at_version: int | None = None,
) -> dict:
    """Persist ``(domain, rank_scaled)`` as the manifest edge store's
    derived ``ranks`` table — REPLACED whole at each commit (a rank
    vector is a fixed point, not a delta), atomically, with the
    edge-store version it was computed FROM recorded in the meta
    (``meta["ranks"] = {"algo", "at_version", "params"}``) so a later
    warm refresh knows exactly how stale it is and under which knobs
    it was scored (``params`` powers :func:`refresh_pagerank`'s
    quiescence skip). Superseded rank generations are reclaimed by
    :func:`vacuum_edge_store` like any other; pinned readers keep
    serving the snapshot they opened. Concurrent edge appends
    interleave safely — the replace rides the same merge-retry commit
    CAS as the sink."""
    return _commit_vector(
        path,
        ranks,
        table="ranks",
        columns=("domain", "rank_scaled"),
        algo=algo,
        params=params,
        edge_state=edge_state,
        at_version=at_version,
    )


def commit_hits(
    spark,
    path: str,
    vectors: DataFrame,
    *,
    params: dict | None = None,
    edge_state: str | None = None,
    at_version: int | None = None,
) -> dict:
    """Persist ``(domain, hub_scaled, auth_scaled)`` as the manifest
    edge store's derived ``hits`` table — the HITS twin of
    :func:`commit_ranks`, same replace-whole semantics, recorded under
    ``meta["hits"]`` so a store can carry BOTH a PageRank and a HITS
    vector without clobbering (``meta["ranks"]`` is untouched).
    Powers :func:`refresh_hits`'s quiescence skip; superseded
    generations reclaimed by :func:`vacuum_edge_store`."""
    return _commit_vector(
        path,
        vectors,
        table="hits",
        columns=("domain", "hub_scaled", "auth_scaled"),
        algo="hits",
        params=params,
        edge_state=edge_state,
        at_version=at_version,
    )


def _commit_vector(
    path: str,
    df: DataFrame,
    *,
    table: str,
    columns: tuple[str, ...],
    algo: str,
    params: dict | None,
    edge_state: str | None,
    at_version: int | None,
) -> dict:
    """Shared replace-whole derived-vector commit (`ranks`/`hits`):
    write a fresh generation, swap it in atomically, record the
    scoring provenance under ``meta[table]``."""
    head = M.read_manifest(path)
    if at_version is None:
        # fallback for direct callers; under a concurrent append this
        # fresh read can postdate the snapshot the vector was scored
        # from, so loops that pin their scored edges to a snapshot
        # (refresh_pagerank / refresh_hits) pass that snapshot's
        # version explicitly
        at_version = head["version"]
    local = M.local_path(path)
    gen = M.next_gen(path, table)
    df.select(*columns).write.parquet(os.path.join(local, table, gen))
    parts = M.written_parts(path, table, gen)

    def mutate(fresh: dict):
        tables = {
            t: m for t, m in fresh["tables"].items() if t != table
        }
        if parts:
            tables = M.add_gens(tables, table, parts, gen)
        meta = dict(fresh["meta"])
        meta[table] = {
            "algo": algo,
            "at_version": at_version,
            "params": params,
            "edge_state": edge_state,
        }
        return tables, meta

    return M.commit_with_retry(path, mutate, op=f"commit-{table}")


def _pagerank_params(iterations: int, kw: dict) -> dict:
    """Canonical JSON form of every knob that shapes the committed
    vector — the quiescence-skip equality key. ``stats`` is an output
    channel, not a knob, and is excluded."""
    return {
        "iterations": iterations,
        "damping_pct": kw.get("damping_pct", 85),
        "scale": kw.get("scale", PAGERANK_SCALE),
        "seeds": sorted(kw["seeds"]) if kw.get("seeds") else None,
        "tol_scaled": kw.get("tol_scaled"),
        "min_iterations": kw.get("min_iterations", 1),
    }


def _edge_state_key(snapshot: dict) -> str:
    """Deterministic fingerprint of WHAT a reader of this snapshot
    serves: the live (edges, tombstones) generation mappings. Rank
    commits don't touch them, so the key survives the refresh's own
    commit; any append or takedown changes it. Compaction changes the
    raw key too (new generations, identical logical edges), but
    :func:`compact_edge_store` re-fingerprints a rank vector that
    was current at swap time, so quiescence survives a compact on a
    quiet graph."""
    import hashlib
    import json

    t = snapshot["tables"]
    payload = json.dumps(
        {"edges": t.get("edges", {}), "tombstones": t.get("tombstones", {})},
        sort_keys=True,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def load_ranks(
    spark, path: str, *, version: int | None = None
) -> DataFrame | None:
    """The last :func:`commit_ranks` rank vector ``(domain,
    rank_scaled)`` of a manifest edge store, or None when none was
    ever committed; ``version`` time-travels like :func:`load_edges`.
    ``meta["ranks"]["at_version"]`` (via
    :func:`manifestfs.read_manifest`) says which edge-store version it
    scored."""
    snap = M.read_manifest(path, version)
    return M.read_table(spark, path, "ranks", snap)


def refresh_pagerank(
    spark,
    store_path: str,
    *,
    prev_ranks: DataFrame | None = None,
    warm: bool = False,
    persist: bool = False,
    skip_current: bool = True,
    iterations: int = 5,
    **pagerank_kwargs,
) -> DataFrame:
    """One-call authority refresh over an :func:`edge_store_sink`
    store: aggregate the edge deltas (:func:`load_edges`) and run
    :func:`pagerank`, warm-started from ``prev_ranks`` (a previous
    refresh's output) when given — after a small crawl delta the old
    ranks are near the new fixed point, so a couple of iterations
    recover full precision instead of a cold restart. Pass
    ``tol_scaled`` (forwarded to :func:`pagerank`) to make the warm
    refresh ADAPTIVE: ``iterations`` becomes the cap and the loop
    stops as soon as an update moves total rank mass by no more than
    the tolerance — the usual steady-state refresh is then 1-2
    updates. Returns ``(domain, rank_scaled)``; persist it (and feed
    it back) at whatever cadence the curation gates consume it.

    ``warm=True`` makes the feedback loop one call: the previous rank
    vector loads from the store's own derived ``ranks`` table
    (:func:`load_ranks`; cold start when none exists), and
    ``persist=True`` commits the refreshed vector back
    (:func:`commit_ranks`) so the NEXT warm refresh starts from it —
    the steady-state crawl cadence is then
    ``refresh_pagerank(spark, path, warm=True, persist=True,
    tol_scaled=...)`` on a schedule, each pass O(edges) per update
    with 1-2 updates once the graph is quiet. The persisted vector is
    eagerly materialized (its own compute feeds the write), so the
    returned DataFrame re-reads cheaply.

    TRUSTRANK IS THIS FUNCTION: TrustRank (Gyöngyi'04) is PageRank
    with teleportation restricted to a trusted seed set, which is
    exactly ``seeds=`` (forwarded to :func:`pagerank`), so the
    persisted warm loop — ``refresh_pagerank(spark, path,
    seeds=[...], warm=True, persist=True, tol_scaled=...)`` — IS the
    persisted warm TrustRank loop: the seed list is part of the
    committed knob set (:func:`_pagerank_params`), so a TrustRank
    vector quiesces on a quiet graph, recomputes when the seed list
    (or any other knob) changes, and never collides with a plain
    PageRank schedule's vector only if the two schedules share the
    store deliberately — the ``ranks`` table holds ONE vector, the
    last committed knob set wins (run two stores, or alternate and
    eat the recompute, if you need both resident).

    QUIESCENCE SKIP (``skip_current``, default True, warm mode only):
    when the committed vector was scored over EXACTLY the edge state a
    reader would serve now (the live edges+tombstones generation
    fingerprint recorded with the commit — rank commits themselves
    don't disturb it) under the SAME knobs (damping, scale, seeds,
    schedule), the refresh returns it directly — zero Spark jobs over
    the edge table, no new commit — the rank twin of "idle syncs
    commit nothing". Any edge append, takedown tombstone, or knob
    change misses the fingerprint/params match and recomputes.
    Compaction does NOT break the skip: it proves logical identity
    (its rewrite is the same purge+re-aggregation a reader applies),
    so :func:`compact_edge_store` re-fingerprints a vector that was
    current at swap time — a nightly compact on a quiet graph still
    quiesces.
    Note the skip serves the committed vector AS IS rather than
    pushing it one more update toward the fixed point (a re-run
    always executes ≥ ``min_iterations`` updates by contract); pass
    ``skip_current=False`` to force that extra update. A ``stats``
    dict gets ``{"iterations_run": 0, "final_l1": None,
    "skipped": True}`` on the skip."""
    params = _pagerank_params(iterations, pagerank_kwargs)
    snap = M.read_manifest(store_path)
    key = _edge_state_key(snap)
    if warm and prev_ranks is None:
        rk = snap["meta"].get("ranks")
        if (
            skip_current
            and rk is not None
            and rk.get("edge_state") == key
            and rk.get("params") == params
        ):
            committed = M.read_table(spark, store_path, "ranks", snap)
            if committed is not None:
                stats = pagerank_kwargs.get("stats")
                if stats is not None:
                    stats.update(
                        iterations_run=0, final_l1=None, skipped=True
                    )
                return committed
            # meta["ranks"] without a ranks table: the committed vector
            # was EMPTY (Spark writes no parquet parts for an empty
            # frame, so commit_ranks recorded meta only). Fall through
            # to a recompute — trivially cheap over the same empty edge
            # set — instead of breaking the DataFrame return contract.
        if rk is not None:
            prev_ranks = M.read_table(spark, store_path, "ranks", snap)
    # pin the scored edges to the SAME snapshot the fingerprint
    # describes — a concurrent append landing after this read misses
    # the next skip check instead of being silently claimed as scored
    out = pagerank(
        load_edges(spark, store_path, version=snap["version"]),
        iterations=iterations,
        init_ranks=prev_ranks,
        **pagerank_kwargs,
    )
    if persist:
        out = out.localCheckpoint(eager=True)
        commit_ranks(
            spark,
            store_path,
            out,
            params=params,
            edge_state=key,
            at_version=snap["version"],
        )
    return out


def load_hits(
    spark, path: str, *, version: int | None = None
) -> DataFrame | None:
    """The last :func:`commit_hits` vector ``(domain, hub_scaled,
    auth_scaled)`` of a manifest edge store, or None when none was
    ever committed; ``version`` time-travels like :func:`load_edges`.
    ``meta["hits"]["at_version"]`` says which edge-store version it
    scored."""
    snap = M.read_manifest(path, version)
    return M.read_table(spark, path, "hits", snap)


def _hits_params(iterations: int, kw: dict) -> dict:
    """Canonical knob set of a committed HITS vector — the quiescence
    equality key (the HITS twin of :func:`_pagerank_params`)."""
    return {
        "iterations": iterations,
        "scale": kw.get("scale", HITS_SCALE),
    }


def refresh_hits(
    spark,
    store_path: str,
    *,
    iterations: int = 5,
    version: int | None = None,
    persist: bool = False,
    skip_current: bool = True,
    **hits_kwargs,
) -> DataFrame:
    """One-call hubs/authorities refresh over an
    :func:`edge_store_sink` store — the HITS twin of
    :func:`refresh_pagerank`: aggregate the edge deltas
    (:func:`load_edges`, takedown mask applied) and run :func:`hits`.
    HITS has no warm-START (each run renormalizes both vectors from
    the uniform hub share, so a previous vector cannot seed the next
    — a re-run is always a cold, bit-exact recompute), but it DOES
    get the persisted-vector loop: ``persist=True`` commits the
    result as the store's derived ``hits`` table
    (:func:`commit_hits` — separate from the PageRank ``ranks``
    table, both can coexist) and the QUIESCENCE SKIP (``skip_current``,
    default True) serves the committed vector with zero Spark jobs
    when the live edges+tombstones fingerprint and knob set match —
    so a scheduled HITS-based curation gate stops re-deriving from
    scratch on a quiet graph. Compaction carries a current
    fingerprint forward exactly as for ranks. ``version`` time-travels
    the store to score a historical crawl epoch
    (time-travel reads never skip or persist — they are not the
    head-state loop). Returns ``(domain, hub_scaled, auth_scaled)``."""
    params = _hits_params(iterations, hits_kwargs)
    snap = key = None
    if version is None:
        snap = M.read_manifest(store_path)
        key = _edge_state_key(snap)
        hk = snap["meta"].get("hits")
        if (
            skip_current
            and hk is not None
            and hk.get("edge_state") == key
            and hk.get("params") == params
        ):
            committed = M.read_table(spark, store_path, "hits", snap)
            if committed is not None:
                return committed
            # meta without a table (empty zero-part commit): recompute
    out = hits(
        load_edges(
            spark,
            store_path,
            version=(
                version
                if version is not None
                else None if snap is None else snap["version"]
            ),
        ),
        iterations=iterations,
        **hits_kwargs,
    )
    if persist:
        if version is not None:
            raise ValueError(
                "persist=True scores and commits the HEAD edge state; "
                "drop version= (time-travel reads are read-only)"
            )
        out = out.localCheckpoint(eager=True)
        commit_hits(
            spark,
            store_path,
            out,
            params=params,
            edge_state=key,
            at_version=None if snap is None else snap["version"],
        )
    return out


def compact_edge_store(
    spark,
    path: str,
    *,
    max_files_per_bucket: int = 8,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Merge delta rows of over-fragmented edge-store buckets back to
    one row per edge and few files per bucket (streaming appends write
    one small file per touched bucket per micro-batch), purging
    taken-down domains' edges on the way. The rewrite lands in one
    fresh generation (:func:`manifestfs.compact_table`) and every
    rewritten bucket cuts over in ONE manifest commit; pinned readers
    are untouched and superseded generations are reclaimed by
    :func:`vacuum_edge_store`. Returns
    ``{buckets_rewritten, files_before, files_after}``."""
    snap = M.read_manifest(path)
    tombs = M.read_table(
        spark, path, "tombstones", snap, schema=_TOMBSTONES_SCHEMA
    )

    def purge_and_merge(df: DataFrame) -> DataFrame:
        if tombs is not None:
            df = df.join(
                tombs.select(F.col("domain").alias("src_domain")),
                "src_domain",
                "left_anti",
            ).join(
                tombs.select(F.col("domain").alias("dst_domain")),
                "dst_domain",
                "left_anti",
            )
        return df.groupBy("bucket", "src_domain", "dst_domain").agg(
            F.sum("n_links").cast("bigint").alias("n_links")
        )

    out = M.compact_table(
        spark, path, snap, "edges",
        max_files=max_files_per_bucket,
        partition_by=["bucket"],
        sort_by=["bucket", "src_domain", "dst_domain"],
        max_records_per_file=target_rows_per_file,
        rewrite=purge_and_merge, tables=None,
    )
    summary = {
        "buckets_rewritten": len(out["parts"]),
        "files_before": out["files_before"],
        "files_after": out["files_after"],
    }
    if not out["parts"]:
        return summary
    tables = out["tables"]
    meta = snap["meta"]
    pre_key = _edge_state_key(snap)
    post_key = _edge_state_key({"tables": tables})
    for vec in ("ranks", "hits"):
        vk = meta.get(vec)
        if vk is not None and vk.get("edge_state") == pre_key:
            # compaction proves logical identity: the rewrite is exactly
            # the takedown purge + per-edge re-aggregation load_edges
            # applies at read time, so a vector current BEFORE the swap
            # is equally current after it. Carry the fingerprint forward
            # to the post-compaction generation mapping so a nightly
            # compact on a quiet graph doesn't force a nightly warm
            # recompute (refresh_pagerank / refresh_hits still quiesce;
            # maintain's currency report stays True). A vector already
            # stale stays stale.
            meta = dict(meta)
            meta[vec] = dict(vk)
            meta[vec]["edge_state"] = post_key
    M.commit_manifest(
        path, tables=tables, meta=meta,
        expected_version=snap["version"],
    )
    return summary
