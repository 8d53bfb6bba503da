"""The benchmark's workloads, driven through the program's public API.

Each workload is a closed loop with one client: ``first_pass`` runs once
in the fresh session, then ``steady`` units run back to back, each
starting when the previous one ends. ``setup`` builds the inputs from
the seed; ``check_*`` methods verify outputs and run outside the timed
region. A check returns a list of problems (empty means the output is
right); each problem counts as one failed operation.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import datagen

# ---------------------------------------------------------------- link_fold


@dataclass
class LinkFoldSize:
    n_entities: int = 500
    n_batches: int = 2
    batch_share: float = 0.3
    max_evals: int = 1


class LinkFold:
    """Link-mode ``AutoLinker.auto_link`` over a left table and a right
    table with renamed columns (so ``linking.align_for_linking`` runs),
    then right-side batches folded one after another with
    ``incremental_update(side="r")``.

    First pass: the search plus ``best_clusters_at_threshold(0.8)``
    materialised. Steady unit: one batch folded into a copy of the
    searched linker, with the folded clustering materialised. Starting
    every unit from the same state keeps units comparable, since fold
    latency grows with the folds already applied; ``fold_again``
    measures that growth. The true entity label never reaches the
    program; F1 is computed from the clusters outside the timed region.
    """

    name = "link_fold"
    threshold = 0.8
    queries = ()

    def __init__(self, tiny: bool = False):
        self.size = LinkFoldSize(n_entities=150) if tiny else LinkFoldSize()

    def setup(self, spark, seed: int, work: str) -> dict:
        from auto_data_linkage_spark.session import local_rows_df

        left, right, batches, labels = datagen.people_tables(
            seed, self.size.n_entities, self.size.n_batches, self.size.batch_share
        )
        ldf = local_rows_df(spark, left, datagen.people_schema(datagen.ATTRS)).cache()
        rdf = local_rows_df(spark, right, datagen.people_schema(datagen.right_columns())).cache()
        ldf.count(), rdf.count()
        return {
            "spark": spark, "left": ldf, "right": rdf, "batches": batches,
            "labels": labels,
        }

    def first_pass(self, st: dict, tracer) -> None:
        from auto_data_linkage_spark.autolink import AutoLinker

        linker = AutoLinker(
            comparison_size_limit=200_000, max_evals=self.size.max_evals, random_seed=7
        )
        linker.auto_link([st["left"], st["right"]])
        clusters = linker.best_clusters_at_threshold(self.threshold)
        clusters.write.format("noop").mode("overwrite").save()
        st["searched"] = st["linker"] = linker

    def steady(self, st: dict, tracer) -> None:
        linker = self._fresh(st)
        n = st.get("n_units", 0)
        st["n_units"] = n + 1
        rows = st["batches"][n % len(st["batches"])]
        st["inc"], st["inc_rows"] = self._fold(st, linker, rows), len(rows)

    def _fresh(self, st: dict):
        """A copy of the searched linker: ``incremental_update`` rebinds
        the linker's state attributes, so a shallow copy leaves the
        searched linker untouched."""
        import copy

        linker = copy.copy(st["searched"])
        linker._cluster_cache = dict(linker._cluster_cache)
        st["linker"] = linker
        return linker

    def _fold(self, st: dict, linker, rows):
        from auto_data_linkage_spark.session import local_rows_df

        batch = local_rows_df(
            st["spark"],
            [("B" + uid[1:], *vals) for uid, *vals in rows],
            datagen.people_schema(datagen.aligned_columns()),
        )
        inc = linker.incremental_update(batch, self.threshold, side="r")
        linker.best_clusters_at_threshold(self.threshold).write.format(
            "noop"
        ).mode("overwrite").save()
        return inc

    def fold_again(self, st: dict) -> float:
        """Seconds to fold the next batch on top of the last unit's fold (a
        traced-run diagnostic: fold latency grows with the folds already
        applied)."""
        import time

        rows = st["batches"][st["n_units"] % len(st["batches"])]
        t0 = time.perf_counter()
        self._fold(st, st["linker"], rows)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ checks
    def f1(self, st: dict) -> float:
        """Pairwise F1 of the searched clustering against the true
        entities (a traced-run diagnostic, not a gate)."""
        from collections import Counter

        clusters = st["searched"].best_clusters_at_threshold(self.threshold)
        got = {
            r["unique_id"]: r["cluster_id"]
            for r in clusters.select("unique_id", "cluster_id").collect()
        }
        labels = {}
        for uid, recid in st["labels"].items():
            if uid[0] == "L":
                labels[f"l-{uid}"] = recid
            else:  # a right record, in the base table or folded as a batch
                labels[f"r-{uid}"] = labels[f"r-B{uid[1:]}"] = recid

        def pairs(keys) -> int:
            return sum(n * (n - 1) // 2 for n in Counter(keys).values())

        ids = list(got)
        tp = pairs((got[i], labels[i]) for i in ids)
        p_pred, p_true = pairs(got[i] for i in ids), pairs(labels[i] for i in ids)
        return 2 * tp / (p_pred + p_true) if p_pred + p_true else 1.0

    def check_first(self, st: dict) -> list[str]:
        return []

    def check_steady(self, st: dict) -> list[str]:
        """Every batch row is assigned a cluster."""
        n, want = st["inc"].assignments.count(), st["inc_rows"]
        return [] if n == want else [f"fold: {n} of {want} batch rows assigned"]

    def check_final(self, st: dict) -> list[str]:
        """The folded clustering equals a full re-link of the advanced
        frames with the same model."""
        from auto_data_linkage_spark.cluster import cluster_at_threshold

        linker = st["linker"]
        merged = linker.best_clusters_at_threshold(self.threshold)
        model = linker.best_trial.model
        expected = cluster_at_threshold(
            linker.clean_data, linker._predict(model), self.threshold
        )
        got = _assignments(merged)
        want = _assignments(expected)
        if got != want:
            bad = sum(1 for k in want if got.get(k) != want[k])
            return [f"folded clustering differs from a full re-link on {bad} records"]
        return []

    def corrupt(self, st: dict) -> None:
        """Self-test hook: break the folded state the checks look at."""
        from pyspark.sql import functions as F

        linker = st["linker"]
        cl = linker.best_clusters_at_threshold(self.threshold)
        linker._cluster_cache[self.threshold] = cl.withColumn(
            "cluster_id", F.col("unique_id")
        )


def _assignments(df) -> dict[str, str]:
    from pyspark.sql import functions as F

    return {
        r[0]: r[1]
        for r in df.select(
            F.col("unique_id").cast("string"), F.col("cluster_id").cast("string")
        ).collect()
    }


# ------------------------------------------------------------ corpus_catalog

# Catalog queries run after each training-set pass: BM25 retrieval and
# the domain link graph, two operator families the pass does not reach
# (queries.FAMILIES: lexical-retrieval, link-graph). The full headline
# set stays with bench.py; a one-query-per-family pass does not fit a
# benchmark run's time budget on a 4-core host.
CATALOG_QUERIES = ("bm25_topk", "link_graph")


@dataclass
class CorpusSize:
    sf: float = 0.0005
    queries: tuple[str, ...] = CATALOG_QUERIES


@dataclass
class CorpusState:
    spark: object
    data_dir: str
    out_root: str
    docs: object
    reports: list[dict] = field(default_factory=list)
    shard_rows: list[int] = field(default_factory=list)
    n_pass: int = 0
    corrupt_queries: bool = False


class CorpusCatalog:
    """``operators.pipeline.prepare_training_set`` over the generated
    documents (example 07's parameters without the URL front door), into
    a fresh output directory every pass, followed by one noop-sink pass
    over a set of catalog queries.

    First pass and steady unit are the same: one training-set pass plus
    the query set. The catalog results are compared with their DuckDB
    oracle twins once, after the timed loop.
    """

    name = "corpus_catalog"

    def __init__(self, tiny: bool = False):
        self.size = CorpusSize(sf=0.0002) if tiny else CorpusSize()
        self.queries = self.size.queries

    def setup(self, spark, seed: int, work: str) -> CorpusState:
        data_dir = os.path.join(work, "tables")
        shutil.rmtree(data_dir, ignore_errors=True)
        datagen.write_catalog_tables(data_dir, seed, self.size.sf)
        docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        docs.count()
        return CorpusState(spark, data_dir, os.path.join(work, "trainset"), docs)

    def _families(self) -> dict[str, str]:
        from auto_data_linkage_spark.queries import FAMILIES

        fam = {q: f for f, members in FAMILIES.items() for q in members}
        return {q: fam[q] for q in self.size.queries}

    def first_pass(self, st: CorpusState, tracer) -> None:
        self.steady(st, tracer)

    def steady(self, st: CorpusState, tracer) -> None:
        from auto_data_linkage_spark import queries as catalog
        from auto_data_linkage_spark.operators.pipeline import prepare_training_set

        out = os.path.join(st.out_root, f"pass{st.n_pass}")
        st.n_pass += 1
        shutil.rmtree(out, ignore_errors=True)
        report = prepare_training_set(
            st.docs,
            out,
            min_quality=0.3,
            gopher_min_words=5,
            gopher_required_stopwords=("the", "a", "key", "value", "table"),
            span_words=5,
            num_merges=80,
            capacity=1024,
            n_shards=8,
            eos_token="<|endoftext|>",
        )
        st.reports.append(report)
        qs = catalog.queries()
        for name, family in self._families().items():
            with tracer.span(f"catalog.{family}"):
                qs[name](st.spark, st.data_dir).write.format("noop").mode("overwrite").save()
        st.last_out = out

    # ------------------------------------------------------------ checks
    _REPORT_KEYS = ("n_input", "n_curated", "n_gopher_kept", "n_span_kept",
                    "total_tokens", "n_bins", "vocab_size", "n_merges")

    def _pass_problems(self, st: CorpusState) -> list[str]:
        rep = st.reports[-1]
        n_rows = st.spark.read.parquet(rep["shards_path"]).count()
        st.shard_rows.append(n_rows)
        problems = []
        if n_rows != rep["n_bins"]:
            problems.append(f"shards hold {n_rows} rows, report says {rep['n_bins']} bins")
        if not 0 < rep["n_span_kept"] <= rep["n_curated"] <= rep["n_input"]:
            problems.append(f"stage counts not monotone: {rep}")
        first = st.reports[0]
        diff = {k: (first[k], rep[k]) for k in self._REPORT_KEYS if first[k] != rep[k]}
        if diff or n_rows != st.shard_rows[0]:
            problems.append(f"pass {len(st.reports)} differs from the first: {diff}")
        return problems

    def check_first(self, st: CorpusState) -> list[str]:
        return self._pass_problems(st)

    def check_steady(self, st: CorpusState) -> list[str]:
        return self._pass_problems(st)

    def check_final(self, st: CorpusState) -> list[str]:
        """Each catalog query agrees with its DuckDB ``oracle_sql()`` twin
        (the comparison of ``tools/check_oracle.py``)."""
        import check_oracle
        from auto_data_linkage_spark import queries as catalog

        qs, oracles = catalog.queries(), catalog.oracle_sql()
        con = check_oracle.duckdb_connect(st.data_dir)
        try:
            problems = []
            for name in self.size.queries:
                fn = qs[name]
                if st.corrupt_queries:
                    fn = lambda spark, d, f=fn: f(spark, d).limit(0)  # noqa: E731
                got = check_oracle.compare_query(
                    st.spark, con, fn, oracles[name], st.data_dir
                )
                problems += [f"{name}: {p}" for p in got]
            return problems
        finally:
            con.close()

    def corrupt(self, st: CorpusState) -> None:
        """Self-test hook: drop one shard file of the last pass and make
        every catalog query lose its rows."""
        import glob

        shard = sorted(glob.glob(os.path.join(st.reports[-1]["shards_path"], "shard=*", "*.parquet")))
        os.remove(shard[0])
        st.corrupt_queries = True


WORKLOADS = {w.name: w for w in (LinkFold, CorpusCatalog)}
