"""Seeded input generators for the benchmark.

Everything the program receives is built here from the workload seed:
the same seed gives byte-identical inputs. Nothing is read from outside
the checkout.

- ``people_tables``: the FEBRL-style people rows of
  ``tests/febrl_fixture.make_people``, split into a left table (one record
  per entity), a right table whose attribute columns are renamed (so
  link mode must infer the column correspondence), and right-side
  batches that arrive later. The true entity label is kept apart.
- ``write_catalog_tables``: the TPC-H-style star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables the catalog
  queries read, written as parquet in the shape of the engine's usual
  test data (same columns and types, similar value distributions).
"""

from __future__ import annotations

import os
import random

# the FEBRL attributes the linkage workload keeps (suburb and state are
# dropped: fewer comparison columns make a shorter search)
ATTRS = ("given_name", "surname", "postcode", "date_of_birth")
_KEEP = (0, 1, 3, 5)  # their positions among make_people's attributes
RIGHT_PREFIX = "r_"


def people_tables(seed: int, n_entities: int, n_batches: int, batch_share: float):
    """Left, right and batch rows for the link-and-fold workload.

    The population is fixed: ``make_people``'s own default seed draws the
    entities, their corrupted duplicates and the records held back as
    batches, so every seed runs the same linkage problem (the search's
    blocking rule and comparisons, and with them the work, depend on the
    values). ``seed`` shuffles the row order and relabels the ids.

    Returns ``(left, right, batches, labels)``: ``left`` and ``right`` are
    lists of ``(unique_id, *ATTRS)`` tuples, ``batches`` a list of such
    lists (right-side records held back from the search), and ``labels``
    maps every unique id to its true entity. Ids are prefixed so that no
    batch id collides with a base id.
    """
    import febrl_fixture as ff

    rows = ff.make_people(n_entities=n_entities, dup_fraction=0.9, corruptions=2)
    rng = random.Random(seed)
    ids = list(range(1, len(rows) + 1))
    rng.shuffle(ids)
    seen: set[str] = set()
    left, right_all, labels = [], [], {}
    for (_, *allvals, recid), uid in zip(rows, ids):
        vals = [allvals[i] for i in _KEEP]
        if recid in seen:
            right_all.append((f"R{uid}", *vals))
            labels[f"R{uid}"] = recid
        else:
            seen.add(recid)
            left.append((f"L{uid}", *vals))
            labels[f"L{uid}"] = recid
    n_held = int(len(right_all) * batch_share)
    per = max(1, n_held // max(1, n_batches))
    batches = [right_all[i * per:(i + 1) * per] for i in range(n_batches)]
    right = right_all[n_batches * per:]
    rng.shuffle(left)
    rng.shuffle(right)
    for b in batches:
        rng.shuffle(b)
    return left, right, batches, labels


def people_schema(cols) -> str:
    return "unique_id string, " + ", ".join(f"{c} string" for c in cols)


def right_columns() -> list[str]:
    return [RIGHT_PREFIX + a for a in ATTRS]


def aligned_columns() -> list[str]:
    """Column names link mode gives each inferred pair: ``{left}_{right}``."""
    return [f"{a}_{RIGHT_PREFIX}{a}" for a in ATTRS]


# ----------------------------------------------------------- catalog tables
_WORDS = (
    "the a key value table row column data query join group filter sort "
    "merge hash scan window stream batch spark line order part customer "
    "fast slow big small vector agg"
).split()
_LANGS = ("en", "en", "fr", "es", "zh", "de")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_ADJ = ("cold", "small", "large", "red", "blue", "green", "shiny", "matte")
_NOUN = ("widget", "gadget", "bolt", "gear", "spring", "valve", "panel", "cable")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 90)))


def _near_copy(rng: random.Random, text: str) -> str:
    words = text.split()
    for _ in range(max(1, len(words) // 20)):
        words[rng.randrange(len(words))] = rng.choice(_WORDS)
    return " ".join(words)


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf`` under
    ``out_dir`` (one ``<name>.parquet`` file each); returns row counts.

    The document table plants exact and near duplicates (about a tenth
    each) so the dedup stages have work to do.
    """
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = max(100, int(500_000 * sf))
    n_emb = max(100, int(500_000 * sf))

    def ts(seconds):
        return pa.array(np.asarray(seconds, dtype="int64") * 1_000_000, pa.timestamp("us"))

    epoch_1992 = int(dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    epoch_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(nrng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(nrng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(nrng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(nrng.uniform(-999, 9999, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")) for _ in range(n_part)],
            "p_size": pa.array(nrng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(nrng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": np.round(nrng.uniform(1000, 400000, n_orders), 2),
            "o_orderdate": ts(epoch_1992 + 86400 * nrng.integers(0, 2400, n_orders)),
            "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(nrng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(nrng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(nrng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(nrng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": nrng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(nrng.uniform(900, 100000, n_line), 2),
            "l_discount": np.round(nrng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(nrng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
            "l_linestatus": [rng.choice("OF") for _ in range(n_line)],
            "l_shipdate": ts(epoch_1992 + 86400 * nrng.integers(0, 3000, n_line)),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(
                (epoch_2024 * 1_000_000 + nrng.integers(0, 30 * 86400 * 1_000_000, n_events)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(nrng.integers(0, max(15, n_events // 60), n_events), pa.int64()),
            "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
            "value": np.round(nrng.uniform(0, 500, n_events), 2),
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
        }),
    }
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.1:
            texts.append(rng.choice(texts))
        elif texts and r < 0.2:
            texts.append(_near_copy(rng, rng.choice(texts)))
        else:
            texts.append(_doc_text(rng))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = nrng.normal(0, 1, (10, 64))
    labels = nrng.integers(0, 10, n_emb)
    vecs = centers[labels] + nrng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
