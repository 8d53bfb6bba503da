"""Streaming document curation: batch/stream agreement driven through
the memory sink (same harness as test_streaming)."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
)
from auto_data_linkage_spark.streaming.documents import (
    curate_stream,
    read_document_stream,
    source_quality_stats,
)
from auto_data_linkage_spark.streaming.events import run_to_memory


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


@pytest.fixture(scope="module")
def doc_stream(spark, sf_dir):
    return read_document_stream(spark, f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_batch(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _batch_gate(docs_batch):
    c = F.col("text")
    return docs_batch.select(
        "doc_id",
        F.round(quality_score(c), 6).alias("quality"),
        lang_id(c).alias("lang_pred"),
        doc_fingerprint(c).alias("fingerprint"),
    ).where((F.col("quality") >= 0.5) & F.col("lang_pred").isin("en"))


def test_curate_stream_matches_batch_identity_set(spark, doc_stream, docs_batch):
    run_to_memory(curate_stream(doc_stream), "curated_docs")
    out = spark.sql("select * from curated_docs")
    gate = _batch_gate(docs_batch)
    # first-arrival dedup: which member survives is arrival-order
    # dependent, but the surviving FINGERPRINT SET and its size are not
    assert out.count() == gate.select("fingerprint").distinct().count()
    got = {r["fingerprint"] for r in out.select("fingerprint").collect()}
    want = {r["fingerprint"] for r in gate.select("fingerprint").distinct().collect()}
    assert got == want
    # every survivor actually passes the gate
    bad = out.where(
        (F.col("quality") < 0.5) | (F.col("lang_pred") != "en")
    ).count()
    assert bad == 0


def test_source_quality_stats_match_batch(spark, doc_stream, docs_batch):
    run_to_memory(
        source_quality_stats(doc_stream), "doc_stats", output_mode="complete"
    )
    out = {
        r["source"]: (r["n_docs"], r["avg_quality"], r["pass_rate"])
        for r in spark.sql("select * from doc_stats").collect()
    }
    c = F.col("text")
    want = {
        r["source"]: (r["n_docs"], r["avg_quality"], r["pass_rate"])
        for r in docs_batch.select(
            "source", F.round(quality_score(c), 6).alias("quality")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(
                F.avg((F.col("quality") >= 0.5).cast("double")), 6
            ).alias("pass_rate"),
        )
        .collect()
    }
    assert out == want


def test_foreachbatch_incremental_near_dedup_maintenance(spark, sf_dir, tmp_path):
    """The micro-batch near-dedup maintenance loop the module docstring
    prescribes: each arriving batch runs incremental_near_dedup against
    the accumulated survivor corpus inside foreachBatch. Driving the
    whole documents table through in micro-batches must reproduce the
    'existing wins' fold: every batch's survivors are disjoint from the
    prior corpus by LSH collision, and a re-run of the incremental
    check of the final corpus against itself below the id range finds
    no further drops for isolated docs."""
    from auto_data_linkage_spark.operators.dedup import incremental_near_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state_dir = str(tmp_path / "corpus")
    kw = dict(num_hashes=4, num_bands=4, shingle_k=3)

    # seed the corpus state with the first slice (batch-deduped)
    seed = docs.where(F.col("doc_id") % 3 == 0)
    empty = spark.createDataFrame([], docs.schema)
    seed_kept = seed.join(
        incremental_near_dedup(empty, seed, **kw), "doc_id", "semi"
    )
    seed_kept.write.mode("overwrite").parquet(state_dir)

    def fold(batch_df, batch_id):
        corpus = spark.read.parquet(state_dir)
        survivors = batch_df.join(
            incremental_near_dedup(corpus, batch_df, **kw), "doc_id", "semi"
        )
        survivors.write.mode("append").parquet(state_dir)

    stream = read_document_stream(
        spark, f"{sf_dir}/documents.parquet", max_files_per_trigger=1
    )
    arriving = stream.where(F.col("doc_id") % 3 != 0)
    q = (
        arriving.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    corpus = spark.read.parquet(state_dir)
    n = corpus.count()
    assert n > 0
    # ids unique (no doc folded twice)
    assert corpus.select("doc_id").distinct().count() == n
    # fold refuses everything already represented: re-running the last
    # arrivals against the final corpus drops them all
    again = incremental_near_dedup(
        corpus, corpus.where(F.col("doc_id") % 3 != 0).limit(20), **kw
    )
    assert again.count() == 0


def test_upsert_sink_folds_stream_into_corpus(spark, sf_dir, tmp_path):
    """Streaming ingestion through the snapshot store's MERGE sink
    (corpusstore.corpus_upsert_sink over a store built empty): driving
    the documents table in micro-batches must land every doc exactly
    once, partitioned by lang, with re-sent keys replaced, and a replay
    of an already-committed batch id must change nothing."""
    from auto_data_linkage_spark.operators import manifestfs as M
    from auto_data_linkage_spark.sources import corpusstore as C
    from auto_data_linkage_spark.streaming.documents import (
        read_document_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = str(tmp_path / "corpus")
    C.build_corpus_snapshot(
        docs.limit(0), corpus, key="doc_id", partition_by=["lang"],
        sort_by=["doc_id"],
    )
    sink = C.corpus_upsert_sink(corpus, app_id="docs")
    stream = read_document_stream(
        spark, f"{sf_dir}/documents.parquet", max_files_per_trigger=1
    ).select("doc_id", "text", "lang", "source")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    back = C.load_corpus_snapshot(spark, corpus)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # a late re-send of an existing key replaces the stored row
    one = docs.limit(1).collect()[0]
    resend = spark.createDataFrame(
        [(one.doc_id, "corrected text", one.lang, one.source)],
        "doc_id long, text string, lang string, source string",
    )
    sink(resend, batch_id=999)
    head = M.read_manifest(corpus)["version"]
    got = C.load_corpus_snapshot(spark, corpus)
    assert got.count() == docs.count()
    assert (
        got.where(got.doc_id == one.doc_id).collect()[0].text
        == "corrected text"
    )

    # replaying the same batch_id with different content is a no-op:
    # the (app_id, batch_id) token already committed
    stale = resend.withColumn("text", F.lit("stale replay"))
    sink(stale, batch_id=999)
    assert M.read_manifest(corpus)["version"] == head
    got = C.load_corpus_snapshot(spark, corpus)
    assert (
        got.where(got.doc_id == one.doc_id).collect()[0].text
        == "corrected text"
    )


def test_curate_stream_url_front_door(spark, sf_dir, doc_stream, docs_batch):
    """URL gate, streaming-native: blocklisted domains never reach the
    quality scorer, and a re-crawl of the same normalized URL is
    first-arrival-deduped. URLs derive deterministically from (source,
    doc_id % 4), one registered domain per source, so every source has
    exactly 4 pages crawled repeatedly
    under rotating tracking tags."""
    from pyspark.sql import functions as F

    def with_url(df):
        return df.withColumn(
            "url",
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit("-site.com/p"),
                (F.col("doc_id") % 4).cast("string"),
                F.lit("?utm_source=crawl&utm_run="),
                F.col("doc_id").cast("string"),
            ),
        )

    run_to_memory(
        curate_stream(
            with_url(doc_stream),
            url_col="url",
            blocked_domains=["src0-site.com", "src1-site.com"],
        ),
        "curated_url_docs",
    )
    out = spark.sql("select * from curated_url_docs")
    rows = out.collect()
    assert rows, "stream produced no survivors"
    assert all(not r.url.startswith("https://www.src0-") for r in rows)
    assert all(not r.url.startswith("https://www.src1-") for r in rows)
    # url_norm stripped the tracking tags and is duplicate-free
    norms = [r.url_norm for r in rows]
    assert all("utm" not in n for n in norms)
    assert len(norms) == len(set(norms))
    # the url dedup ran BEFORE fingerprint dedup: at most 4 pages per
    # unblocked source survive
    per_source = {}
    for r in rows:
        per_source[r.source] = per_source.get(r.source, 0) + 1
    assert max(per_source.values()) <= 4


def test_curate_stream_url_gate_watermarked(spark, doc_stream):
    """The watermark-bounded variant with the URL gate: two chained
    dropDuplicatesWithinWatermark operators (url_norm, then
    fingerprint) must run as one append-mode query."""
    from pyspark.sql import functions as F

    stream = doc_stream.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 600)
    ).withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit("-site.com/p"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit("#frag"), F.col("doc_id").cast("string"),
        ),
    )
    run_to_memory(
        curate_stream(
            stream, url_col="url", ts_col="ts", watermark="10 minutes"
        ),
        "curated_url_wm",
    )
    rows = spark.sql("select * from curated_url_wm").collect()
    assert rows
    norms = [r.url_norm for r in rows]
    assert len(norms) == len(set(norms))  # url-deduped within watermark
    assert all("#" not in n for n in norms)


def test_curate_stream_html_front_door(spark, doc_stream, docs_batch):
    """html_col: raw-HTML rows are extracted (stateless projection)
    before the quality/lang/dedup gates — the streaming WET/crawl
    front door. Wrapping the batch text in chrome must yield the SAME
    survivor identity set as the plain-text stream."""
    from pyspark.sql import functions as F

    def wrap(df):
        return df.withColumn(
            "html",
            F.concat(
                F.lit("<html><body><script>nav()</script><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
        ).drop("text")

    run_to_memory(
        curate_stream(wrap(doc_stream), html_col="html"),
        "curated_html_docs",
    )
    got = {
        r.doc_id
        for r in spark.sql("select doc_id from curated_html_docs").collect()
    }
    want = {r.doc_id for r in _batch_gate(docs_batch).collect()}
    # extraction inserts no content of its own, so the kept set matches
    # the plain-text gate exactly (script chrome stripped, text intact)
    assert got == want
    # signals surfaced alongside: every surviving row saw real chrome
    sig = spark.sql(
        "select min(tag_density) as td from curated_html_docs"
    ).collect()[0]
    assert sig.td > 0


def test_curate_stream_fix_encoding(spark, tmp_path):
    """Streaming stage-0a twin: mojibake rows arrive corrupted, land
    repaired (the batch pipeline's fix_encoding, streaming-native)."""
    from auto_data_linkage_spark.streaming.documents import curate_stream

    def sloppy(bs):
        out = []
        for b in bs:
            try:
                out.append(bytes([b]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(b))
        return "".join(out)

    good = ("the quick brown fox jumps over that lazy dog and all of "
            "the words here have to be sensible because this text must "
            "pass every quality gate don’t café")
    corrupted = sloppy(good.encode("utf-8"))
    assert "â€™" in corrupted

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.createDataFrame(
        [(1, corrupted)], "doc_id long, text string"
    )
    batch.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    q = (
        curate_stream(stream, min_quality=0.3, fix_encoding=True)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == good
