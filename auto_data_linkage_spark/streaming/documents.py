"""Streaming document curation — the arrival-time form of the batch
curation pipeline's stateless prefix (annotate → filter → exact dedup),
for corpora that land continuously (crawl drops, log shipping).

Design notes (Structured Streaming semantics):

- annotation (quality score, language id, fingerprint) is a pure
  projection — streaming-safe by construction, identical expressions to
  the batch operators (operators/text.py), so batch and stream agree
  row-for-row;
- exact dedup uses ``dropDuplicates`` on the normalized-text
  fingerprint: keeps the FIRST ARRIVAL per fingerprint. Corpus identity
  dedup is inherently global state (the fingerprint set); at scale back
  the state store with RocksDB
  (``spark.sql.streaming.stateStore.providerClass``) — the state row is
  a 32-char hash, ~10 GB per 100M distinct documents, partitioned
  across executors by the state-store sharding. When an event-time
  column exists and only windowed identity matters, pass ``ts_col`` +
  ``watermark`` to bound state by time instead
  (``dropDuplicatesWithinWatermark``);
- near-dedup (LSH banding → components) is NOT offered as a stream:
  its survivor set is retroactive (a new arrival can invalidate an
  already-emitted survivor), which append-mode streaming cannot
  express. The incremental form over micro-batches is
  ``operators.dedup.incremental_near_dedup`` inside ``foreachBatch``,
  with the persisted band table as state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from auto_data_linkage_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    *,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source document stream (production swaps in Kafka/queue —
    every transformation below is source-agnostic)."""
    reader = spark.readStream.schema(schema or DOCUMENT_SCHEMA).format(
        "parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path.endswith(".parquet"):
        # file sources stream a DIRECTORY; narrow to the one file via
        # glob (same convention as events.read_event_stream)
        directory, filename = path.rsplit("/", 1)
        reader = reader.option("pathGlobFilter", filename)
        path = directory
    return reader.load(path)


def annotate_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach quality / language / fingerprint columns — identical
    expressions to the batch pipeline, pure projection."""
    c = F.col(text_col)
    return docs.select(
        "*",
        F.round(quality_score(c), 6).alias("quality"),
        lang_id(c).alias("lang_pred"),
        doc_fingerprint(c).alias("fingerprint"),
    )


def curate_stream(
    docs: DataFrame,
    *,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
    url_col: str | None = None,
    blocked_domains: list[str] | None = None,
    html_col: str | None = None,
    fix_encoding: bool = False,
) -> DataFrame:
    """Quality/language gate + first-arrival exact dedup, as one
    append-mode stream. With ``ts_col`` the dedup state is bounded by
    ``watermark`` (windowed identity); without it the state is the
    global fingerprint set (see module docstring).

    With ``url_col`` the batch pipeline's URL front door runs first,
    streaming-native: the blocklist is a stateless broadcast anti-join
    (``blocked_domains``), and first-arrival NORMALIZED-URL dedup
    shares the dedup state machinery — a re-crawl of the same page
    under different tracking tags is dropped before its text is ever
    scored. (Per-domain quotas are inherently cross-batch global state
    — run :func:`operators.urls.domain_quota_sample` in the batch
    compaction pass instead.)

    With ``html_col`` the rows arrive as raw HTML (the WET/crawl front
    door): :func:`operators.text.extract_html` runs first — a stateless
    projection, so it composes with any streaming mode — and its
    extracted text becomes ``text_col`` for everything downstream.

    ``fix_encoding`` runs :func:`operators.text.fix_mojibake` on the
    (extracted) text — stateless, so it composes with any streaming
    mode; the batch pipeline's stage 0a, streaming-native."""
    if html_col is not None:
        from auto_data_linkage_spark.operators.text import extract_html

        docs = extract_html(docs, html_col, out_col=text_col)
    if fix_encoding:
        from auto_data_linkage_spark.operators.text import fix_mojibake

        docs = fix_mojibake(docs, text_col)
    if url_col is not None:
        from auto_data_linkage_spark.operators.urls import (
            blocklist_filter,
            url_normalize,
        )

        if blocked_domains:
            docs = blocklist_filter(
                docs, blocked_domains, url_col=url_col
            )
        docs = docs.withColumn("url_norm", url_normalize(F.col(url_col)))
    annotated = annotate_stream(docs, text_col)
    kept = annotated.where(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    )
    if ts_col is not None:
        kept = kept.withWatermark(ts_col, watermark)
        if url_col is not None:
            kept = kept.dropDuplicatesWithinWatermark(["url_norm"])
        return kept.dropDuplicatesWithinWatermark(["fingerprint"])
    if url_col is not None:
        kept = kept.dropDuplicates(["url_norm"])
    return kept.dropDuplicates(["fingerprint"])


def source_quality_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Running per-source corpus health (complete/update mode): document
    count, mean quality, kept-rate under the default gate — the
    monitoring feed for a continuously-ingesting corpus."""
    annotated = annotate_stream(docs, text_col)
    return annotated.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(
            F.avg((F.col("quality") >= 0.5).cast("double")), 6
        ).alias("pass_rate"),
    )
