"""Corpus layout sinks: file-size-disciplined partitioned writes,
partition manifests, and the commit-log backends of the manifest
protocol.

These address the storage problems a 100 TB curation pipeline actually
hits, which the plain ``df.write.partitionBy(...)`` call does not:

- **Small-files explosion**: without a repartition on the partition
  columns, every one of the N shuffle tasks writes a file into every
  partition directory it holds rows for — O(tasks × partitions) files.
  :func:`write_corpus` repartitions on the partition columns first
  (optionally salted to ``files_per_partition`` when single partitions
  are too large for one task), so each partition directory gets a
  bounded, predictable file count.
- **Oversized files**: ``maxRecordsPerFile`` caps rows per file so a hot
  partition still splits into scannable units.
- **Scan-time clustering**: ``sort_by`` applies a
  ``sortWithinPartitions`` before the write, so parquet min/max column
  statistics become selective — downstream range predicates on the sort
  key skip whole row groups without any index structure.
- **Manifest** (:func:`corpus_manifest`): per-partition row counts and
  sort-key min/max as a DataFrame — the audit artifact for "did the
  layout actually prune".

A corpus that changes after its first write (MERGE upserts, appends,
compaction) lives in a snapshot store, :mod:`.corpusstore`, which
commits every change through :mod:`..operators.manifestfs` — the one
commit protocol of every persisted store. :class:`CommitStore` and its
backends here are that protocol's pluggable log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_corpus(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    files_per_partition: int = 1,
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Partition-pruned, file-count-bounded, statistics-clustered write.

    ``files_per_partition`` > 1 salts the repartition key with a
    per-row hash bucket so one oversized partition value spreads across
    that many tasks/files instead of bottlenecking on a single task —
    the writer-side analog of the salted blocking join.
    """
    parts = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        salt = (
            F.abs(F.xxhash64(*[F.col(c) for c in df.columns]))
            % files_per_partition
        )
        out = df.repartition(*parts, salt.alias("__file_bucket"))
    else:
        out = df.repartition(*parts)
    if sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


class CommitStore:
    """The log primitive of the manifest commit protocol
    (:mod:`..operators.manifestfs`, wired in per store root by
    ``manifestfs.use_commit_log``): atomic create-if-absent of a named
    record (exactly one writer can win a version), plus remove, listing,
    point-read and record age. By default manifestfs keeps its log as
    posix files under ``_manifests/`` (``O_CREAT|O_EXCL``); anything
    that can conditionally create an object can host it instead:

    - :class:`MemoryCommitStore` — an in-process conditional-put map,
      proving the protocol needs no POSIX semantics and standing in
      for an object-store backend in tests;
    - :class:`S3CommitStore` — create-if-absent is S3 ``PutObject`` +
      ``If-None-Match: *`` (GCS: ``x-goog-if-generation-match: 0``;
      both public, documented preconditions); listing is a prefix list;
    - :class:`FlakyCommitStore` — injected object-store weather over
      any of the above.
    """

    def create_exclusive(self, name: str, record: dict) -> bool:
        """Atomically create ``name`` iff absent. True on win."""
        raise NotImplementedError

    def remove(self, name: str) -> None:
        raise NotImplementedError

    def list_records(self) -> dict[str, "dict | None"]:
        """name -> parsed record (None = unreadable/mid-write)."""
        raise NotImplementedError

    # Optional fast-path primitives — defaults fall back to the full
    # listing so pre-existing backends keep working unchanged. Real
    # object-store backends should override all three (names = prefix
    # LIST without bodies, get = GetObject, age = LastModified).

    def list_names(self) -> list[str]:
        """All record names, sorted, WITHOUT parsing payloads — the
        O(1)-opens head-read path lists names and point-reads only the
        newest record(s)."""
        return sorted(self.list_records())

    def get(self, name: str) -> "dict | None":
        """Point-read one record (None = absent or unreadable)."""
        return self.list_records().get(name)

    def age_seconds(self, name: str) -> "float | None":
        """Seconds since ``name`` was created — the timestamp hook the
        vacuum age floor needs (S3/GCS LastModified). None = unknown;
        the vacuum then treats the record as just-written (protected),
        so a backend without timestamps degrades SAFE, never eager."""
        return None


class MemoryCommitStore(CommitStore):
    """In-process conditional-put map — the object-store semantics
    (create-if-absent precondition) without any filesystem, usable to
    run the full protocol in tests."""

    def __init__(self, clock=None):
        """``clock`` (callable -> float, default ``time.time``) feeds
        :meth:`age_seconds` — injectable so tests can advance time
        without sleeping."""
        import threading
        import time

        self._lock = threading.Lock()
        self._data: dict[str, dict] = {}
        self._ctime: dict[str, float] = {}
        self._clock = clock or time.time

    def create_exclusive(self, name: str, record: dict) -> bool:
        with self._lock:
            if name in self._data:
                return False
            self._data[name] = dict(record)
            self._ctime[name] = float(self._clock())
            return True

    def remove(self, name: str) -> None:
        with self._lock:
            self._data.pop(name, None)
            self._ctime.pop(name, None)

    def list_records(self) -> dict[str, "dict | None"]:
        with self._lock:
            return {k: dict(v) for k, v in self._data.items()}

    def list_names(self) -> list[str]:
        with self._lock:
            return sorted(self._data)

    def get(self, name: str) -> "dict | None":
        with self._lock:
            rec = self._data.get(name)
            return dict(rec) if rec is not None else None

    def age_seconds(self, name: str) -> "float | None":
        with self._lock:
            t = self._ctime.get(name)
            return None if t is None else max(0.0, self._clock() - t)


class FlakyCommitStore(CommitStore):
    """Fault/latency-injecting decorator over any :class:`CommitStore`
    — object-store weather on demand, for proving a commit protocol's
    retry behavior before pointing it at a real bucket. Deterministic
    (seeded RNG), with counters in :attr:`stats` so tests can assert
    that injection actually happened and how often callers retried.

    Injected on ``create_exclusive`` (the conditional PUT):

    - ``fail_rate`` — a CLEAN transient failure: nothing is written,
      :class:`..operators.manifestfs.TransientCommitError` raised
      (a 503/SlowDown the client surfaced before the put applied);
    - ``ambiguous_rate`` — the nasty one: the create is PERFORMED,
      then the error raised anyway (a timeout after the put landed).
      A protocol that blindly re-runs its mutation on this double-
      applies it; ``manifestfs.commit_manifest`` resolves it by
      reading the slot back.

    ``list_delay_s`` sleeps before every ``list_records`` (slow LIST
    calls). ``remove_fail_rate`` injects transient DELETE failures
    (vacuum must be restartable: a failed remove only delays garbage
    collection to the re-run)."""

    def __init__(
        self,
        inner: CommitStore,
        *,
        seed: int = 0,
        fail_rate: float = 0.0,
        ambiguous_rate: float = 0.0,
        list_delay_s: float = 0.0,
        remove_fail_rate: float = 0.0,
    ):
        import random

        self.inner = inner
        self._rng = random.Random(seed)
        self.fail_rate = float(fail_rate)
        self.ambiguous_rate = float(ambiguous_rate)
        self.list_delay_s = float(list_delay_s)
        self.remove_fail_rate = float(remove_fail_rate)
        self.stats = {
            "creates": 0,
            "clean_failures": 0,
            "ambiguous_successes": 0,
            "lists": 0,
            "removes": 0,
            "remove_failures": 0,
        }

    def _weather(self):
        from ..operators.manifestfs import TransientCommitError

        return TransientCommitError

    def create_exclusive(self, name: str, record: dict) -> bool:
        self.stats["creates"] += 1
        roll = self._rng.random()
        if roll < self.fail_rate:
            self.stats["clean_failures"] += 1
            raise self._weather()(
                f"injected transient failure creating {name}"
            )
        if roll < self.fail_rate + self.ambiguous_rate:
            won = self.inner.create_exclusive(name, record)
            if won:
                self.stats["ambiguous_successes"] += 1
                raise self._weather()(
                    f"injected timeout AFTER {name} was durably created"
                )
            return False  # slot already taken: a plain lost race
        return self.inner.create_exclusive(name, record)

    def remove(self, name: str) -> None:
        self.stats["removes"] += 1
        if self._rng.random() < self.remove_fail_rate:
            self.stats["remove_failures"] += 1
            raise self._weather()(
                f"injected transient failure removing {name}"
            )
        self.inner.remove(name)

    def list_records(self) -> dict[str, "dict | None"]:
        self.stats["lists"] += 1
        if self.list_delay_s > 0:
            import time

            time.sleep(self.list_delay_s)
        return self.inner.list_records()

    def list_names(self) -> list[str]:
        self.stats["lists"] += 1
        if self.list_delay_s > 0:
            import time

            time.sleep(self.list_delay_s)
        return self.inner.list_names()

    def get(self, name: str) -> "dict | None":
        return self.inner.get(name)

    def age_seconds(self, name: str) -> "float | None":
        return self.inner.age_seconds(name)


# S3 error codes that are weather, not outcomes: the request may or may
# not have applied — the commit protocol retries and resolves by
# reading the slot back (manifestfs.commit_manifest's ambiguous path).
_S3_TRANSIENT_CODES = frozenset(
    {
        "SlowDown",
        "InternalError",
        "ServiceUnavailable",
        "RequestTimeout",
        "503",
        "500",
        # concurrent conditional writers on one key: S3 returns 409
        # ConditionalRequestConflict and documents "retry the request"
        # — on retry the loser sees a clean PreconditionFailed
        "ConditionalRequestConflict",
    }
)


class S3CommitStore(CommitStore):
    """S3-compatible commit-log backend (optional ``boto3`` dependency)
    — the real object-store implementation of the mapping the
    :class:`CommitStore` docstring describes, usable against AWS S3,
    MinIO, Cloudflare R2, or GCS's S3-interop endpoint (pass
    ``endpoint_url``), and testable hermetically under moto.

    Primitive mapping (all public, documented S3 API):

    - ``create_exclusive`` = ``PutObject`` + ``If-None-Match: *`` —
      exactly one writer's put lands; the losers get HTTP 412
      ``PreconditionFailed`` (→ ``False``). A 409
      ``ConditionalRequestConflict`` (two conditional writers in
      flight on the key) is WEATHER, not an outcome — raised as
      :class:`..operators.manifestfs.TransientCommitError` so the
      protocol retries and resolves by reading the slot back, the
      same path FlakyCommitStore's ambiguous-success injection proves.
    - ``remove`` = ``DeleteObject`` (idempotent: deleting an absent
      key succeeds, so vacuum re-runs are safe).
    - ``list_names`` = prefix LIST without bodies (the O(1)-opens
      head-read path: names only, point-read the newest).
    - ``get`` = ``GetObject`` (absent/unparseable → None).
    - ``age_seconds`` = ``HeadObject`` LastModified (the vacuum age
      floor's timestamp hook; None on error degrades SAFE).

    5xx/throttle errors surface as ``TransientCommitError`` so
    ``manifestfs.commit_with_retry`` treats a real bucket's weather
    exactly like the injected kind. Not transactional across keys —
    the manifest protocol only ever needs single-key atomicity."""

    def __init__(self, bucket: str, prefix: str = "", *, client=None,
                 **client_kwargs):
        """``client`` injects a ready boto3 S3 client (tests/moto);
        otherwise one is built lazily from ``client_kwargs``
        (``endpoint_url=...`` for MinIO/R2/GCS-interop)."""
        if client is None:
            import boto3  # optional dependency — import only when used

            client = boto3.client("s3", **client_kwargs)
        self.client = client
        self.bucket = bucket
        self.prefix = prefix.strip("/") + "/" if prefix.strip("/") else ""

    def _key(self, name: str) -> str:
        return self.prefix + name

    def _wrap(self, err, verb: str, name: str):
        from ..operators.manifestfs import TransientCommitError

        code = str(err.response.get("Error", {}).get("Code", ""))
        if code in _S3_TRANSIENT_CODES:
            return TransientCommitError(
                f"s3 {verb} {self._key(name)}: transient {code}"
            )
        return err

    def create_exclusive(self, name: str, record: dict) -> bool:
        import json

        from botocore.exceptions import ClientError

        try:
            self.client.put_object(
                Bucket=self.bucket,
                Key=self._key(name),
                Body=json.dumps(record).encode(),
                IfNoneMatch="*",
            )
            return True
        except ClientError as e:
            code = str(e.response.get("Error", {}).get("Code", ""))
            if code == "PreconditionFailed":
                return False  # clean lost race: the slot exists
            raise self._wrap(e, "put", name) from e

    def remove(self, name: str) -> None:
        from botocore.exceptions import ClientError

        try:
            self.client.delete_object(
                Bucket=self.bucket, Key=self._key(name)
            )
        except ClientError as e:
            raise self._wrap(e, "delete", name) from e

    def _names(self) -> list[str]:
        names: list[str] = []
        paginator = self.client.get_paginator("list_objects_v2")
        for page in paginator.paginate(
            Bucket=self.bucket, Prefix=self.prefix, Delimiter="/"
        ):
            for obj in page.get("Contents", ()):
                name = obj["Key"][len(self.prefix):]
                if name.endswith(".json"):
                    names.append(name)
        return sorted(names)

    def list_records(self) -> dict[str, "dict | None"]:
        return {
            name: self.get(name)
            for name in self._names()
            if name.startswith("v")
        }

    def list_names(self) -> list[str]:
        return self._names()

    def get(self, name: str) -> "dict | None":
        import json

        from botocore.exceptions import ClientError

        try:
            body = self.client.get_object(
                Bucket=self.bucket, Key=self._key(name)
            )["Body"].read()
            return json.loads(body)
        except ClientError as e:
            code = str(e.response.get("Error", {}).get("Code", ""))
            if code in ("NoSuchKey", "404"):
                return None
            raise self._wrap(e, "get", name) from e
        except ValueError:
            return None  # unparseable: owner mid-write (non-atomic put)

    def age_seconds(self, name: str) -> "float | None":
        import datetime

        from botocore.exceptions import ClientError

        try:
            head = self.client.head_object(
                Bucket=self.bucket, Key=self._key(name)
            )
            now = datetime.datetime.now(datetime.timezone.utc)
            return max(0.0, (now - head["LastModified"]).total_seconds())
        except (ClientError, KeyError):
            return None  # unknown age: the vacuum floor degrades SAFE


def corpus_manifest(
    spark: SparkSession,
    path: str,
    *,
    partition_by: list[str],
    stat_cols: list[str] | None = None,
) -> DataFrame:
    """Per-partition row counts and min/max of ``stat_cols`` — one
    aggregation job; the scan prunes to the listed columns only."""
    df = spark.read.parquet(path)
    aggs = [F.count("*").alias("n_rows")]
    for c in stat_cols or []:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(*partition_by).agg(*aggs)
