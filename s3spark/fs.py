"""File-capability layer: listing, matching, and the four verbs
(ingest / publish / move / remove) over Hadoop FileSystem.

This is the Spark-native re-expression of the reference's entire
control surface (SURVEY.md §2.1):

- listing        — R5-R8 (download_file.py:167-217, move_file.py:86-103,
                   remove_files.py:83-93, upload_file.py:174-182)
- regex/exact match — R9/R10 (download_file.py:220-229 + exact branches)
- destination projection — R11-R16 (via s3spark.naming)
- ingest (≈download, R17 download_file.py:232-246)
- publish (≈upload, R18 upload_file.py:197-216)
- move (copy+delete, R19 move_file.py:125-154)
- remove (R20 remove_files.py:96-116)

Design (SURVEY.md §3.2): a verb's *matched-file set* is computed on
the driver like the reference computes it — a plain list of paths
(:func:`list_files_auto`: ``os.walk`` for local prefixes, the Hadoop
``RemoteIterator`` otherwise) filtered with Python ``re.search``, with
no Spark job.  Only a prefix past ``DRIVER_LISTING_THRESHOLD`` entries
is listed and matched as a DataFrame (the ``binaryFile`` source), with
the same ``re.search`` run in a Python UDF.  The verbs themselves are
Hadoop FileSystem calls — metadata/byte operations, path-scheme
agnostic, so ``file://`` in tests and ``s3a://`` in production
traverse identical code.

Deliberate divergences from reference bugs (SURVEY.md §8): full
pagination always (D1/D2 — Hadoop's RemoteIterator pages internally),
typed S3NoMatches instead of KeyError on empty prefix (D3), enumerate
only when >1 match (D4), files-only listings (D5).
"""

from __future__ import annotations

import functools
import os
import re
from collections.abc import Iterable
from dataclasses import dataclass, field
from types import SimpleNamespace
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from s3spark import naming
from s3spark.errors import S3FileNotFound, S3InvalidRegex, S3NoMatches

LISTING_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("name", StringType(), False),
        StructField("size", LongType(), False),
        StructField("mtime", TimestampType(), True),
    ]
)

EXACT_MATCH = "exact_match"
REGEX_MATCH = "regex_match"


# ------------------------------------------------------------------ plumbing


_AUTH_MARKERS = (
    "access denied",
    "accessdenied",
    "status code: 403",
    "status code: 401",
    "invalidaccesskeyid",
    "signaturedoesnotmatch",
    "nocredential",
    "no aws credentials",
    "unable to load credentials",
)


def classify_fs_error(exc: Exception) -> Exception:
    """Map store-layer failures onto the reference error taxonomy:
    auth/credential failures → S3InvalidCredentials (exit 202,
    move_file.py:117-122); everything else passes through."""
    from s3spark.errors import S3InvalidCredentials

    msg = str(exc).lower()
    if any(m in msg for m in _AUTH_MARKERS):
        return S3InvalidCredentials(str(exc))
    return exc


def _jvm_fs(spark: SparkSession, url: str):
    """Hadoop FileSystem for a URL's scheme (file://, s3a://, ...).

    Checksum sidecars (.crc) are disabled: the reference moves opaque
    bytes 1:1; LocalFileSystem's checksum files would pollute listings.
    Connection/auth failures surface as S3InvalidCredentials (202).
    """
    conf = spark._jsc.hadoopConfiguration()
    # Path, not URI.create: a key with a space is a legal object name
    uri = _jpath(spark, url).toUri()
    try:
        fs = _hadoop(spark._jvm).FileSystem.get(uri, conf)
    except Exception as e:  # Py4JJavaError carries the JVM message
        raise classify_fs_error(e) from e
    _disable_checksums(fs)
    return fs


def _disable_checksums(fs) -> None:
    """Turn off .crc sidecars on a Hadoop FileSystem handle.

    Some FileSystem impls reject the checksum setters
    (UnsupportedOperation) — that is tolerable and ignored.  But a
    filesystem that authenticates lazily may surface its credential
    failure HERE, and silence would misreport exit 202 as a generic
    downstream error: classify first, swallow only the non-auth case.
    """
    from s3spark.errors import S3InvalidCredentials

    try:
        fs.setWriteChecksum(False)
        fs.setVerifyChecksum(False)
    except Exception as e:
        classified = classify_fs_error(e)
        if isinstance(classified, S3InvalidCredentials):
            raise classified from e


def _jpath(spark: SparkSession, url: str):
    return _hadoop(spark._jvm).Path(url)


@functools.cache
def _hadoop(jvm) -> SimpleNamespace:
    """The ``org.apache.hadoop.fs`` classes the verbs use, looked up once
    per JVM view: py4j resolves every package segment of
    ``jvm.org.apache.hadoop.fs.Path`` with its own JVM round trip."""
    pkg = jvm.org.apache.hadoop.fs
    return SimpleNamespace(FileSystem=pkg.FileSystem, Path=pkg.Path, FileUtil=pkg.FileUtil)


# ------------------------------------------------------------------- listing


def list_paths(
    spark: SparkSession,
    url: str,
    suffix: str | None = None,
    recursive: bool = True,
    threshold: int | None = None,
) -> list[str] | None:
    """Driver-side list of file paths under a prefix — the scheme-
    agnostic metadata walk (file://, s3a://, ...) for callers that need
    a plain Python list (verb matching, manifest diffs, commit-file
    enumeration), not a DataFrame.

    ``suffix`` filters by file-name suffix (e.g. ``".parquet"``).
    Raises :class:`S3FileNotFound` on a missing prefix, like
    :func:`list_files`.  Paths are rendered as Hadoop's
    ``Path.toString()`` renders them (``file:/abs/path``,
    ``s3a://bucket/key``) and ChecksumFileSystem's ``.<name>.crc``
    sidecars are hidden, so both routes below list the same strings.

    Local prefixes (no scheme, or ``file:``) take an os.walk fast
    path: the Hadoop RemoteIterator costs one py4j round-trip per
    entry (~4-6 ms), which is pure overhead when the driver can stat
    the directory directly.  Any other scheme goes through the Hadoop
    FileSystem, so s3a:// lists correctly instead of silently
    returning nothing.

    With ``threshold``, the walk stops as soon as it passes that many
    entries and returns ``None``: a prefix that large must be listed by
    executor tasks (:func:`list_files_distributed`), never serialized
    through one driver loop.  The abandoned probe walks ``threshold``
    entries whatever the prefix size; its cost at 10 000 entries on a
    remote store has not been measured.
    """
    if urlparse(url).scheme in ("", "file"):
        root = os.path.abspath(re.sub(r"^file:(//)?", "", url))
        if not os.path.exists(root):
            raise S3FileNotFound(f"no such path: {url}")
        entries = _walk_local(root, recursive)
    else:
        fs = _jvm_fs(spark, url)
        path = _jpath(spark, url)
        if not fs.exists(path):
            raise S3FileNotFound(f"no such path: {url}")
        it = fs.listFiles(path, recursive)
        entries = (it.next().getPath().toString() for _ in iter(it.hasNext, False))
    out: list[str] = []
    for n, p in enumerate(entries, start=1):
        if threshold is not None and n > threshold:
            return None
        if suffix is None or p.endswith(suffix):
            out.append(p)
    return out


def _is_checksum(name: str) -> bool:
    """ChecksumFileSystem.isChecksumFile: ``.<name>.crc`` sidecars."""
    return name.startswith(".") and name.endswith(".crc")


def _walk_local(root: str, recursive: bool):
    """Files under a local path as LocalFileSystem.listFiles yields them:
    a file root lists itself, symlinked directories are followed, and
    checksum entries (files or directories) are skipped."""
    if not os.path.isdir(root):
        yield f"file:{root}"
        return
    for dirpath, dirs, files in os.walk(root, followlinks=True):
        dirs[:] = [d for d in dirs if not _is_checksum(d)]
        for f in files:
            if not _is_checksum(f):
                yield f"file:{os.path.join(dirpath, f)}"
        if not recursive:
            return


_LISTING_ROWS_PER_TASK = 4096


def list_files(spark: SparkSession, url: str, recursive: bool = True) -> DataFrame:
    """Listing DataFrame ``(path, name, size, mtime)`` for a prefix.

    Driver-side metadata walk via ``FileSystem.listFiles`` — the Hadoop
    RemoteIterator pages through S3 LIST responses internally, so >1000
    keys are handled correctly (fixes reference bugs D1/D2). Files only
    (D5). Raises :class:`S3FileNotFound` (exit 201) on a missing prefix,
    matching move_file.py:100-103.
    """
    import datetime

    fs = _jvm_fs(spark, url)
    path = _jpath(spark, url)
    if not fs.exists(path):
        raise S3FileNotFound(f"no such path: {url}")
    rows = []
    it = fs.listFiles(path, recursive)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        rows.append(
            (
                p,
                naming.basename(p),
                st.getLen(),
                # tz-aware UTC: naive datetimes would be reinterpreted in
                # the driver's OS timezone by TimestampType.toInternal,
                # shifting mtime on any non-UTC driver
                datetime.datetime.fromtimestamp(
                    st.getModificationTime() / 1000.0, tz=datetime.timezone.utc
                ),
            )
        )
    # one task per _LISTING_ROWS_PER_TASK rows: the default split of a
    # small listing (one slice per core) ran dozens of empty tasks, and
    # a Python UDF worker for each, in every job over it
    sc = spark.sparkContext
    slices = min(sc.defaultParallelism, len(rows) // _LISTING_ROWS_PER_TASK + 1)
    return spark.createDataFrame(sc.parallelize(rows, slices), LISTING_SCHEMA)


# Above this many entries a verb's source listing leaves the driver: the
# walk is abandoned mid-stream and re-issued as a distributed scan (a
# 100M-object prefix must never serialize through one Python loop — the
# failure mode the reference's own pagination bug foreshadowed).
DRIVER_LISTING_THRESHOLD = 10_000


def list_files_distributed(
    spark: SparkSession, url: str, recursive: bool = True
) -> DataFrame:
    """Listing DataFrame via the ``binaryFile`` source: file discovery
    uses Spark's InMemoryFileIndex (parallelized past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``) and the
    scan is executed by tasks — the 100 TB path for huge prefixes.
    Column pruning drops ``content``, so no file bytes are read.
    """
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
        .load(url)
        .select(
            F.col("path"),
            naming.col_basename(F.col("path")).alias("name"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("mtime"),
        )
    )


def list_files_auto(
    spark: SparkSession,
    url: str,
    threshold: int = DRIVER_LISTING_THRESHOLD,
    recursive: bool = True,
) -> list[tuple[str, str]] | DataFrame:
    """A verb's source listing, routed by prefix size.

    Up to ``threshold`` entries the prefix is listed on the driver by
    :func:`list_paths` (no Spark job) and returned as ``(path, name)``
    pairs, the leading columns of :data:`LISTING_SCHEMA`.  As soon as
    the walk passes ``threshold`` it is abandoned and the prefix is
    listed by executor tasks: the :func:`list_files_distributed`
    DataFrame is returned instead.  ``recursive`` is honored on both
    routes.
    """
    paths = list_paths(spark, url, recursive=recursive, threshold=threshold)
    if paths is None:
        return list_files_distributed(spark, url, recursive=recursive)
    return [(p, naming.basename(p)) for p in paths]


# ------------------------------------------------------------------ matching


# scheme://authority/rest → rest (S3A, hdfs, ...), then
# scheme:/rest (no authority; Hadoop renders file:/tmp/x) → /rest
_AUTHORITY_PREFIX = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*/"
_SCHEME_PREFIX = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(?=/)"


def col_key_relative(path):
    """Store-relative text of a listing URL — what the reference's regex
    actually sees: the bucket-relative key on S3 (download_file.py:226
    matches ``folder/file`` keys, never ``s3://bucket/...``) or the
    absolute local path on upload (upload_file.py:191 globs absolute
    paths, no scheme). ``s3a://bucket/key`` → ``key``;
    ``file:/tmp/x`` → ``/tmp/x``. Keeps scheme/bucket text out of the
    match so anchored patterns (``^data/``) and bucket-name overlaps
    behave exactly like the reference."""
    rel = F.regexp_replace(path, _AUTHORITY_PREFIX, "")
    return F.regexp_replace(rel, _SCHEME_PREFIX, "")


def _key_relative(path: str) -> str:
    """:func:`col_key_relative` for one path string on the driver."""
    return re.sub(_SCHEME_PREFIX, "", re.sub(_AUTHORITY_PREFIX, "", path))


def _compile(pattern: str) -> re.Pattern:
    try:
        return re.compile(pattern)
    except re.error as e:
        raise S3InvalidRegex(f"invalid regex {pattern!r}: {e}") from e


def match_paths(paths: Iterable[str], pattern: str) -> list[str]:
    """The reference's regex match (R9/R10) over plain path strings:
    ``re.search`` over each path's store-relative key
    (:func:`_key_relative`), exactly download_file.py:220-229. Returns
    the matched paths sorted. Raises :class:`S3InvalidRegex` (203) on a
    bad pattern."""
    search = _compile(pattern).search
    return sorted(p for p in paths if search(_key_relative(p)))


def match_files(
    listing: DataFrame,
    pattern: str,
    match_type: str = REGEX_MATCH,
) -> DataFrame:
    """Filter a listing DataFrame like the reference matches keys (R9/R10).

    ``regex_match`` is the reference's Python ``re.search`` over the
    store-relative key text (download_file.py:226 sees the
    bucket-relative key; upload_file.py:191 the absolute local path —
    see :func:`col_key_relative`), run by executors in a Python UDF so
    it matches exactly what :func:`match_paths` matches on the driver.
    Java regex (``rlike``) would differ: it has no ``(?P<name>...)``
    and its ``\\w`` is ASCII-only.  The UDF closes over the compiled pattern only, so
    executors need no ``s3spark`` import.  ``exact_match`` compares the
    full path. Raises :class:`S3InvalidRegex` (203) on a bad pattern,
    on the driver, before any job runs.
    """
    if match_type == REGEX_MATCH:
        rx = _compile(pattern)
        hit = F.udf(lambda key: rx.search(key) is not None, BooleanType())
        return listing.filter(hit(col_key_relative(F.col("path"))))
    # exact match: Hadoop renders URIs with a scheme (file:/x, s3a://b/k);
    # accept the raw path too so callers can pass plain absolute paths
    stripped = F.regexp_replace(
        F.col("path"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/{0,2}", "/"
    )
    return listing.filter(
        (F.col("path") == pattern) | (stripped == F.lit(pattern))
    )


def _collect_matches(
    spark: SparkSession,
    source_url: str,
    source_folder: str,
    source_file: str,
    match_type: str,
) -> list[str]:
    """Sorted source paths of a verb (its driver-side planning step).

    A regex match lists the prefix with :func:`list_files_auto`.  On
    the driver route it filters the listed paths with Python
    ``re.search`` (:func:`match_paths`), the reference's exact
    semantics, with no Spark job.  Past :data:`DRIVER_LISTING_THRESHOLD`
    entries the listing is a distributed scan, filtered by
    :func:`match_files` with the same ``re.search`` in a UDF; the
    collect() there is over matched *paths* (bounded by match count),
    never data rows.  Both routes return the matches sorted.
    """
    folder = naming.clean_folder_name(source_folder)
    base = f"{source_url.rstrip('/')}/{folder}" if folder else source_url.rstrip("/")
    if match_type == EXACT_MATCH:
        full = f"{base.rstrip('/')}/{source_file}"
        fs = _jvm_fs(spark, full)
        if not fs.exists(_jpath(spark, full)):
            raise S3FileNotFound(f"no such file: {full}")
        return [full]
    listing = list_files_auto(spark, base, threshold=DRIVER_LISTING_THRESHOLD)
    if isinstance(listing, DataFrame):
        matched = match_files(listing, source_file).select("path").collect()
        paths = sorted(r.path for r in matched)
    else:
        paths = match_paths((p for p, _ in listing), source_file)
    if not paths:
        raise S3NoMatches(
            f"no files matching {source_file!r} under {base} "
            f"(reference exit 1, upload_file.py:241-243)"
        )
    return paths


def _plan_destinations(
    paths: list[str],
    dest_url: str,
    dest_folder: str,
    dest_file: str | None,
) -> list[tuple[str, str]]:
    """(source, destination) pairs with reference naming semantics:
    explicit name enumerated iff >1 match (D4), else source basename."""
    folder = naming.clean_folder_name(dest_folder)
    many = len(paths) > 1
    out = []
    for i, src in enumerate(sorted(paths), start=1):
        name = naming.destination_file_name(
            source_full_path=src,
            dest_file_name=dest_file,
            file_number=i if (dest_file and many) else None,
        )
        key = naming.combine_folder_and_file_name(folder, name) if folder else name
        out.append((src, f"{dest_url.rstrip('/')}/{key}"))
    return out


# -------------------------------------------------------------------- verbs


@dataclass
class VerbResult:
    """What a verb did: (source, destination) per file (dest=None for remove)."""

    files: list[tuple[str, str | None]]

    @property
    def count(self) -> int:
        return len(self.files)


@dataclass
class _Copier:
    """What every copy of one verb shares: both FileSystem handles and
    the destination parents already checked.  All sources sit under one
    listed prefix and all destinations under one destination prefix, so
    each handle is resolved once per verb."""

    sfs: object
    dfs: object
    conf: object
    hadoop: SimpleNamespace
    parents: set[str] = field(default_factory=set)


def _copy(c: _Copier, src: str, dst: str, delete_source: bool) -> None:
    """One byte copy (``FileUtil.copy``), creating the destination's
    parent on its first use in the verb."""
    dp = c.hadoop.Path(dst)
    parent = dst.rsplit("/", 1)[0]
    if parent not in c.parents:
        c.parents.add(parent)
        jparent = dp.getParent()
        if not c.dfs.exists(jparent):
            c.dfs.mkdirs(jparent)  # reference makedirs, download_file.py:261-263
    src_path = c.hadoop.Path(src)
    if not c.hadoop.FileUtil.copy(c.sfs, src_path, c.dfs, dp, delete_source, True, c.conf):
        raise S3FileNotFound(f"copy failed: {src} -> {dst}")


def _transfer(spark: SparkSession, pairs: list[tuple[str, str]], delete_source: bool) -> None:
    """Copy every (source, destination) pair, deleting each source after
    its copy when ``delete_source``."""
    c = _Copier(
        sfs=_jvm_fs(spark, pairs[0][0]),
        dfs=_jvm_fs(spark, pairs[0][1]),
        conf=spark._jsc.hadoopConfiguration(),
        hadoop=_hadoop(spark._jvm),
    )
    for src, dst in pairs:
        _copy(c, src, dst, delete_source)


def ingest(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
    dest_url: str,
    dest_folder: str = "",
    dest_file: str | None = None,
) -> VerbResult:
    """≈ reference download (R17): remote → local byte copy per match."""
    paths = _collect_matches(spark, source_url, source_folder, source_file, match_type)
    pairs = _plan_destinations(paths, dest_url, dest_folder, dest_file)
    _transfer(spark, pairs, delete_source=False)
    return VerbResult(files=pairs)


def publish(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
    dest_url: str,
    dest_folder: str = "",
    dest_file: str | None = None,
) -> VerbResult:
    """≈ reference upload (R18): local → remote. Same engine path as
    ingest — Hadoop FileSystem is symmetric (multipart via fs.s3a.*)."""
    return ingest(
        spark,
        source_url=source_url,
        source_file=source_file,
        source_folder=source_folder,
        match_type=match_type,
        dest_url=dest_url,
        dest_folder=dest_folder,
        dest_file=dest_file,
    )


def move(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
    dest_url: str,
    dest_folder: str = "",
    dest_file: str | None = None,
) -> VerbResult:
    """≈ reference move (R19): copy + delete per match, cross-"bucket",
    non-atomic exactly like S3 COPY+DELETE (move_file.py:125-154)."""
    paths = _collect_matches(spark, source_url, source_folder, source_file, match_type)
    pairs = _plan_destinations(paths, dest_url, dest_folder, dest_file)
    _transfer(spark, pairs, delete_source=True)
    return VerbResult(files=pairs)


def remove(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
) -> VerbResult:
    """≈ reference remove (R20): delete per match. Exact-match remove
    verifies existence first (divergence D7 → typed 201)."""
    paths = _collect_matches(spark, source_url, source_folder, source_file, match_type)
    fs = _jvm_fs(spark, paths[0])  # all matches share one prefix
    Path = _hadoop(spark._jvm).Path
    for p in paths:
        fs.delete(Path(p), False)
    return VerbResult(files=[(p, None) for p in paths])
