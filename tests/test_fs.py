"""File-verb integration tests over file:// (SURVEY.md §5.2).

The Hadoop FileSystem abstraction makes the verbs path-scheme agnostic,
so a pytest tmp dir stands in for an S3 bucket. Fixture names exercise
the reference edge cases from FIXTURES.md: archive.tar.gz (first-dot
enumeration), nested a/b/c.txt (unanchored full-path regex), >1000
files (pagination regression D1/D2), zero-match (exit-1 semantics),
duplicate basenames in different folders.
"""

from __future__ import annotations

import os
import re
import uuid

import pytest

from s3spark import fs
from s3spark.errors import S3FileNotFound, S3InvalidRegex, S3NoMatches


@pytest.fixture()
def bucket(tmp_path):
    """A fake bucket: nested files with reference-edge-case names."""
    (tmp_path / "src").mkdir()
    (tmp_path / "src" / "archive.tar.gz").write_text("one")
    (tmp_path / "src" / "data_a.csv").write_text("a,b\n1,2")
    (tmp_path / "src" / "data_b.csv").write_text("a,b\n3,4")
    (tmp_path / "src" / "a" / "b").mkdir(parents=True)
    (tmp_path / "src" / "a" / "b" / "c.txt").write_text("nested")
    (tmp_path / "src" / "a" / "data_a.csv").write_text("dup basename")
    return tmp_path


def url(p):
    return f"file://{p}"


def test_list_files_recursive_files_only(spark, bucket):
    df = fs.list_files(spark, url(bucket / "src"))
    names = {r.name for r in df.collect()}
    assert names == {"archive.tar.gz", "data_a.csv", "data_b.csv", "c.txt"}
    # directories excluded (divergence D5); sizes are real
    sizes = {r.name: r.size for r in df.collect()}
    assert sizes["c.txt"] == len("nested")


def test_list_files_missing_prefix_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound) as ei:
        fs.list_files(spark, url(bucket / "nope"))
    assert ei.value.exit_code == 201


def test_match_regex_unanchored_full_path(spark, bucket):
    listing = fs.list_files(spark, url(bucket / "src"))
    # substring match on FULL path: 'a/b' hits the nested folder
    got = {r.name for r in fs.match_files(listing, r"a/b/").collect()}
    assert got == {"c.txt"}
    # unanchored: 'data' matches both csvs in both folders
    got = {r.path for r in fs.match_files(listing, r"data_.\.csv").collect()}
    assert len(got) == 3


def test_match_regex_is_key_relative_not_scheme(spark, bucket):
    """The regex sees store-relative text (ADVICE): anchored patterns
    work against the path, and scheme/bucket text is unmatchable —
    'file:' must not become part of the searchable key."""
    listing = fs.list_files(spark, url(bucket / "src"))
    # anchored on the absolute local path (reference upload semantics:
    # regex over glob'd absolute paths, no scheme text)
    anchored = fs.match_files(listing, rf"^{bucket}/src/data_a\.csv$")
    assert {r.name for r in anchored.collect()} == {"data_a.csv"}
    # scheme text is stripped before matching: 'file:' never matches
    assert fs.match_files(listing, r"^file:").count() == 0


def test_key_relative_strips_authority_urls(spark):
    """s3a://bucket/key → key (bucket-relative, like the reference's
    list_objects_v2 keys); an anchored ^data/ pattern must hit."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("s3a://prod-data-bucket/data/x.csv",),
            ("s3a://prod-data-bucket/other/data/y.csv",),
            ("file:/tmp/data/z.csv",),
        ],
        "path string",
    )
    rel = df.select(fs.col_key_relative(F.col("path")).alias("k"))
    assert [r.k for r in rel.collect()] == [
        "data/x.csv",
        "other/data/y.csv",
        "/tmp/data/z.csv",
    ]
    # a pattern overlapping the bucket name must not over-match
    listing = df.withColumn("name", F.lit("n")).withColumn(
        "size", F.lit(1).cast("long")
    ).withColumn("mtime", F.lit(None).cast("timestamp"))
    assert fs.match_files(listing, "prod-data").count() == 0
    assert fs.match_files(listing, r"^data/").count() == 1


def test_match_invalid_regex_raises_203(spark, bucket):
    listing = fs.list_files(spark, url(bucket / "src"))
    with pytest.raises(S3InvalidRegex) as ei:
        fs.match_files(listing, "[unclosed")
    assert ei.value.exit_code == 203


def test_ingest_exact_match(spark, bucket, tmp_path):
    out = tmp_path / "out"
    res = fs.ingest(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file="archive.tar.gz",
        match_type=fs.EXACT_MATCH,
        dest_url=url(out),
    )
    assert res.count == 1
    assert (out / "archive.tar.gz").read_text() == "one"


def test_ingest_exact_missing_raises_201(spark, bucket, tmp_path):
    with pytest.raises(S3FileNotFound):
        fs.ingest(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file="missing.txt",
            match_type=fs.EXACT_MATCH,
            dest_url=url(tmp_path / "out"),
        )


def test_ingest_regex_enumerates_explicit_name_only_when_multiple(
    spark, bucket, tmp_path
):
    out = tmp_path / "out"
    # two matches + explicit dest name → enumerated before first dot (D4)
    res = fs.ingest(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"data_.\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
        dest_file="merged.backup.csv",
    )
    assert res.count == 3
    assert sorted(os.listdir(out)) == [
        "merged_1.backup.csv",
        "merged_2.backup.csv",
        "merged_3.backup.csv",
    ]


def test_ingest_single_match_no_enumeration(spark, bucket, tmp_path):
    out = tmp_path / "out"
    fs.ingest(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"archive.*gz$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
        dest_file="only.tar.gz",
    )
    assert os.listdir(out) == ["only.tar.gz"]


def test_ingest_no_dest_name_keeps_basenames(spark, bucket, tmp_path):
    out = tmp_path / "out"
    fs.ingest(
        spark,
        source_url=url(bucket / "src"),
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
    )
    # duplicate basename data_a.csv collapses (last write wins) — same
    # as the reference, which would overwrite local file repeatedly
    assert sorted(os.listdir(out)) == ["data_a.csv", "data_b.csv"]


def test_zero_matches_raises_exit_1(spark, bucket, tmp_path):
    with pytest.raises(S3NoMatches) as ei:
        fs.ingest(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file=r"zzz\d+",
            match_type=fs.REGEX_MATCH,
            dest_url=url(tmp_path / "out"),
        )
    assert ei.value.exit_code == 1


def test_move_copies_then_deletes_source(spark, bucket, tmp_path):
    dest = tmp_path / "bucket2"
    res = fs.move(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"data_a\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(dest),
        dest_folder="moved",
    )
    assert res.count == 2  # src/data_a.csv and src/a/data_a.csv
    assert not (bucket / "src" / "data_a.csv").exists()
    assert not (bucket / "src" / "a" / "data_a.csv").exists()
    assert (dest / "moved" / "data_a.csv").exists()


def test_remove_regex(spark, bucket):
    res = fs.remove(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
    )
    assert res.count == 3
    assert not (bucket / "src" / "data_a.csv").exists()
    assert (bucket / "src" / "archive.tar.gz").exists()


def test_remove_exact_missing_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound):
        fs.remove(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file="ghost.txt",
            match_type=fs.EXACT_MATCH,
        )


def test_pagination_regression_1500_files(spark, tmp_path):
    """Reference bugs D1/D2 lose keys past page 1 (1000). Our listing
    must see all 1500."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(1500):
        (d / f"f{i:04d}.dat").write_text("x")
    df = fs.list_files(spark, url(d))
    assert df.count() == 1500
    # and the distributed listing path agrees
    assert fs.list_files_distributed(spark, url(d)).count() == 1500


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn started), via a job group."""
    sc = spark.sparkContext
    group = f"test-fs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_listing_auto_routes_to_distributed_past_threshold(
    spark, tmp_path, monkeypatch
):
    """_collect_matches lists on the driver up to
    DRIVER_LISTING_THRESHOLD entries (no Spark job) and cuts over to a
    distributed binaryFile scan as soon as the listing passes it; both
    routes return the same sorted paths."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(40):
        (d / f"f{i:02d}.dat").write_text("x")
    scans = []
    real_scan = fs.list_files_distributed
    monkeypatch.setattr(
        fs,
        "list_files_distributed",
        lambda *a, **k: scans.append(a) or real_scan(*a, **k),
    )

    def collect():
        return fs._collect_matches(spark, url(d), "", r"f[12]\d\.dat$", fs.REGEX_MATCH)

    monkeypatch.setattr(fs, "DRIVER_LISTING_THRESHOLD", 40)  # 40 entries: driver
    driver, jobs = _jobs_run_by(spark, collect)
    assert (jobs, scans) == (0, [])
    assert driver == [f"file:{d}/f{i}.dat" for i in range(10, 30)]

    monkeypatch.setattr(fs, "DRIVER_LISTING_THRESHOLD", 39)
    distributed, jobs = _jobs_run_by(spark, collect)
    assert jobs > 0 and len(scans) == 1
    assert distributed == driver


def test_python_only_regex_matches_on_distributed_route(spark, bucket, monkeypatch):
    """Java regex rejects (?P<name>...); both routes match with Python
    re.search, so such a pattern finds the same files below and past the
    threshold and never surfaces as a Py4JJavaError."""
    rx = r"(?P<a>data_a)\.csv$"

    def collect():
        return fs._collect_matches(spark, url(bucket), "src", rx, fs.REGEX_MATCH)

    want = [f"file:{bucket}/src/a/data_a.csv", f"file:{bucket}/src/data_a.csv"]
    assert collect() == want
    monkeypatch.setattr(fs, "DRIVER_LISTING_THRESHOLD", 1)
    distributed, jobs = _jobs_run_by(spark, collect)
    assert jobs > 0 and distributed == want


# Python-only syntax the reference's re.search accepts, plus the
# key-relative cases (anchors, bucket-name overlap).
PATTERN_CORPUS = [
    r"(?P<a>app)\.\d+\.log$",
    r"(?P<x>[a-z])(?P=x)\.txt$",
    r"(?<=/data/)\w+\.csv$",
    r"^data/",
    r"prod-data",
    r"\.csv$",
    r"[.]",
    r"/\w+\.csv$",  # Unicode \w in Python, ASCII in Java regex
]


def test_driver_route_matches_equal_re_search(spark, tmp_path):
    """Matching is exactly re.search over the store-relative key on
    both routes: on a local tree through _collect_matches (driver) and
    match_files over the distributed listing, and on s3a-style keys
    (bucket-relative, so ^data/ hits and the bucket name prod-data never
    does) through match_paths."""
    root = tmp_path / "corpus"
    for rel in (
        "logs/app.1.log", "logs/app.22.log", "logs/app.log", "logs/xapp.3.log.gz",
        "aa.txt", "ab.txt", "nested/bb.txt", "data/x.csv", "other/data/y.csv",
        "prod-data/z.json", "données.csv",
    ):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text("x")
    local = [
        os.path.join(dirpath, f) for dirpath, _, files in os.walk(root) for f in files
    ]
    s3a_keys = {
        "s3a://prod-data-bucket/data/x.csv": "data/x.csv",
        "s3a://prod-data-bucket/other/data/y.csv": "other/data/y.csv",
        "s3a://prod-data-bucket/logs/app.7.log": "logs/app.7.log",
        "s3a://prod-data-bucket/cc.txt": "cc.txt",
        "s3a://b/prod-data/k.csv": "prod-data/k.csv",
    }
    # one task per match job: the file index splits 11 files many ways
    distributed = fs.list_files_distributed(spark, url(root)).coalesce(1)
    hits = {}
    for rx in PATTERN_CORPUS:
        want = sorted(f"file:{p}" for p in local if re.search(rx, p))
        try:
            got = fs._collect_matches(spark, url(root), "", rx, fs.REGEX_MATCH)
        except S3NoMatches:
            got = []
        assert got == want, rx
        matched = fs.match_files(distributed, rx).select("path").collect()
        assert sorted(r.path for r in matched) == want, rx
        want_s3a = sorted(p for p, key in s3a_keys.items() if re.search(rx, key))
        assert fs.match_paths(s3a_keys, rx) == want_s3a, rx
        hits[rx] = (len(got), len(want_s3a))
    assert hits[PATTERN_CORPUS[0]] == (2, 1)
    assert hits[PATTERN_CORPUS[1]] == (2, 1)
    assert hits[PATTERN_CORPUS[2]] == (2, 1)  # the key data/x.csv has no "/data/"
    assert hits[r"^data/"] == (0, 1)
    assert hits[r"prod-data"] == (1, 1)  # only the folder, never the bucket
    assert hits[PATTERN_CORPUS[-1]] == (3, 3)  # données.csv too


def test_regex_ingest_below_threshold_runs_no_spark_job(spark, bucket, tmp_path):
    """Below the threshold a regex verb is driver listing, re.search and
    FileSystem calls only: no Spark job."""
    res, jobs = _jobs_run_by(
        spark,
        lambda: fs.ingest(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file=r"\.csv$",
            match_type=fs.REGEX_MATCH,
            dest_url=url(tmp_path / "out"),
            dest_file="merged.csv",
        ),
    )
    assert res.count == 3
    assert jobs == 0


def test_verbs_resolve_one_fs_handle_per_side(spark, bucket, tmp_path, monkeypatch):
    """A verb resolves the source and destination FileSystem handles
    once, not once per file."""
    calls = []
    real = fs._jvm_fs
    monkeypatch.setattr(fs, "_jvm_fs", lambda s, u: calls.append(u) or real(s, u))
    res = fs.move(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(tmp_path / "bucket2"),
        dest_folder="x/y",
        dest_file="m.csv",
    )
    assert res.count == 3 and len(calls) == 2
    calls.clear()
    res = fs.remove(
        spark,
        source_url=url(tmp_path / "bucket2"),
        source_file=r"m_\d\.csv$",
        match_type=fs.REGEX_MATCH,
    )
    assert res.count == 3 and len(calls) == 1


def test_verbs_copy_names_with_space_and_percent(spark, tmp_path):
    """Object names may hold a space or a literal %20: the verbs copy
    them under the same name (parsing the path as a URI would refuse
    the space)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "x y%20z.csv").write_text("s")
    res = fs.publish(
        spark,
        source_url=url(src),
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(tmp_path / "dst"),
    )
    assert res.files == [
        (f"file:{src}/x y%20z.csv", f"file://{tmp_path}/dst/x y%20z.csv")
    ]
    assert (tmp_path / "dst" / "x y%20z.csv").read_text() == "s"


def test_checksum_setter_credential_failure_maps_to_202():
    """Round-12 VERDICT item 6: the checksum-setter tolerance branch
    (_disable_checksums) must not swallow a lazily-surfaced credential
    failure — it classifies first, and an auth-flavored error raises
    S3InvalidCredentials (exit 202) instead of vanishing."""
    from s3spark.errors import S3InvalidCredentials
    from s3spark.fs import _disable_checksums

    class LazyAuthFs:
        def setWriteChecksum(self, _v):
            raise RuntimeError(
                "AccessDenied: unable to load credentials from any provider"
            )

        def setVerifyChecksum(self, _v):  # pragma: no cover
            raise AssertionError("must fail on the first setter")

    with pytest.raises(S3InvalidCredentials):
        _disable_checksums(LazyAuthFs())

    class UnsupportedFs:
        calls = 0

        def setWriteChecksum(self, _v):
            raise RuntimeError("setWriteChecksum not supported")

        def setVerifyChecksum(self, _v):
            type(self).calls += 1

    # non-auth setter failures stay tolerated (no raise)
    _disable_checksums(UnsupportedFs())


def test_checksum_setter_exit_code_is_202():
    """The classified error carries the reference's credential exit
    code (upload_file.py taxonomy), so a CLI caller exits 202."""
    from s3spark.errors import S3InvalidCredentials

    assert S3InvalidCredentials("x").exit_code == 202


def test_list_paths_local_fast_path_and_suffix(spark, bucket):
    """Round-13: list_paths replaces ad-hoc os.walk in query paths.
    Local prefixes (bare or file:) take the os.walk fast path; the
    suffix filter and recursion semantics must match the Hadoop
    route's contract."""
    root = str(bucket / "src")
    got = set(fs.list_paths(spark, root))
    assert {os.path.basename(p) for p in got} == {
        "archive.tar.gz", "data_a.csv", "data_b.csv", "c.txt",
        "data_a.csv",
    }
    csvs = set(fs.list_paths(spark, root, suffix=".csv"))
    assert {os.path.basename(p) for p in csvs} == {"data_a.csv", "data_b.csv"}
    assert len(csvs) == 3  # dup basename in a/ is a distinct path
    flat = set(fs.list_paths(spark, root, recursive=False))
    assert {os.path.basename(p) for p in flat} == {
        "archive.tar.gz", "data_a.csv", "data_b.csv",
    }
    # file: URL resolves to the same files as the bare path
    via_url = set(fs.list_paths(spark, url(bucket / "src"), suffix=".csv"))
    assert {p.split("/src/", 1)[1] for p in via_url} == {
        p.split("/src/", 1)[1] for p in csvs
    }


def test_list_paths_missing_prefix_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound) as ei:
        fs.list_paths(spark, str(bucket / "nope"))
    assert ei.value.exit_code == 201


def test_list_paths_fast_path_equals_hadoop_iterator(spark, tmp_path):
    """The local os.walk fast path lists exactly what the Hadoop
    RemoteIterator lists, rendered the same way: .crc
    sidecars hidden like ChecksumFileSystem hides them; _SUCCESS,
    dotfiles, nested files and names with a space or %20 kept."""
    root = tmp_path / "tree"
    for rel in (
        "a.csv", ".a.csv.crc", "_SUCCESS", "._SUCCESS.crc", ".dotfile",
        "nested/deep/q.json", "nested/x y%20z.txt", ".d.crc/hidden.txt",
    ):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text("x")
    for recursive in (True, False):
        it = fs._jvm_fs(spark, url(root)).listFiles(fs._jpath(spark, url(root)), recursive)
        hadoop = sorted(it.next().getPath().toString() for _ in iter(it.hasNext, False))
        assert sorted(fs.list_paths(spark, url(root), recursive=recursive)) == hadoop
        assert sorted(fs.list_paths(spark, str(root), recursive=recursive)) == hadoop
    assert {p.rsplit("/", 1)[1] for p in hadoop} == {"a.csv", "_SUCCESS", ".dotfile"}
    assert f"file:{root}/nested/x y%20z.txt" in fs.list_paths(spark, url(root))
