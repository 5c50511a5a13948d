"""The benchmark workloads, their output checks and their metrics.

Every workload is a closed loop: one client in one process, each call
waiting for the previous one (these are batch jobs). A *pass* is the
unit a workload repeats until the run's time is up:

- ``verb_cycle``  — publish → ingest → move → remove over a seeded
  local corpus, all on ``file://`` (same Hadoop FileSystem code as
  ``s3a://``);
- ``query_panel`` — registry keys, each timed as ``fn()`` (build) then
  the ``noop`` sink, in a seed-permuted order, followed by one dataset
  ETL round: ``S3Pipeline.read`` of lineitem and orders, a join with
  derived revenue and year, ``S3Pipeline.write`` partitioned by year,
  then a read-back.

Checks run outside the timed windows; each mismatch counts as a failed
operation. In a traced run every unit of a pass runs twice, untraced
and traced in alternating order, so tracing overhead is measured on the
same work (``trace.overhead_ratio``).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field
from decimal import Decimal

import gen
from tracing import PHASES, PLAN_NODES, SinkPlans, StageStats, Tracer, jobs_for, phase_ms, plan_counts

# Sink-heavy keys (join_multiway, dq_table_checksum) next to build-heavy
# ones (dedup_fuzzy_minhash, stream_outer_join_watermark), Python and
# Arrow evaluation (udf_pandas) and a composed pipeline. Each key costs
# 1-11 s cold on 4 cores, so the panel holds what one run can afford;
# dedup_incremental_minhash, sim_ivfpq_search_e2e and mm_pipeline_e2e
# are left out (their families are covered by the keys here).
PANEL_KEYS = (
    "agg_groupby",
    "join_multiway",
    "udf_pandas",
    "dq_table_checksum",
    "dedup_fuzzy_minhash",
    "decontaminate_ngram_overlap",
    "curation_pipeline_e2e",
    "stream_outer_join_watermark",
)
WARM_KEYS = ("agg_groupby", "udf_pandas")
VERBS = ("publish", "ingest", "move", "remove")
PUBLISH_RX = r"\.csv$"
INGEST_RX = r"_hot\.csv$"
INGEST_NAME = "out.csv"
WARM_SF = 0.001  # scale of the warm-up and priming runs


@dataclass(frozen=True)
class Sizes:
    """Input sizes; ``full`` is what the benchmark measures, ``toy`` is
    what its self-tests run."""

    objects: int
    large_bytes: int
    panel_sf: float
    panel_keys: tuple[str, ...]
    etl_sf: float


FULL = Sizes(objects=60, large_bytes=8 << 20, panel_sf=0.01, panel_keys=PANEL_KEYS, etl_sf=0.1)
TOY = Sizes(
    objects=20,
    large_bytes=256 << 10,
    panel_sf=0.001,
    panel_keys=("agg_groupby", "udf_pandas"),
    etl_sf=0.001,
)


@dataclass
class Run:
    """One benchmark process: its session, inputs, tracer and tallies."""

    spark: object
    work: str
    seed: int
    sizes: Sizes
    fault: str | None
    tracer: Tracer
    attempted: int = 0
    failed: int = 0

    def op(self, what: str, fn, *args, **kwargs):
        """Run one counted operation; an exception counts as a failure
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, problems: list[str]) -> None:
        """Count one correctness check; every problem is reported."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems[:20]:
                print(f"perfbench: check {what}: {p}", file=sys.stderr)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile ``q`` (0-100) of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _local(url: str) -> str:
    """``file:/x`` / ``file:///x`` -> ``/x``."""
    return "/" + re.sub(r"^file:/*", "", url)


def _files(d: str) -> dict[str, str]:
    """name -> absolute path of the regular files directly under ``d``."""
    if not os.path.isdir(d):
        return {}
    return {n: os.path.join(d, n) for n in sorted(os.listdir(d)) if os.path.isfile(os.path.join(d, n))}


def _corrupt_one_byte(path: str) -> None:
    with open(path, "r+b") as fh:
        b = fh.read(1)
        fh.seek(0)
        fh.write(bytes([b[0] ^ 0xFF]))


def _self_sum(tr: Tracer, names, selfs, spans=None) -> float:
    pool = spans if spans is not None else tr.spans
    return sum(selfs[s.id] for s in pool if s.name in names)


# ================================================================ verbs

# layers of the verb path and the span names that make them up
VERB_LAYERS = {
    "list": ("fs.list",),
    "match": ("fs.match", "fs.match_files"),
    "plan": ("fs.plan", "naming.destination"),
    "copy": ("fs.copy",),
    "fs_handle": ("fs.fs_handle",),
    "delete": ("fs.remove",),
}


class VerbCycle:
    name = "verb_cycle"

    def __init__(self, run: Run):
        self.run = run
        self.base = os.path.join(run.work, "verbs")
        self.walls: list[dict[str, float]] = []  # untraced cycles
        self.traced_cycles = 0

    def prepare(self) -> None:
        s = self.run.sizes
        self.corpus = gen.make_corpus(
            os.path.join(self.base, "local"), s.objects, self.run.seed, large_bytes=s.large_bytes
        )

    def instrument(self, tr: Tracer) -> None:
        from s3spark import fs, naming
        from s3spark.pipeline import S3Pipeline

        for v in VERBS:
            tr.target(S3Pipeline, v, f"pipeline.{v}")
        tr.target(fs, "list_files_auto", "fs.list")
        tr.target(fs, "match_files", "fs.match_files")
        tr.target(
            fs,
            "_collect_matches",
            "fs.match",
            job_group=True,
            on_result=lambda t, r: t.counts.update({"fs.match_hits": len(r)}),
        )
        tr.target(fs, "_plan_destinations", "fs.plan")
        tr.target(naming, "destination_file_name", "naming.destination")
        tr.target(fs, "_copy", "fs.copy")
        tr.target(fs, "_jvm_fs", "fs.fs_handle")
        tr.target(fs, "remove", "fs.remove")
        tr.counter(naming, "basename", "fs.list_entries", inside="fs.list")

    def _cycle(self, base: str, corpus, traced: bool, check: bool) -> dict[str, float]:
        from s3spark.pipeline import S3Pipeline

        run, tr = self.run, self.run.tracer
        pipe = S3Pipeline(run.spark)
        local, bucket, bucket2, out = (
            f"file://{base}/{d}" for d in ("local", "bucket", "bucket2", "out")
        )
        calls = {
            "publish": lambda: pipe.publish(
                bucket_name=bucket,
                source_url=local,
                source_file_name=PUBLISH_RX,
                source_file_name_match_type="regex_match",
                destination_folder_name="in",
            ),
            "ingest": lambda: pipe.ingest(
                bucket_name=bucket,
                source_folder_name="in",
                source_file_name=INGEST_RX,
                source_file_name_match_type="regex_match",
                destination_url=out,
                destination_file_name=INGEST_NAME,
            ),
            "move": lambda: pipe.move(
                source_bucket_name=bucket,
                destination_bucket_name=bucket2,
                source_folder_name="in",
                source_file_name=".",
                source_file_name_match_type="regex_match",
                destination_folder_name="archive",
            ),
            "remove": lambda: pipe.remove(
                bucket_name=bucket2,
                source_folder_name="archive",
                source_file_name=".",
                source_file_name_match_type="regex_match",
            ),
        }
        walls = {}
        for v in VERBS:
            t0 = time.perf_counter()
            with tr.span(f"op.{v}", op=True) if traced else nullcontext():
                res = run.op(f"{self.name}.{v}", calls[v])
            walls[v] = time.perf_counter() - t0
            if check:
                run.check(f"{self.name}.{v}", self._check(v, base, corpus, res))
        shutil.rmtree(f"{base}/out", ignore_errors=True)
        return walls

    def _check(self, verb: str, base: str, corpus, res) -> list[str]:
        """Compare a verb's effect with what the reference semantics
        predict from the generated corpus alone."""
        if res is None:
            return ["verb raised"]
        src_of = {os.path.basename(o.rel): o for o in corpus}
        published = sorted(
            os.path.basename(o.rel)
            for o in corpus
            if re.search(PUBLISH_RX, os.path.join(base, "local", o.rel))
        )
        in_dir, arch = f"{base}/bucket/in", f"{base}/bucket2/archive"
        probs = []
        got_src = sorted(_local(s) for s, _ in res.files)
        if verb == "publish":
            want = sorted(os.path.join(base, "local", src_of[n].rel) for n in published)
            dest = _files(in_dir)
        elif verb == "ingest":
            names = [n for n in published if re.search(INGEST_RX, os.path.join(in_dir, n))]
            want = [os.path.join(in_dir, n) for n in names]
            head, _, tail = INGEST_NAME.partition(".")
            expect_names = {f"{head}_{i}.{tail}": n for i, n in enumerate(sorted(want), 1)}
            dest = _files(f"{base}/out")
            if self.run.fault == "verb_byte" and dest:
                _corrupt_one_byte(next(iter(dest.values())))
            if sorted(dest) != sorted(expect_names):
                probs.append(f"enumerated names {sorted(dest)[:5]}... != reference {sorted(expect_names)[:5]}...")
            for name, path in dest.items():
                n = os.path.basename(expect_names.get(name, ""))
                if n in src_of and _sha(path) != src_of[n].sha256:
                    probs.append(f"{name} differs from its source {n}")
        elif verb == "move":
            want = [os.path.join(in_dir, n) for n in published]
            dest = _files(arch)
            if _files(in_dir):
                probs.append(f"source not empty after move: {len(_files(in_dir))} files")
        else:  # remove
            want = [os.path.join(arch, n) for n in published]
            dest = {}
            if _files(arch):
                probs.append(f"{len(_files(arch))} files left after remove")
        if got_src != want:
            probs.append(f"matched {len(got_src)} files, re.search predicts {len(want)}")
        if verb in ("publish", "move"):
            if sorted(dest) != published:
                probs.append(f"destination holds {len(dest)} files, expected {len(published)}")
            for name, path in dest.items():
                if name in src_of and _sha(path) != src_of[name].sha256:
                    probs.append(f"{name} differs from its source")
        return probs

    def warm(self) -> None:
        """One unchecked cycle over the same corpus, so the measured
        cycles find the JVM's per-file paths compiled."""
        self._cycle(self.base, self.corpus, False, False)

    def units(self):
        return ["cycle"]

    def prime(self, _u) -> None:
        pass  # cycles are alike; alternating the order evens out warming

    def unit(self, _u, traced: bool) -> float:
        walls = self._cycle(self.base, self.corpus, traced, True)
        if traced:
            self.traced_cycles += 1
        else:
            self.walls.append(walls)
        return sum(walls.values())

    def wall(self, _pass_walls) -> float:
        """Cycle wall as the sum of each verb's median over the cycles:
        one slow call moves it less than a median of whole cycles."""
        return sum(_median([w[v] for w in self.walls]) for v in VERBS)

    def detail(self) -> dict[str, float]:
        pub = [o for o in self.corpus if o.rel.endswith(".csv")]
        hot = [o for o in pub if "_hot" in o.rel]
        files = 3 * len(pub) + len(hot)  # publish, move, remove + ingest
        nbytes = 2 * sum(o.size for o in pub) + sum(o.size for o in hot)
        wall = self.wall(None)
        out = {"verbs.wall_s": wall}
        out["verbs.files_per_s"] = files / wall if wall else 0.0
        out["verbs.mib_per_s"] = nbytes / (1 << 20) / wall if wall else 0.0
        for v in VERBS:
            out[f"verbs.{v}_s"] = _median([w[v] for w in self.walls])
        return out

    def layers(self, tr: Tracer, jobs) -> dict[str, float]:
        n = max(1, self.traced_cycles)
        selfs = tr.self_times()
        out = {}
        for layer, names in VERB_LAYERS.items():
            out[f"fs.{layer}_s"] = _self_sum(tr, names, selfs) / n
        entries = tr.counts["fs.list_entries"] / n
        list_incl = sum(s.dur for s in tr.by_name("fs.list")) / n
        out["fs.list_entries"] = entries
        out["fs.list_ms_per_entry"] = 1e3 * list_incl / entries if entries else 0.0
        out["fs.match_jobs"] = sum(s.jobs for s in tr.by_name("fs.match")) / n
        out["fs.match_hit_ratio"] = tr.counts["fs.match_hits"] / (entries * n) if entries else 0.0
        copies = [1e3 * s.dur for s in tr.by_name("fs.copy")]
        out["fs.copy_calls"] = len(copies) / n
        out["fs.copy_ms_p50"] = _pct(copies, 50)
        out["fs.copy_ms_p90"] = _pct(copies, 90)
        out["fs.fs_handle_calls"] = tr.counts["fs.fs_handle"] / n
        # blocking-step coverage: step self times over each verb's wall
        step_names = {x for names in VERB_LAYERS.values() for x in names}
        cover = []
        for v in VERBS:
            for s in tr.by_name(f"pipeline.{v}"):
                steps = _self_sum(tr, step_names, selfs, tr.descendants(s))
                cover.append(steps / s.dur if s.dur else 0.0)
        out["trace.verb_step_coverage"] = min(cover) if cover else 0.0
        return out


# ================================================================ panel


class QueryPanel:
    name = "query_panel"

    def __init__(self, run: Run):
        self.run = run
        self.keys = gen.panel_order(run.sizes.panel_keys, run.seed)
        self.key_walls: dict[str, float] = {}  # untraced
        self.traced: dict[str, dict[str, float]] = {}
        self.checked: set[str] = set()
        self.duck = None
        self.etl = DatasetEtl(run)

    def prepare(self) -> None:
        s, w = self.run.sizes, self.run.work
        self.sf_dir = gen.write_tables(os.path.join(w, "panel"), s.panel_sf, self.run.seed)
        self.warm_dir = gen.write_tables(os.path.join(w, "panel_warm"), WARM_SF, self.run.seed)
        self.etl.prepare()

    def instrument(self, tr: Tracer) -> None:
        # keys: the benchmark itself opens the build and sink spans
        self.plans = SinkPlans(self.run.spark)
        self.etl.instrument(tr)

    def warm(self) -> None:
        """A shuffle aggregate and a pandas UDF at toy scale: the JVM's
        first jobs and the Python workers' start-up land in set-up, not
        on whichever key the seed puts first."""
        from s3spark.registry import REGISTRY

        for key in WARM_KEYS:
            df = REGISTRY[key].fn(self.run.spark, self.warm_dir)
            df.write.format("noop").mode("overwrite").save()

    def units(self):
        return [*self.keys, "etl"]

    def prime(self, key: str) -> None:
        """Run a unit once at toy scale before its traced/untraced pair,
        so neither of the two pays the unit's first-run costs."""
        from s3spark.registry import REGISTRY

        if key == "etl":
            self.etl._round(self.warm_dir, os.path.join(self.run.work, "etl_prime"), False)
        else:
            REGISTRY[key].fn(self.run.spark, self.warm_dir).write.format("noop").mode("overwrite").save()

    def unit(self, key: str, traced: bool) -> float:
        if key == "etl":
            return self.etl.unit(key, traced)
        from s3spark import telemetry
        from s3spark.registry import REGISTRY

        run, tr = self.run, self.run.tracer
        box = {}

        def build_and_sink():
            t0 = time.perf_counter()
            with tr.span("query.build", job_group=True) if traced else nullcontext() as b:
                df = REGISTRY[key].fn(run.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                # read before the sink: the sink's analysis joins this tracker
                box["analysis"] = phase_ms(df._jdf.queryExecution(), ("analysis",))
                self.plans.active = True
            with tr.span("query.sink", job_group=True) if traced else nullcontext():
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            box.update(df=df, build=t1 - t0, sink=t2 - t1, build_span=b)

        t0 = time.perf_counter()
        with tr.span(f"op.{key}", op=True) if traced else nullcontext() as op:
            run.op(f"{self.name}.{key}", build_and_sink)
        wall = time.perf_counter() - t0
        if traced:
            done = self.plans.drain()
            self.plans.active = False
        if "df" not in box:
            return wall
        if traced:
            rec = {"wall": wall, "build": box["build"], "sink": box["sink"], "span": op}
            rec["build_jobs"] = box["build_span"].jobs
            rec.update(box["analysis"])
            # the sink is the last execution to end
            sink = done[-1] if done else None
            if sink is None:
                print(f"perfbench: no SQL execution seen for the {key} sink", file=sys.stderr)
            rec.update(phase_ms(sink, ("optimization", "planning")) if sink else {})
            rec.update(plan_counts(sink.executedPlan().toString() if sink else ""))
            splits = telemetry.RUN_SPLITS.get(key) or []
            for i, v in enumerate(splits[:2], 1):
                rec[f"run{i}"] = v
            self.traced[key] = rec
        else:
            self.key_walls[key] = wall
        if key not in self.checked:
            self.checked.add(key)
            run.check(f"{self.name}.{key}", self._check(key, box["df"]))
        return wall

    def _check(self, key: str, df) -> list[str]:
        """The tier-2 comparison (``tests.helpers.assert_same``): DuckDB
        oracle vs the key's output."""
        import duckdb
        from s3spark.registry import REGISTRY
        from tests.helpers import assert_same

        if self.duck is None:
            self.duck = duckdb.connect()
            for t in gen.TABLES:
                self.duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
        oracle = REGISTRY[key].oracle
        if self.run.fault == "oracle_row":
            # the oracle's first row replaced by a copy of its second
            oracle = f"""WITH o AS (SELECT *, row_number() OVER () AS rn__ FROM ({oracle}))
                SELECT * EXCLUDE (rn__) FROM o WHERE rn__ <> 1
                UNION ALL SELECT * EXCLUDE (rn__) FROM o WHERE rn__ = 2"""
        try:
            assert_same(df, self.duck, oracle, key)
        except AssertionError as e:
            return [str(e)]
        return []

    def wall(self, pass_walls) -> float:
        return _median(pass_walls)

    def detail(self) -> dict[str, float]:
        walls = [self.key_walls[k] for k in self.keys if k in self.key_walls]
        geo = math.exp(sum(math.log(w) for w in walls) / len(walls)) if walls else 0.0
        return {"panel.wall_s": sum(walls), "panel.geomean_key_s": geo, **self.etl.detail()}

    def layers(self, tr: Tracer, jobs) -> dict[str, float]:
        out = self.etl.layers(tr, jobs)
        agg: dict[str, float] = defaultdict(float)
        cover = []
        for key, rec in self.traced.items():
            stats = StageStats()
            for j in jobs_for(jobs, tr, rec["span"]):
                stats.add(j.stages)
            out[f"query.{key}.build_s"] = rec["build"]
            out[f"query.{key}.build_jobs"] = float(rec["build_jobs"])
            out[f"query.{key}.sink_s"] = rec["sink"]
            out[f"query.{key}.exchanges"] = rec["exchange"]
            out[f"query.{key}.shuffle_bytes"] = stats.shuffle_write_bytes
            cover.append((rec["build"] + rec["sink"]) / rec["wall"])
            agg["panel.build_s"] += rec["build"]
            agg["panel.sink_s"] += rec["sink"]
            for p in PHASES:
                agg[f"catalyst.{p}_ms"] += rec.get(f"{p}_ms", 0.0)
            for n in PLAN_NODES:
                agg[f"plan.{n}"] += rec[n]
            agg["streaming.run1_s"] += rec.get("run1", 0.0)
            agg["streaming.run2_s"] += rec.get("run2", 0.0)
            agg["panel.stages"] += stats.stages
            agg["panel.tasks"] += stats.tasks
            agg["panel.shuffle_write_bytes"] += stats.shuffle_write_bytes
            agg["panel.spill_bytes"] += stats.spill_bytes
            agg["panel.gc_ms"] += stats.gc_ms
            agg["panel.executor_run_ms"] += stats.run_ms
            agg["panel.executor_cpu_ms"] += stats.cpu_ms
        out.update(agg)
        out["trace.key_step_coverage"] = min(cover) if cover else 0.0
        return out


# ================================================================== ETL


class DatasetEtl:
    """The ETL round that closes each ``query_panel`` pass."""

    name = "query_panel.etl"

    def __init__(self, run: Run):
        self.run = run
        self.rounds: list[float] = []  # untraced walls
        self.traced: list[dict] = []
        self.rows = 0

    def prepare(self) -> None:
        s, w = self.run.sizes, self.run.work
        only = ("orders", "lineitem")
        self.in_dir = gen.write_tables(os.path.join(w, "etl_in"), s.etl_sf, self.run.seed, only)
        self.out_dir = os.path.join(w, "etl_out")
        self.in_bytes = sum(os.path.getsize(f"{self.in_dir}/{t}.parquet") for t in only)

    def instrument(self, tr: Tracer) -> None:
        from s3spark.pipeline import S3Pipeline

        tr.target(S3Pipeline, "read", "pipeline.read")
        tr.target(S3Pipeline, "write", "pipeline.write", job_group=True)

    def _round(self, in_dir: str, out_dir: str, traced: bool):
        from pyspark.sql import functions as F
        from s3spark.pipeline import S3Pipeline

        tr = self.run.tracer
        pipe = S3Pipeline(self.run.spark)
        dec = "decimal(15,2)"
        li = pipe.read(f"file://{in_dir}/lineitem.parquet")
        o = pipe.read(f"file://{in_dir}/orders.parquet")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            (F.col("l_extendedprice").cast(dec) * (1 - F.col("l_discount").cast(dec))).alias("revenue"),
            F.year("o_orderdate").alias("year"),
        )
        pipe.write(joined, f"file://{out_dir}", mode="overwrite", partition_by=["year"])
        with tr.span("etl.readback", job_group=True) if traced else nullcontext():
            t0 = time.perf_counter()
            back = pipe.read(f"file://{out_dir}")
            row = back.agg(F.count(F.lit(1)).alias("n"), F.sum("revenue").alias("rev")).first()
            readback = time.perf_counter() - t0
        return int(row["n"]), Decimal(row["rev"]), readback

    def unit(self, _u, traced: bool) -> float:
        run, tr = self.run, self.run.tracer
        t0 = time.perf_counter()
        with tr.span("op.etl_round", op=True) if traced else nullcontext() as op:
            res = run.op(f"{self.name}.write", self._round, self.in_dir, self.out_dir, traced)
        wall = time.perf_counter() - t0
        if res is not None:
            n, rev, readback = res
            run.check(f"{self.name}.readback", self._check(n, rev))
            self.rows = n
            if traced:
                self.traced.append({"span": op, "readback": readback})
        if not traced:
            self.rounds.append(wall)
        return wall

    def _check(self, n: int, rev: Decimal) -> list[str]:
        """Read-back row count and exact decimal revenue sum vs DuckDB."""
        if not hasattr(self, "expect"):
            import duckdb

            con = duckdb.connect()
            self.expect = con.execute(
                f"""SELECT count(*), sum(CAST(l_extendedprice AS DECIMAL(15,2))
                           * (1 - CAST(l_discount AS DECIMAL(15,2))))
                    FROM '{self.in_dir}/lineitem.parquet' l
                    JOIN '{self.in_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"""
            ).fetchone()
            con.close()
        want_n, want_rev = self.expect
        probs = []
        if n != want_n:
            probs.append(f"{n} rows read back, DuckDB {want_n}")
        if rev != Decimal(want_rev):
            probs.append(f"revenue {rev} != DuckDB {want_rev}")
        return probs

    def detail(self) -> dict[str, float]:
        wall = _median(self.rounds)
        return {"etl.wall_s": wall, "etl.rows_per_s": self.rows / wall if wall else 0.0}

    def layers(self, tr: Tracer, jobs) -> dict[str, float]:
        if not self.traced:
            return {}
        writes = tr.by_name("pipeline.write")
        n = len(self.traced)
        commits, shuffle = [], 0.0
        for s in writes:
            js = [j for j in jobs_for(jobs, tr, s) if j.end_s]
            if js:  # driver-side commit: after the last write job ends
                commits.append(tr.epoch(s.end) - max(j.end_s for j in js))
            shuffle += sum(j.stages.shuffle_write_bytes for j in js)
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self.out_dir) for f in fs if f.endswith(".parquet")
        ]
        out_bytes = float(sum(os.path.getsize(f) for f in files))
        return {
            "etl.write_s": _median([s.dur for s in writes]),
            "etl.write_jobs": sum(s.jobs for s in writes) / n,
            "etl.commit_s": _median(commits),
            "etl.shuffle_write_bytes": shuffle / n,
            "etl.output_files": float(len(files)),
            "etl.output_bytes": out_bytes,
            "etl.bytes_per_input_byte": out_bytes / self.in_bytes,
            "etl.readback_s": _median([r["readback"] for r in self.traced]),
        }


WORKLOADS = {w.name: w for w in (VerbCycle, QueryPanel)}


@dataclass
class Measured:
    pass_walls: list[float] = field(default_factory=list)  # untraced
    untraced_s: float = 0.0
    traced_s: float = 0.0


def measure(wl, seconds: float, trace: bool, seed: int) -> Measured:
    """Repeat passes until ``seconds`` have elapsed (at least one). In a
    traced run each unit is primed, then runs untraced and traced,
    alternating which goes first, with the tracer's wrappers installed
    only for the traced one."""
    tr = wl.run.tracer
    m = Measured()
    start = time.perf_counter()
    p = 0
    while True:
        wall_u = 0.0
        for j, u in enumerate(wl.units()):
            order = (False, True) if (seed + p + j) % 2 == 0 else (True, False)
            if trace:
                wl.prime(u)
            for traced in order if trace else (False,):
                if traced:
                    tr.install()
                try:
                    w = wl.unit(u, traced)
                finally:
                    tr.uninstall()
                print(f"perfbench: {wl.name} {u} {'traced' if traced else 'untraced'} {w:.3f}s", file=sys.stderr)
                if traced:
                    m.traced_s += w
                else:
                    m.untraced_s += w
                    wall_u += w
        m.pass_walls.append(wall_u)
        p += 1
        if time.perf_counter() - start >= seconds:
            return m
