"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

A workload object owns its inputs under the run directory and exposes

* ``generate()``  write the seeded inputs and return their sizes;
* ``run_pass()``  run the workload's fixed operation list once, compare
  every output with its reference outside the timed spans, and return
  the pass wall (the sum of the timed operations);
* ``report(i)``   the workload's own figures for pass ``i``;
* ``replay()``    (traced runs) the pipeline's stage calls one at a time;
* ``layers(i)``   per-layer figures of pass ``i``.

Every call into the engine runs inside a ``Tracer`` span and a Spark job
group named ``<phase><step>``, so the event log attributes jobs, stages
and task time to the same steps the spans time.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
from urllib.parse import parse_qs, urlparse

from perfbench import gen
from perfbench.trace import tail


class CheckFailed(Exception):
    """An engine output differs from its reference."""


class Ops:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn, *args):
        """Count one operation; an exception marks it failed and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - a failed op is reported, not fatal
            self.fail(label, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None

    def check(self, label: str, fn, *args) -> None:
        """Run an output check of an operation already counted; any
        exception, a ``CheckFailed`` or a read of a missing output, fails it."""
        try:
            fn(*args)
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation
            self.fail(label, f"{type(exc).__name__}: {str(exc)[:300]}")

    def fail(self, label: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{label}: {why}")


def digest(df) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a DataFrame."""
    from pyspark.sql import functions as F

    n, h = df.select(
        F.count("*"), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31)))
    ).first()
    return int(n), int(h or 0)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- etl_stream: pubmed pipeline, then a streaming drain ---------------------

N_ARTICLES = 1000
BACKLOG_FILES = 2
EVENTS_PER_FILE = 1500
STREAM_JOBS = ("session_windows", "stateful_sessionize")
RETRY_SHARE = 0.1


def _unit_hash(s: str) -> float:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 2**32


class PageFetcher:
    """The ``fetcher`` seam: serves pre-generated NDJSON pages from disk.

    It runs inside Python workers, so calls are counted by appending one
    byte per call to files under ``counter_dir`` (one-byte O_APPEND
    writes are atomic across processes). A page whose key hashes below
    ``retry_share`` answers every other call with an ``ingest`` retry
    marker, so each fetch of it costs one retry and then succeeds.
    """

    def __init__(self, pages_dir: str, counter_dir: str, seed: int, retry_share: float):
        self.pages_dir = pages_dir
        self.counter_dir = counter_dir
        self.seed = seed
        self.retry_share = retry_share
        self._calls: dict[str, int] = {}

    def _bump(self, name: str) -> None:
        fd = os.open(os.path.join(self.counter_dir, name), os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        try:
            os.write(fd, b".")
        finally:
            os.close(fd)

    def __call__(self, url: str) -> str:
        from mrc_spark_jobs_pubmed_spark.pipeline.ingest import RETRY_MARKERS

        q = parse_qs(urlparse(url).query)
        key = f"{q['year'][0]}_{q['month'][0]}_{q['retstart'][0]}"
        self._bump("calls")
        if _unit_hash(f"{self.seed}:{key}") < self.retry_share:
            n = self._calls[key] = self._calls.get(key, 0) + 1
            if n % 2:
                self._bump("retries")
                return RETRY_MARKERS[n // 2 % len(RETRY_MARKERS)]
        with open(os.path.join(self.pages_dir, f"{key}.ndjson")) as f:
            return f.read()

    def counts(self) -> tuple[int, int]:
        """(calls, retry answers) since the last ``reset``."""
        def size(name):
            p = os.path.join(self.counter_dir, name)
            return os.path.getsize(p) if os.path.exists(p) else 0

        return size("calls"), size("retries")

    def reset(self) -> None:
        _fresh_dir(self.counter_dir)


class PageSearch:
    """The ``search`` seam: (year, month) -> (fetch_url, total_records)."""

    def __init__(self, totals: dict[int, int]):
        self.totals = totals

    def __call__(self, year: int, month: int) -> tuple[str, int]:
        return f"bench://efetch?year={year}&month={month}", self.totals[month]


class EtlStream:
    """``pipeline.run_pipeline`` into an empty directory (fresh), again into
    the same directory (resume), then the events backlog drained by the
    streaming jobs with ``availableNow``, one file per micro-batch."""

    name = "etl_stream"

    def __init__(self, ctx):
        self.ctx = ctx
        d = ctx.run_dir
        self.pages_dir, self.backlog = f"{d}/in/pages", f"{d}/in/backlog"
        self.passes: list[dict] = []  # per pass: part walls, fetch counts, stream progress
        self.ref: dict = {}

    def generate(self) -> dict:
        seed = self.ctx.seed
        self.pages = gen.pubmed_pages(seed, self.pages_dir, N_ARTICLES)
        self.events = gen.event_backlog(seed, self.backlog, BACKLOG_FILES, EVENTS_PER_FILE)
        self.fetcher = PageFetcher(self.pages_dir, f"{self.ctx.run_dir}/counters", seed,
                                   RETRY_SHARE)
        self.search = PageSearch(self.pages["totals"])
        return {"pubmed": self.pages["sizes"] | {"pages": self.pages["pages"]},
                "events_backlog": self.events}

    # -- pipeline --

    def _run_pipeline(self, out: str, phase: str, rec: dict) -> None:
        from mrc_spark_jobs_pubmed_spark.pipeline.run import run_pipeline

        ctx = self.ctx
        self.fetcher.reset()
        year = self.pages["year"]
        ctx.group(f"etl:{phase}")
        with ctx.tracer.span(f"pipeline.run_pipeline.{phase}") as s:
            ctx.ops.run(f"run_pipeline[{phase}]", run_pipeline, ctx.spark, out, year, year,
                        self.search, self.fetcher)
        rec[phase] = s["end"] - s["start"]
        rec[f"fetch_{phase}"] = self.fetcher.counts()
        ctx.ops.attempted += self.pages["pages"]  # each page fetch is an operation

    def _check_digests(self, out: str):
        """Keyword sinks identical after fresh and after resume; returns the
        keywords_v2 frame."""
        from pyspark.sql import types as T

        spark = self.ctx.spark
        kw2 = spark.read.schema(T.StructType([
            T.StructField("pmid", T.StringType()), T.StructField("keywords", T.StringType()),
            T.StructField("year", T.IntegerType())])).csv(f"{out}/keywords_v2")
        digests = (digest(spark.read.parquet(f"{out}/keywords_v1")), digest(kw2))
        if self.ref.setdefault("kw_digests", digests) != digests:
            raise CheckFailed(f"keyword digests {digests} != {self.ref['kw_digests']}")
        return kw2

    def _check_fresh(self, out: str, rec: dict) -> None:
        """Articles = generated records with a pmid and an abstract, every
        page in the sink, one keywords_v2 row per article."""
        from pyspark.sql import functions as F

        want, pages = self.pages["expected_articles"], self.pages["pages"]
        articles = self.ctx.spark.read.parquet(f"{out}/articles")
        rec["n_fresh"], got_pages = articles.agg(F.count("*"), F.countDistinct("page_key")).first()
        self.ref["failed_pages"] = pages - got_pages
        for _ in range(pages - got_pages):  # each page fetch is an operation
            self.ctx.ops.fail("pipeline.page", "a page has no rows in the articles sink")
        if rec["n_fresh"] != want:
            raise CheckFailed(f"{rec['n_fresh']} articles, expected {want}")
        n_kw2, n_pmid = self._check_digests(out).agg(F.count("*"), F.countDistinct("pmid")).first()
        if not n_kw2 == n_pmid == want:
            raise CheckFailed(f"keywords_v2 has {n_kw2} rows / {n_pmid} pmids, expected {want}")

    def _check_resume(self, out: str, rec: dict) -> None:
        """Resume appends nothing and rewrites identical keyword sinks."""
        rec["appended"] = self.ctx.spark.read.parquet(f"{out}/articles").count() - rec["n_fresh"]
        if rec["appended"]:
            raise CheckFailed(f"resume appended {rec['appended']} rows")
        self._check_digests(out)
        rec["files_written"], rec["bytes_written"] = _tree_size(out)

    def _etl(self, rec: dict) -> None:
        ctx = self.ctx
        out = _fresh_dir(f"{ctx.run_dir}/out/pubmed")
        for phase, check in (("fresh", self._check_fresh), ("resume", self._check_resume)):
            self._run_pipeline(out, phase, rec)
            with ctx.tracer.span("check"):
                ctx.group("check")
                ctx.ops.check(f"pipeline[{phase}]", check, out, rec)

    # -- streaming --

    def _drain(self, job: str) -> tuple[list[dict], str]:
        from mrc_spark_jobs_pubmed_spark.sources.catalog import TABLE_SCHEMAS
        from mrc_spark_jobs_pubmed_spark.streaming import jobs as J

        ctx = self.ctx
        out = _fresh_dir(f"{ctx.run_dir}/out/stream/{job}")
        ckpt = _fresh_dir(f"{ctx.run_dir}/ckpt/{job}")
        ctx.group(f"build:{job}")
        with ctx.tracer.span("plans.build", query=job):
            src = (ctx.spark.readStream.schema(TABLE_SCHEMAS["events"])
                   .option("maxFilesPerTrigger", "1").parquet(self.backlog))
            df = getattr(J, job)(src)
        ctx.group(f"stream:{job}")
        if job == "stateful_sessionize":
            # update mode into a noop sink: the drain times the Python state
            # seam (applyInPandasWithState), not a sink
            q = (df.writeStream.format("noop").outputMode("update")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
        else:
            q = J.run_to_files(df, out, ckpt)
        ctx.stream_runs[str(q.runId)] = ctx.phase  # the stream's jobs run under its run id
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception())[:300])
        return q.recentProgress, out

    def _stream(self, rec: dict) -> None:
        ctx = self.ctx
        for job in STREAM_JOBS:
            with ctx.tracer.span("streaming.drain", job=job) as s:
                got = ctx.ops.run(f"stream[{job}]", self._drain, job)
            rec[f"drain_{job}"] = s["end"] - s["start"]
            if got is None:
                continue
            progress, out = got
            rec[f"progress_{job}"] = progress
            with ctx.tracer.span("check"):
                ctx.group("check")
                ctx.ops.check(f"stream[{job}]", self._check_stream, job, progress, out)

    def _check_stream(self, job: str, progress: list[dict], out: str) -> None:
        """Every backlog row read, none dropped as late, and each emitted row
        equal to a row of the batch form of the same job over the same files
        (append mode emits only sessions the watermark has closed, so the
        stream's rows are a non-empty subset of the batch rows)."""
        from mrc_spark_jobs_pubmed_spark.sources.catalog import TABLE_SCHEMAS
        from mrc_spark_jobs_pubmed_spark.streaming import jobs as J

        rows = sum(p["numInputRows"] for p in progress)
        if rows != self.events["rows"]:
            raise CheckFailed(f"read {rows} rows, the backlog has {self.events['rows']}")
        late = _stream_stats(progress)["late"]
        if late:
            raise CheckFailed(f"{late} rows dropped as late")
        if job == "stateful_sessionize":
            return  # noop sink: nothing to compare
        spark = self.ctx.spark
        batch = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(self.backlog)
        got = spark.read.parquet(out)
        want = set(map(tuple, getattr(J, job)(batch, with_watermark=False)
                       .select(*got.columns).collect()))
        got = list(map(tuple, got.collect()))
        if not got or len(set(got)) != len(got) or not set(got) <= want:
            raise CheckFailed(f"{len(got)} rows emitted, {len(set(got) - want)} not in the "
                              f"batch result of {len(want)}")

    # -- pass --

    def run_pass(self) -> float:
        rec: dict = {}
        self._etl(rec)
        self._stream(rec)
        self.passes.append(rec)
        return rec["fresh"] + rec["resume"] + sum(rec[f"drain_{j}"] for j in STREAM_JOBS)

    def _batches(self, rec: dict) -> list[float]:
        return [p["durationMs"].get("triggerExecution", 0) / 1000
                for j in STREAM_JOBS for p in rec.get(f"progress_{j}", ()) if p["numInputRows"]]

    def report(self, i: int) -> dict:
        rec, arts = self.passes[i], self.pages["sizes"]["articles"]
        t = tail(self._batches(rec))
        drain = sum(rec[f"drain_{j}"] for j in STREAM_JOBS)
        return {
            "etl_fresh_articles_per_s": (arts / rec["fresh"], "1/s"),
            "etl_resume_articles_per_s": (arts / rec["resume"], "1/s"),
            "stream_events_per_s": (self.events["rows"] * len(STREAM_JOBS) / drain, "1/s"),
            "stream_batch_p50_s": (t["p50"], "s"),
            _tail_label("stream_batch_tail_s", t): (t["value"], "s"),
        }

    def replay(self) -> None:
        """``run_pipeline``'s stage calls one at a time, each in its own span."""
        from mrc_spark_jobs_pubmed_spark.pipeline import ingest, keywords, parse, sinks

        ctx, sp = self.ctx, self.ctx.tracer.span
        out = _fresh_dir(f"{ctx.run_dir}/out/replay")
        year = self.pages["year"]
        ctx.group("work_table")
        with sp("pipeline.work_table"):
            work = ingest.build_work_table(ctx.spark, year, year, self.search)
            fetched = ingest.fetch_pages(ingest.expand_pages(work), self.fetcher)
            articles = parse.parse_articles(fetched)
        ctx.group("articles_sink")
        with sp("pipeline.articles_sink"):
            sinks.idempotent_write(articles, ctx.spark, f"{out}/articles", "page_key",
                                   partition_by=("year",))
        ctx.group("kw1_sink")
        with sp("pipeline.kw1_sink"):
            sinks.write_partitioned(keywords.keywords_v1(articles), f"{out}/keywords_v1",
                                    mode="overwrite", n_chunks=5)
        ctx.group("kw2_sink")
        with sp("pipeline.kw2_sink"):
            sinks.write_partitioned(keywords.keywords_v2(articles).select("pmid", "keywords", "year"),
                                    f"{out}/keywords_v2", fmt="csv", mode="overwrite")

    def layers(self, i: int) -> dict:
        rec, tr = self.passes[i], self.ctx.tracer
        pages, arts = self.pages["pages"], self.pages["sizes"]["articles"]
        (calls_f, retries_f), (calls_r, retries_r) = rec["fetch_fresh"], rec["fetch_resume"]
        t = tail(self._batches(rec))
        st = [_stream_stats(rec.get(f"progress_{j}", [])) for j in STREAM_JOBS]
        out = {
            "pipeline.fetch_calls": calls_f + calls_r,
            "pipeline.fetch_calls_per_page": (calls_f - retries_f) / pages,
            "pipeline.resume_fetch_calls_per_page": (calls_r - retries_r) / pages,
            "pipeline.retry_responses": retries_f + retries_r,
            "pipeline.failed_pages": self.ref.get("failed_pages", 0),
            "pipeline.work_table_s": tr.total("pipeline.work_table"),
            "pipeline.articles_sink_s": tr.total("pipeline.articles_sink"),
            "pipeline.kw1_sink_s": tr.total("pipeline.kw1_sink"),
            "pipeline.kw2_sink_s": tr.total("pipeline.kw2_sink"),
            "pipeline.articles": self.pages["expected_articles"],
            "pipeline.dropped_lines": self.pages["sizes"]["ndjson_lines"]
            - self.pages["expected_articles"],
            "pipeline.resume_rows_appended": rec.get("appended", 0),
            "pipeline.files_written": rec.get("files_written", 0),
            "pipeline.bytes_written_per_input_byte": rec.get("bytes_written", 0)
            / self.pages["sizes"]["ndjson_bytes"],
            "pipeline.fresh_articles_per_s": arts / rec["fresh"],
            "pipeline.resume_articles_per_s": arts / rec["resume"],
            "streaming.events_per_s": self.events["rows"] * len(STREAM_JOBS)
            / sum(rec[f"drain_{j}"] for j in STREAM_JOBS),
            "streaming.batch_p50_s": t["p50"],
            "streaming.batch_tail_s": t["value"],
            "streaming.batches": sum(s["batches"] for s in st),
            "streaming.state_rows": sum(s["state_rows"] for s in st),
            "streaming.state_bytes": sum(s["state_bytes"] for s in st),
            "streaming.commit_s": sum(s["commit_s"] for s in st),
            "streaming.late_rows_dropped": sum(s["late"] for s in st),
            "spark.plan_s": sum(s["planning_s"] for s in st),
        }
        for j in STREAM_JOBS:
            out[f"streaming.{j}.events_per_s"] = self.events["rows"] / rec[f"drain_{j}"]
        return out


def _tail_label(name: str, t: dict) -> str:
    """``name (p95 of 240 batches)``, or ``(max of 4 batches)`` when fewer
    than 20 batches leave no percentile with ten beyond it."""
    where = f"p{t['pct']}" if t["pct"] else "max"
    return f"{name} ({where} of {t['n']} batches)"


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, leaving out markers and checksums."""
    files = nbytes = 0
    for root, _d, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, f))
    return files, nbytes


def _stream_stats(progress: list[dict]) -> dict:
    ops = [o for p in progress for o in p.get("stateOperators", ())]
    last = progress[-1].get("stateOperators", ()) if progress else ()
    return {
        "batches": sum(1 for p in progress if p["numInputRows"]),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in last),
        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last),
        "commit_s": (sum(p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
                         for p in progress) + sum(o.get("commitTimeMs", 0) for o in ops)) / 1000,
        "planning_s": sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / 1000,
        "late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


# --- queries: registry queries over the seeded fixture ----------------------

SF = 0.01
RELATIONAL = ("rel_q3_shipping_priority", "rel_q18_big_orders", "rel_q21_waiting_suppliers")
DEDUP_GRAPH = ("dedup_fuzzy_keep_best", "dedup_jaccard_top_pairs", "graph_label_propagation")


def _driver_check():
    """``scripts/driver_check.py`` (its ``canon`` normalisation), loaded by path."""
    spec = importlib.util.spec_from_file_location("driver_check", "scripts/driver_check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Queries:
    """Registry queries in a fixed order, each finished with a ``noop`` write
    and then checked against its DuckDB oracle SQL."""

    name = "queries"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = f"{ctx.run_dir}/in/sf"
        self.passes: list[dict] = []
        self.duck = None

    def generate(self) -> dict:
        return {"fixture": gen.star_fixture(self.ctx.seed, self.sf_dir, SF)}

    def _one(self, name: str) -> float:
        from mrc_spark_jobs_pubmed_spark import plans

        ctx, sp = self.ctx, self.ctx.tracer.span
        ctx.group(f"build:{name}")
        with sp("plans.build", query=name) as s0:
            df = plans.get(name).fn(ctx.spark, self.sf_dir)
        ctx.group(f"plan:{name}")
        with sp("spark.plan", query=name):
            df._jdf.queryExecution().executedPlan()
        ctx.group(f"exec:{name}")
        with sp("spark.exec", query=name) as s1:
            df.write.format("noop").mode("overwrite").save()
        with sp("check"):
            ctx.group("check")
            ctx.ops.check(name, lambda: self.check(name, df.toPandas()))
        return s1["end"] - s0["start"]

    def check(self, name: str, spdf) -> None:
        """Compare a result with the query's oracle SQL the way
        ``scripts/driver_check.py`` does: columns, row count, values
        normalised by its ``canon``, and dtype kinds."""
        from mrc_spark_jobs_pubmed_spark import plans

        if self.duck is None:
            self._oracle_setup()
        oracle = plans.all_oracles().get(name)
        if oracle is None:
            raise CheckFailed(f"{name}: no oracle SQL registered")
        dpdf = self.duck.execute(oracle).df()
        if sorted(spdf.columns) != sorted(dpdf.columns) or len(spdf) != len(dpdf):
            raise CheckFailed(f"{name}: shape {spdf.shape} vs oracle {dpdf.shape}")
        if self.dc.canon(spdf) != self.dc.canon(dpdf):
            raise CheckFailed(f"{name}: values differ from the oracle")
        bad = [c for c in spdf.columns if spdf.dtypes[c].kind != dpdf.dtypes[c].kind]
        if bad:
            raise CheckFailed(f"{name}: dtype kind differs on {bad}")

    def _oracle_setup(self) -> None:
        import duckdb

        self.dc = _driver_check()
        self.duck = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            self.duck.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                              f"SELECT * FROM read_parquet('{self.sf_dir}/{f}')")

    def run_pass(self) -> float:
        rec = {name: self.ctx.ops.run(name, self._one, name) for name in RELATIONAL + DEDUP_GRAPH}
        self.passes.append(rec)
        return sum(v or 0.0 for v in rec.values())

    def report(self, i: int) -> dict:
        rec = self.passes[i]
        return {
            "relational_pass_s": (sum(rec[q] or 0.0 for q in RELATIONAL), "s"),
            "dedup_graph_pass_s": (sum(rec[q] or 0.0 for q in DEDUP_GRAPH), "s"),
        } | {f"query_s[{q}]": (v, "s") for q, v in rec.items() if v is not None}

    def replay(self) -> None:
        """Nothing to replay: a pass already runs one query at a time."""

    def layers(self, i: int) -> dict:
        rec = self.passes[i]
        return {"plans.relational_s": sum(rec[q] or 0.0 for q in RELATIONAL),
                "plans.dedup_graph_s": sum(rec[q] or 0.0 for q in DEDUP_GRAPH)}


WORKLOADS = {"etl_stream": EtlStream, "queries": Queries}
