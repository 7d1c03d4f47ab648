"""The benchmark workloads: set-up, the closed-loop timed phase, and the
output checks.

Each workload is one client that issues its next operation only after
the previous one returned. An operation is a *write* (a call that
changes stored state) or a *read* (a call that only returns results);
their latencies are kept apart. Checks run after the timed phase and
never inside an operation's timing.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import itertools
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen

# Input sizes. Operation cost on this engine is dominated by a per-job
# driver floor, so these are picked for a steady run in a short window,
# not for volume: with --seconds 5 every run times exactly one round, so
# a run's sample mix does not change with host speed.
ETL_CITIES = 500
ETL_FIXTURE_DAYS = 6
CORPUS_DOCS = 5000  # rows of the documents table at sf0.1
CORPUS_BATCH = 500  # the table in 10 batches; the first bootstraps the store
PASSAGE_MIN_RUN = 16
CORPUS_BAND_BUCKETS = 8

VIEWS = (
    "daily_weather_summary",
    "latest_weather",
    "seasonal_weather_trends",
    "data_summary",
    "daily_summary_one_date",
)


class Client:
    """One closed-loop client: times each operation and counts failures."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.latency: dict[str, list[float]] = {"write": [], "read": []}
        self.op_rows = 0
        self.op_seconds = 0.0
        self.attempted = 0
        self.failed = 0
        self.rounds: list[list[int]] = []  # top-level span indices per round
        self.collect_s: list[float] = []  # status-store reads per round

    def op(self, kind: str, span: str, fn, rows: int = 0):
        self.attempted += 1
        ctx = self.tracer.span(span) if self.tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        dt_s = time.perf_counter() - t0
        self.latency[kind].append(dt_s)
        self.op_seconds += dt_s
        self.op_rows += rows
        return out

    def loop(self, seconds: float, round_fn, max_rounds: int | None = None) -> None:
        """Run whole rounds until ``seconds`` have passed (at least one)
        or ``max_rounds`` are done."""
        deadline = time.perf_counter() + seconds
        rounds = range(max_rounds) if max_rounds is not None else itertools.count()
        for r in rounds:
            if r and time.perf_counter() >= deadline:
                break
            first = len(self.tracer.spans) if self.tracer else 0
            round_fn(r)
            if self.tracer:
                spans = self.tracer.spans[first:]
                t0 = time.perf_counter()
                self.tracer.collect(spans)
                self.collect_s.append(time.perf_counter() - t0)
                self.rounds.append(
                    [first + i for i, s in enumerate(spans) if s.parent is None]
                )
            if self.failed:
                break


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _span_medians(tracer, name: str) -> dict[str, float]:
    spans = [s for s in tracer.spans if s.name == name and s.stats]
    if not spans:
        return {"s": 0.0, "jobs": 0.0, "driver_gap_s": 0.0}
    return {
        "s": median([s.seconds for s in spans]),
        "jobs": median([s.stats["jobs"] for s in spans]),
        "driver_gap_s": median([s.stats["driver_gap_s"] for s in spans]),
    }


def _per_round(tracer, rounds, key: str) -> float:
    return median(
        [sum(tracer.spans[i].stats[key] for i in r) for r in rounds]
    )


def common_layer_metrics(client) -> dict[str, float]:
    t = client.tracer
    top = [i for r in client.rounds for i in r]
    wall = sum(t.spans[i].seconds for i in top)
    return {
        "spark.jobs": _per_round(t, client.rounds, "jobs"),
        "spark.driver_gap_s": _per_round(t, client.rounds, "driver_gap_s"),
        "spark.executor_run_s": _per_round(t, client.rounds, "executor_run_s"),
        "trace.self_share": t.boundary_s / wall if wall else 0.0,
        "trace.collect_s": median(client.collect_s),
        "trace.write_p50_s": median(client.latency["write"]),
        "trace.read_p50_s": median(client.latency["read"]),
    }


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------


class EtlDaily:
    """Daily batches through ``pipeline.run_pipeline`` into a multi-week
    warehouse, each followed by the reporting reads over the stored table.

    Set-up loads ``ETL_FIXTURE_DAYS`` days of readings as one bulk batch
    (the fresh-table write path of ``merge_upsert``). A timed round is
    one write (the day's batch, which also re-sends corrections of the
    previous day, so the update path runs) and five reads (the reference
    views, and the daily summary pruned to the new day). The first timed
    round is also the first call of the update path and of the views: a
    separate warm-up round would not fit the run-time budget.
    """

    name = "etl_daily"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.feed = gen.WeatherFeed(seed, ETL_CITIES)
        self.wh = os.path.join(work, "warehouse")
        self.client = Client(tracer)
        self.batches: list[str] = []  # every batch given to run_pipeline
        self.last_reads: dict[str, list] = {}

    # -- inputs -------------------------------------------------------------

    def _write_day(self, day: int) -> tuple[str, int]:
        path = os.path.join(self.work, f"raw_day{day:03d}.parquet")
        return path, self.feed.write_batch(day, path)

    def _write_bulk(self) -> str:
        path = os.path.join(self.work, "raw_bulk")
        os.makedirs(path)
        for d in range(ETL_FIXTURE_DAYS):
            pq.write_table(
                self.feed.batch(d, corrections=False),
                os.path.join(path, f"day{d:03d}.parquet"),
            )
        return path

    # -- operations ---------------------------------------------------------

    def _raw(self, path: str):
        from etl_weather_data_pipeline_spark.schemas import RAW_SCHEMA

        return self.spark.read.schema(RAW_SCHEMA).parquet(path)

    def _load(self, path: str):
        from etl_weather_data_pipeline_spark.pipeline import run_pipeline

        run_pipeline(self.spark, self._raw(path), self.wh, source_info=path)
        self.batches.append(path)

    def _report(self, name: str, day: int) -> list:
        from etl_weather_data_pipeline_spark.plans import views
        from pyspark.sql import functions as F

        w = self.spark.read.parquet(os.path.join(self.wh, "weather_data"))
        if name == "daily_summary_one_date":
            w = w.filter(F.col("date") == F.lit(_day_date(day)))
            return views.daily_weather_summary(w).collect()
        return getattr(views, name)(w).collect()

    def _round(self, day: int) -> None:
        client = self.client
        path, rows = self._write_day(day)
        client.op("write", "pipeline.run_pipeline", lambda: self._load(path), rows)
        for v in VIEWS:
            out = client.op("read", f"views.{v}", lambda: self._report(v, day))
            if out is not None:
                self.last_reads[v] = out

    # -- phases -------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Write the bulk input (fixture), then load it (warm-up: the
        first, cold run of the pipeline and the fresh-table path)."""
        t0 = time.perf_counter()
        bulk = self._write_bulk()
        t1 = time.perf_counter()
        self._load(bulk)
        return {"fixture_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def run(self, seconds: float) -> None:
        c = self.client
        if c.tracer:
            self._trace_layers(c.tracer)
        try:
            c.loop(seconds, lambda r: self._round(ETL_FIXTURE_DAYS + r))
        finally:
            if c.tracer:
                c.tracer.unpatch()

    @staticmethod
    def _trace_layers(tracer) -> None:
        from etl_weather_data_pipeline_spark import pipeline

        tracer.patch(pipeline, "quality_metrics", "quality.metrics")
        tracer.patch(pipeline, "merge_upsert", "sinks.merge_upsert")
        tracer.patch(pipeline, "append_quality_metrics", "sinks.history_append")
        tracer.patch(pipeline, "append_load_history", "sinks.history_append")

    # -- checks -------------------------------------------------------------

    def check(self) -> list[str]:
        """Return the failed checks (empty when the outputs are right).

        The expected table is the latest-wins union of the per-batch
        transform outputs. DuckDB computes those outputs with the
        transform's SQL mirror (``plans/weather_demo.py``, the one the
        oracle gate checks column for column) and compares the result
        with the stored table row for row.
        """
        import duckdb

        from etl_weather_data_pipeline_spark.plans import weather_demo as demo
        from etl_weather_data_pipeline_spark.schemas import ENRICHED_COLUMNS
        from etl_weather_data_pipeline_spark.sinks.writers import UPSERT_KEYS

        n = len(self.batches)
        cols = ", ".join(ENRICHED_COLUMNS)
        keys = ", ".join(UPSERT_KEYS)
        per_batch = []
        for i, p in enumerate(self.batches):
            files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            raw = (
                "SELECT * REPLACE (CAST(timestamp AS TIMESTAMP) AS timestamp) "
                f"FROM read_parquet('{files}')"
            )
            per_batch.append(
                f"SELECT {cols}, {i} AS batch FROM "
                f"({demo._oracle().replace(demo._O_RAW, raw)})"
            )
        stored = os.path.join(self.wh, "weather_data", "**", "*.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.execute(
                f"CREATE VIEW stored AS SELECT {cols} FROM "
                f"read_parquet('{stored}', hive_partitioning = true)"
            )
            con.execute(
                f"CREATE VIEW expected AS SELECT {cols} FROM ("
                f"SELECT *, row_number() OVER (PARTITION BY {keys} "
                f"ORDER BY batch DESC) AS rn FROM ("
                + " UNION ALL ".join(per_batch)
                + ")) WHERE rn = 1"
            )
            missing, extra, rows, distinct = con.execute(
                "SELECT (SELECT count(*) FROM (FROM expected EXCEPT ALL FROM stored)),"
                " (SELECT count(*) FROM (FROM stored EXCEPT ALL FROM expected)),"
                " (SELECT count(*) FROM stored),"
                f" (SELECT count(*) FROM (SELECT DISTINCT {keys} FROM stored))"
            ).fetchone()
        finally:
            con.close()
        bad = []
        if missing or extra:
            bad.append(
                f"weather_data vs latest-wins union of batch transforms: "
                f"{missing} rows missing, {extra} unexpected"
            )
        if rows != distinct:
            bad.append(f"natural key repeated: {rows} rows, {distinct} keys")
        hist = pq.read_table(os.path.join(self.wh, "load_history"))
        ok = hist.column("status").to_pylist().count("success")
        if ok != n or hist.num_rows != n:
            bad.append(f"load_history: {ok} success rows for {n} batches")
        nq = pq.read_table(os.path.join(self.wh, "data_quality_metrics")).num_rows
        if nq != n:
            bad.append(f"data_quality_metrics: {nq} rows for {n} batches")
        bad += self._check_views()
        return bad

    def _check_views(self) -> list[str]:
        import duckdb

        from etl_weather_data_pipeline_spark.plans import weather_demo as demo

        files = os.path.join(self.wh, "weather_data", "**", "*.parquet")
        src = f"SELECT * FROM read_parquet('{files}', hive_partitioning = true)"
        oracle = {q.name: q.oracle for q in demo.QUERIES}
        prefix = f"WITH enriched AS ({demo._oracle()})"
        body = {
            "daily_weather_summary": oracle["weather_daily_summary"],
            "latest_weather": oracle["weather_latest"],
            "seasonal_weather_trends": oracle["weather_seasonal_trends"],
            "data_summary": prefix + f"""
            SELECT COUNT(*) AS total_records,
                   COUNT(DISTINCT city) AS unique_cities,
                   COUNT(DISTINCT country) AS unique_countries,
                   MIN(timestamp) AS earliest, MAX(timestamp) AS latest,
                   {demo._o_avg2('temperature')} AS avg_temperature,
                   {demo._o_avg2('humidity')} AS avg_humidity,
                   {demo._o_avg2('quality_score')} AS avg_quality_score
            FROM enriched""",
        }
        last_day = _day_date(ETL_FIXTURE_DAYS + len(self.batches) - 2)
        body["daily_summary_one_date"] = (
            f"SELECT * FROM ({body['daily_weather_summary']}) "
            f"WHERE date = DATE '{last_day.isoformat()}'"
        )
        bad = []
        con = duckdb.connect()
        try:
            for v in VIEWS:
                sql = body[v].replace(prefix, f"WITH enriched AS ({src})")
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                want = _canon(cols, cur.fetchall())
                rows = self.last_reads.get(v, [])
                got = _canon(rows[0].__fields__ if rows else cols,
                             [tuple(r) for r in rows])
                if got != want:
                    bad.append(
                        f"view {v}: spark {len(got)} rows != duckdb {len(want)}"
                    )
        finally:
            con.close()
        return bad

    # -- metrics ------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        t = self.client.tracer
        up = _span_medians(t, "sinks.merge_upsert")
        runs = [i for i, s in enumerate(t.spans) if s.name == "pipeline.run_pipeline"]

        def children(i: int, name: str) -> list:
            return [c for c in t.spans if c.parent == i and c.name == name]

        hist = [sum(c.seconds for c in children(i, "sinks.history_append")) for i in runs]
        amp = []
        for i, path in zip(runs, self.batches[-len(runs):]):
            ups = children(i, "sinks.merge_upsert")
            if ups:
                rows = pq.ParquetFile(path).metadata.num_rows
                amp.append(ups[0].stats["output_records"] / rows)
        view_mb = [
            sum(
                t.spans[i].stats["input_bytes"]
                for i in r
                if t.spans[i].name.startswith("views.")
            )
            / 1e6
            for r in self.client.rounds
        ]
        out = {
            "quality.metrics_s": _span_medians(t, "quality.metrics")["s"],
            "sinks.merge_upsert_s": up["s"],
            "sinks.merge_upsert_jobs": up["jobs"],
            "sinks.merge_upsert_driver_gap_s": up["driver_gap_s"],
            "sinks.history_append_s": median(hist),
            "sinks.rows_written_per_batch_row": median(amp),
            "sinks.warehouse_files": float(len(glob.glob(
                os.path.join(self.wh, "weather_data", "**", "*.parquet"),
                recursive=True,
            ))),
            "pipeline.self_s": median([t.self_seconds(i) for i in runs]),
            "views.input_mb": median(view_mb),
        }
        for v in VIEWS:
            out[f"views.{v}_s"] = _span_medians(t, f"views.{v}")["s"]
        return out


def _day_date(day: int) -> dt.date:
    return (gen.BASE_DAY + dt.timedelta(days=day)).date()


def _canon(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    return v


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------


class CorpusIngest:
    """The LLM-data sink: document batches judged against the store
    (read) and then merged into it (write), through all admission stages
    with the passage stage on.

    The input is a ``CORPUS_DOCS``-row documents table (``gen.documents``)
    split by a seeded shuffle into ``CORPUS_BATCH``-row batches. Set-up
    bootstraps the store with the first (the fresh-store merge path). A
    timed round is one judge and one merge of the next batch; a batch
    file is written when its round starts, outside the operations'
    timing.
    """

    name = "corpus_ingest"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.store = os.path.join(work, "store")
        self.client = Client(tracer)
        self.docs = None  # the shuffled table; batch k is a slice of it
        self.paths: list[str] = []
        self.batch_ids: list[set[int]] = []
        self.judged: list[set[int]] = []
        self.admitted: list[set[int]] = []
        self.late_replay_admitted = 0.0

    def _kw(self) -> dict:
        return dict(band_buckets=CORPUS_BAND_BUCKETS, passage_min_run=PASSAGE_MIN_RUN)

    def _batch(self, k: int):
        return self.spark.read.parquet(self.paths[k])

    def _judge(self, k: int):
        from etl_weather_data_pipeline_spark.streaming.corpus import (
            judge_batch_against_store,
        )

        out = judge_batch_against_store(self._batch(k), self.store, **self._kw())
        return out["survivors"]

    def _merge(self, k: int) -> int:
        from etl_weather_data_pipeline_spark.streaming.corpus import (
            merge_batch_neardup_into_corpus,
        )

        return merge_batch_neardup_into_corpus(self._batch(k), self.store, **self._kw())

    def _store_ids(self) -> set[int]:
        return {r[0] for r in self.spark.read.parquet(self.store).select("doc_id").collect()}

    @staticmethod
    def _bounds(k: int) -> tuple[int, int]:
        """Rows [a, b) of the shuffled table that form batch ``k``."""
        return CORPUS_BATCH * k, min(CORPUS_BATCH * (k + 1), CORPUS_DOCS)

    def _write_batch(self, a: int, b: int) -> None:
        t = self.docs.slice(a, b - a)
        path = os.path.join(self.work, f"docs_batch{len(self.paths):03d}.parquet")
        pq.write_table(t, path)
        self.paths.append(path)
        self.batch_ids.append(set(t.column("doc_id").to_pylist()))

    def setup(self) -> dict[str, float]:
        """Draw the table and write the bootstrap batch (fixture), then
        bootstrap the store through the merge sink (warm-up: the first,
        cold call of its code)."""
        t0 = time.perf_counter()
        docs = gen.documents(self.seed, CORPUS_DOCS)
        order = np.random.default_rng([self.seed, 11]).permutation(CORPUS_DOCS)
        self.docs = docs.take(order)
        self._write_batch(*self._bounds(0))
        t1 = time.perf_counter()
        self._merge(0)
        return {"fixture_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def _round(self, k: int) -> None:
        c = self.client
        self._write_batch(*self._bounds(k))
        rows = len(self.batch_ids[k])
        surv = c.op("read", "corpus.judge", lambda: self._judge(k), rows)
        if surv is not None:
            self.judged.append({r[0] for r in surv.select("doc_id").collect()})
        c.op("write", "corpus.merge", lambda: self._merge(k))
        self.admitted.append(self._store_ids() & self.batch_ids[k])

    def run(self, seconds: float) -> None:
        later = -(-CORPUS_DOCS // CORPUS_BATCH) - 1
        self.client.loop(seconds, lambda r: self._round(r + 1), later)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        for k, (j, m) in enumerate(zip(self.judged, self.admitted), start=1):
            if j != m:
                bad.append(f"batch {k}: judge vs merge symmetric difference {len(j ^ m)}")
        if len(self.judged) != len(self.admitted):
            bad.append("a judge or merge did not return")
        row = self.spark.read.parquet(self.store).agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("d")
        ).first()
        if row["n"] != row["d"]:
            bad.append(f"doc_id repeated in store: {row['n']} rows, {row['d']} ids")
        return bad

    def replay_first_batch(self) -> None:
        """Merge the rest of the table (one batch), then the bootstrap
        batch again, and record what the replay admits (reported, not
        gated: the merge intends a replay to write nothing)."""
        rest = self._bounds(len(self.paths))[0]
        if rest < CORPUS_DOCS:
            self._write_batch(rest, CORPUS_DOCS)
            self._merge(len(self.paths) - 1)
        self.late_replay_admitted = float(self._merge(0))

    def layer_metrics(self) -> dict[str, float]:
        t = self.client.tracer
        merge = _span_medians(t, "corpus.merge")
        judge = _span_medians(t, "corpus.judge")
        rows = sum(len(self.batch_ids[k + 1]) for k in range(len(self.admitted)))
        shuffle = [
            s.stats["shuffle_write_bytes"] / 1e6
            for s in t.spans if s.name == "corpus.merge" and s.stats
        ]
        return {
            "corpus.merge_s": merge["s"],
            "corpus.merge_jobs": merge["jobs"],
            "corpus.merge_driver_gap_s": merge["driver_gap_s"],
            "corpus.judge_s": judge["s"],
            "corpus.judge_jobs": judge["jobs"],
            "corpus.admit_ratio": sum(map(len, self.admitted)) / rows if rows else 0.0,
            "corpus.shuffle_write_mb": median(shuffle),
            "corpus.late_replay_admitted": self.late_replay_admitted,
        }

    def cleanup(self) -> None:
        from etl_weather_data_pipeline_spark.streaming.corpus import (
            bands_table_name,
            winnow_table_name,
        )

        self.spark.sql(f"DROP TABLE IF EXISTS {bands_table_name(self.store)}")
        self.spark.sql(f"DROP TABLE IF EXISTS {winnow_table_name(self.store)}")


WORKLOADS = {w.name: w for w in (EtlDaily, CorpusIngest)}
