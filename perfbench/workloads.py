"""The benchmark's workloads: inputs, set-up, one op, output checks.

Each workload is a closed loop with one client. ``generate`` writes the
inputs before set-up; ``setup`` is what ``setup_s`` times after the
session exists (table ingest and opening, warm-up); ``op`` runs op
``i`` of the seeded sequence and returns what the caller got back;
``check_op`` and ``check`` compare outputs with the generator's ground
truth or the DuckDB oracle, outside the timed phase.
"""

from __future__ import annotations

import json
import math
import os

import gen


class Workload:
    #: Ops per block. The timed phase ends on a block boundary, and a
    #: traced run alternates traced and untraced blocks.
    block = 1
    #: Blocks of ops run in set-up, before the timed phase: every op
    #: shape once, so that the JIT has compiled each op's code paths.
    warmup_blocks = 1

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.input = os.path.join(work, "input")
        self.setup_wrong = 0
        self.problems: list[str] = []
        self.ingest: dict[str, float] = {}

    def check(self, done: list[int]) -> set[int]:
        """Indices of ``done`` ops whose output a whole-run check found
        wrong."""
        return set()


# ------------------------------------------------------------ serve_api


class ServeApi(Workload):
    """GET requests through the in-process WSGI app over a day-partitioned
    serving table that the program's own ingest writes during set-up."""

    block = len(gen.ROUTES)
    #: Served days: ``last_90`` reads a full window.
    DAYS = 90
    #: Distinct media titles. Against the 3,500 media lines of a day dump
    #: (gen.ROWS_PER_DAY x gen.MEDIA_SHARE), the popular titles recur many times a day, so
    #: the ingest has duplicate rows to sum, while some titles in the Zipf
    #: tail miss a day, so payloads have zero-filled days.
    FILES = 1500

    def generate(self) -> None:
        self.files = gen.media_files(self.seed, self.FILES)
        self.days = gen.day_list("2024-01-01", self.DAYS)
        self.today = _shift(self.days[-1], 1)
        self.dumps_dir = os.path.join(self.input, "dumps")
        self.dumps = gen.write_dumps(self.seed, self.dumps_dir, self.files, self.days)
        self.cat_path = os.path.join(self.input, "categorymembers.jsonl")
        self.members = gen.write_categories(self.seed, self.cat_path, self.files)
        self.requests = gen.serve_sequence(self.seed, 2000, self.files, self.days)
        self.warmup = gen.serve_sequence(
            self.seed + 10**6, self.block * self.warmup_blocks, self.files, self.days
        )

    def setup(self, spark) -> None:
        from mediaplaycounts_spark.api import http, serving
        from mediaplaycounts_spark.ingest import categories, mediacounts

        self.spark = spark
        self.serving_dir = os.path.join(self.work, "serving")
        # The nightly job: ingest every day dump, and count the rejects.
        mediacounts.write_daily(
            mediacounts.daily_playcounts(spark, self.dumps_dir), self.serving_dir
        )
        raw = mediacounts.read_raw(spark, self.dumps_dir)
        self.n_bad = self.tracer.call(
            "ingest.corrupt", lambda: mediacounts.corrupt_records(raw).count()
        )
        raw.unpersist()
        # The category-membership snapshot, built once and held in memory.
        members = categories.build_membership_snapshot(
            spark, self.cat_path, gen.ROOT
        ).localCheckpoint()
        playcounts = serving.read_serving_parquet(spark, self.serving_dir)
        self.app = http.create_app(playcounts, members, today=self.today)
        for req in self.warmup:
            if not self._matches(req, self._get(req[1])):
                self.setup_wrong += 1

    def check(self, done: list[int]) -> set[int]:
        """The set-up ingest's own figures, read back after the timed
        phase and compared with the generator's: lines scanned, serving
        rows and summed plays written, rejects counted."""
        from pyspark.sql import functions as F

        from mediaplaycounts_spark.ingest import mediacounts

        truth = self.dumps.truth
        table = self.spark.read.parquet(self.serving_dir)
        rows_out, plays = table.agg(F.count("*"), F.sum("count")).first()
        got = {
            "rows_in": mediacounts.read_raw(self.spark, self.dumps_dir).count(),
            "rows_out": rows_out,
            "corrupt_rows": self.n_bad,
            "plays": plays,
        }
        want = {
            "rows_in": sum(self.dumps.lines.values()),
            "rows_out": sum(len(t) for t in truth.values()),
            "corrupt_rows": sum(self.dumps.corrupt.values()),
            "plays": sum(sum(t.values()) for t in truth.values()),
        }
        for k, v in want.items():
            if got[k] != v:
                self.setup_wrong += 1
                self.problems.append(f"ingest {k}: {got[k]} vs {v} expected")
        files, size = _tree(self.serving_dir)
        self.ingest = {
            "rows_in": got["rows_in"],
            "rows_out": got["rows_out"],
            "corrupt_rows": got["corrupt_rows"],
            "files_per_day": files / len(self.days),
            "bytes_written_per_input_byte": size / _tree(self.dumps_dir)[1],
        }
        return set()

    def _get(self, path: str):
        status = []
        environ = {"REQUEST_METHOD": "GET", "PATH_INFO": path}
        body = b"".join(self.tracer.call(
            "api.http.request", self.app, environ, lambda s, h: status.append(s)
        ))
        return status[0], body

    def op(self, i: int):
        return self._get(self.requests[i][1])

    def expected(self, req) -> dict:
        route, _, name, start, end = req
        if not start:
            n = 30 if route.endswith("last_30") else 90
            start, end = _shift(self.today, -n), _shift(self.today, -1)
        names = self.members if route.startswith("Category") else [name]
        return gen.expected_payload(self.dumps.truth, names, start, end)

    def _matches(self, req, got) -> bool:
        status, body = got
        return status == "200 OK" and json.loads(body) == self.expected(req)

    def check_op(self, i: int, got) -> bool:
        return self._matches(self.requests[i], got)

    def result_rows(self, i: int, got) -> int:
        return len(json.loads(got[1])["counts"])


def _shift(day: str, n: int) -> str:
    import datetime as dt

    return (dt.date.fromisoformat(day) + dt.timedelta(days=n)).isoformat()


def _tree(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, skipping Spark's marker and
    checksum files."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


# ---------------------------------------------------- analytics_headline


class AnalyticsHeadline(Workload):
    """The ten headline registry keys round-robin, each op timed from the
    registry call through the ``noop`` sink."""

    block = len(gen.HEADLINE_KEYS)

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.input, "tables")
        gen.write_analytics_tables(self.seed, self.sf_dir)
        self.sequence = gen.analytics_sequence(self.seed, 200)

    def setup(self, spark) -> None:
        from mediaplaycounts_spark import registry

        self.spark = spark
        self.fns = {k: registry.get(k).fn for k in gen.HEADLINE_KEYS}
        for _ in range(self.warmup_blocks):
            for key in gen.HEADLINE_KEYS:
                self._run(key)

    def _run(self, key: str) -> None:
        t = self.tracer
        df = t.in_group("build", t.call, f"queries.{key}", self.fns[key], self.spark, self.sf_dir)
        if t.active:
            t.plan(df)
        t.call("spark.exec", lambda: df.write.format("noop").mode("overwrite").save())

    def op(self, i: int):
        self._run(self.sequence[i])
        return True

    def check_op(self, i: int, got) -> bool:
        return True  # checked once per key in check()

    def check(self, done: list[int]) -> set[int]:
        """Each key once against its DuckDB oracle over the same files."""
        import duckdb

        from mediaplaycounts_spark import registry

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for name in gen.ANALYTICS_ROWS:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self.rows: dict[str, int] = {}
        self.mismatch: dict[str, str] = {}
        for key in gen.HEADLINE_KEYS:
            got = self.fns[key](self.spark, self.sf_dir).toPandas()
            want = con.execute(registry.get(key).oracle).fetchdf()
            self.rows[key] = len(got)
            why = compare_frames(got, want)
            if why:
                self.mismatch[key] = why
                self.problems.append(f"{key}: {why}")
        con.close()
        return {i for i in done if self.sequence[i] in self.mismatch}

    def result_rows(self, i: int, got) -> int:
        return self.rows.get(self.sequence[i], 0)


# ------------------------------------------------------------ comparing


def _normalize(df):
    import datetime as dt

    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif s.dtype == object:
            first = s.dropna()
            if len(first) and isinstance(first.iloc[0], (dt.date, dt.datetime, pd.Timestamp)):
                s = pd.to_datetime(s).astype("datetime64[us]")
            else:
                s = s.map(lambda v: None if v is None else str(v))
        out[c] = s
    ndf = pd.DataFrame(out)
    return ndf.sort_values(by=list(ndf.columns), ignore_index=True, na_position="last")


def compare_frames(got, want) -> str:
    """'' when equal as row multisets (floats to 1e-9 relative), else why."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    if a.equals(b):
        return ""
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            same = (x == y) or (x is None and y is None)
            if not same and isinstance(x, float) and isinstance(y, float):
                same = (math.isnan(x) and math.isnan(y)) or math.isclose(
                    x, y, rel_tol=1e-9, abs_tol=1e-12
                )
            if not same:
                return f"{c}: {x!r} vs {y!r}"
    return ""


WORKLOADS = {
    "serve_api": ServeApi,
    "analytics_headline": AnalyticsHeadline,
}
