"""The benchmark's three workloads and the operations they run.

An operation is one closed-loop step of a pass: it is called, its
result (if it returns a DataFrame) is written to the ``noop`` sink, and
only then does the next operation start. Each operation also knows how
to check itself against an oracle; the runner does that on the one
untimed warm-up pass.

Why each workload exists and which layer metrics should move which
end-to-end metric is written down in ``README.md`` beside this file.
"""

from __future__ import annotations

import os
import time

import duckdb

PACKAGE = "mirrulations_iceberg_spark"

#: Short read queries from families a c f j o u w, one or two per
#: family. Their latency is set by driver-side planning and scheduling,
#: not by executor compute. The q family runs the same ``etl.workload``
#: functions that ``ingest`` reads back with.
INTERACTIVE = (
    "a1_count_star",
    "a2_groupby_count",
    "c9_ts_minmax",
    "f1_like_substring",
    "j2_semi_join",
    "j6_asof_join",
    "o2_top_dates",
    "u1_union_base_delta",
    "w3_lag_delta",
)

#: Heavy curation queries: interpreted array lambdas in the final
#: action (d12, t6), eager iterations inside the query call (d8's
#: connected components), and the flagship composite (e2).
CURATION = (
    "d12_segment_boilerplate",
    "t6_winnow_fingerprints",
    "d8_dedup_components",
    "e2_training_pipeline",
)

#: The reference's read-back queries from ``etl.workload``.
READBACK = (
    "q1_count_total",
    "q2_count_by_agency",
    "q3_with_attachments",
    "q4_avg_comment_length",
    "q5_top_commenters",
    "q6_comments_by_date",
    "q7_text_search",
    "q8_complex_filter",
    "q9_comments_per_document",
)

#: DuckDB twin of ``q9_comments_per_document`` (``WORKLOAD_SQL`` covers
#: q1-q8 only).
Q9_SQL = """
    SELECT d.documentType AS doc_type, COUNT(*) AS n_comments
    FROM comments c JOIN documents d ON c.commentOn = d.id
    GROUP BY d.documentType
"""

#: Fewest timed passes a run makes, whatever ``--seconds`` says.
MIN_PASSES = 3

#: Ingest sizes as (pipeline replicas, stream base replicas, delta
#: replicas per pass). One replica is 3 dockets, 6 documents, 50
#: comments and 2 corrupt files.
INGEST_SIZES = {"full": (2, 2, 1), "small": (1, 1, 1)}


class Context:
    """What an operation needs: the session, the inputs, a scratch
    directory inside the checkout, and a place to record per-pass
    measurements (``record``)."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int, small: bool,
                 tracer=None) -> None:
        from mirrulations_iceberg_spark.operators import collect_queries

        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.small = small
        self.tracer = tracer
        self.queries, self.oracles = collect_queries()
        self.samples: dict[str, list[float]] = {}
        self._ddb = None

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def add(self, metric: str, value: float) -> None:
        if self.tracer:
            self.tracer.add(metric, value)

    @property
    def ddb(self):
        """DuckDB with one view per fixture table, for oracle SQL."""
        if self._ddb is None:
            from mirrulations_iceberg_spark.tables import TABLE_NAMES

            self._ddb = duckdb.connect()
            for t in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    self._ddb.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
        return self._ddb

    def close(self) -> None:
        if self._ddb is not None:
            self._ddb.close()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(df, con, sql: str) -> tuple[str | None, float]:
    """Collect ``df`` and compare it with DuckDB's answer to ``sql``;
    returns (mismatch or None, seconds spent in DuckDB)."""
    from mirrulations_iceberg_spark.testing import compare

    rows = [tuple(r) for r in df.collect()]
    t = time.time()
    rel = con.sql(sql)
    err = compare(df.columns, rows, list(rel.columns), rel.fetchall())
    return err, time.time() - t


class Op:
    """One operation. ``call`` returns a DataFrame for ``action`` to
    write, or None when the call already did all the work. ``prepare``
    runs before the operation's clock starts."""

    layer = ""

    def __init__(self, name: str) -> None:
        self.name = name

    def prepare(self, ctx: Context, pass_no: int) -> None:
        pass

    def call(self, ctx: Context):
        raise NotImplementedError

    def action(self, ctx: Context, df) -> None:
        _noop(df)

    def check(self, ctx: Context) -> tuple[str | None, float]:
        """Run once and verify; returns (mismatch or None, seconds spent
        in the oracle, which the caller keeps out of set-up time)."""
        raise NotImplementedError


class QueryOp(Op):
    """A registered query ``queries()[name](spark, sf_dir)``."""

    def __init__(self, name: str, module: str) -> None:
        super().__init__(name)
        self.layer = f"operators.{module}"

    def call(self, ctx):
        return ctx.queries[self.name](ctx.spark, ctx.sf_dir)

    def check(self, ctx):
        sql = ctx.oracles.get(self.name)
        if sql is None:
            return f"{self.name}: no oracle", 0.0
        err, oracle_s = _check(self.call(ctx), ctx.ddb, sql)
        return (f"{self.name}: {err}" if err else None), oracle_s


def _module_of(name: str) -> str:
    """The operator module whose ``QUERIES`` registers ``name``."""
    import importlib

    for module in (
        "relational", "joins", "windows", "text", "dedup", "similarity",
        "maintenance", "etl", "multimodal", "streamq",
    ):
        mod = importlib.import_module(f"{PACKAGE}.operators.{module}")
        if name in getattr(mod, "QUERIES", {}):
            return module
    raise KeyError(name)


def _json_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".json")
    )


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


class Ingest:
    """Shared state of the ingest workload: the pipeline's docket tree,
    the stream's tree and sink, and every comment id generated so far."""

    def __init__(self, ctx: Context) -> None:
        from mirrulations_iceberg_spark.etl.fixtures import write_docket_tree

        self.replicas, base, self.delta = INGEST_SIZES[
            "small" if ctx.small else "full"
        ]
        self.tree = os.path.join(ctx.work, "tree")
        self.stream_tree = os.path.join(ctx.work, "stream_tree")
        self.sink = os.path.join(ctx.work, "landed")
        self.checkpoint = os.path.join(ctx.work, "checkpoint")
        for r in range(self.replicas):
            write_docket_tree(self.tree, seed=ctx.seed, replica=r)
        self.json_bytes = _json_bytes(self.tree)
        self.next_replica = 0
        self.expected_ids: list[str] = []
        self.documents: str | None = None
        # The warm-up pass's drain lands this base before any delta.
        self.write_replicas(ctx, base)

    def write_replicas(self, ctx: Context, n: int) -> None:
        from mirrulations_iceberg_spark.etl.fixtures import (
            build_records,
            write_docket_tree,
        )

        for _ in range(n):
            r, seed = self.next_replica, ctx.seed * 1000 + self.next_replica
            write_docket_tree(self.stream_tree, seed=seed, replica=r)
            self.expected_ids += [
                c["data"]["id"] for c in build_records(seed, r)["comments"]
            ]
            self.next_replica += 1

    def drain(self, ctx: Context) -> float:
        """Run ``stream_comments`` on the one checkpoint until everything
        on disk has landed; returns its seconds."""
        from mirrulations_iceberg_spark.streaming.incremental import stream_comments

        with ctx.span("streaming.incremental.stream_comments"):
            t = time.time()
            q = stream_comments(ctx.spark, self.stream_tree, self.sink, self.checkpoint)
            q.awaitTermination()
            elapsed = time.time() - t
        if q.exception() is not None:
            raise RuntimeError(f"stream_comments failed: {q.exception()}")
        progress = q.recentProgress
        ctx.add("streaming.incremental.stream_comments_s", elapsed)
        ctx.add("streaming.incremental.batches", len(progress))
        ctx.add(
            "streaming.incremental.input_rows",
            sum(p.get("numInputRows", 0) for p in progress),
        )
        return elapsed

    def check_landed(self, ctx: Context) -> str | None:
        """Every generated comment id is in the sink exactly once."""
        ids = [r[0] for r in ctx.spark.read.parquet(self.sink).select("id").collect()]
        if len(ids) != len(set(ids)):
            return f"landed: {len(ids) - len(set(ids))} duplicate comment ids"
        if set(ids) != set(self.expected_ids):
            missing = len(set(self.expected_ids) - set(ids))
            extra = len(set(ids) - set(self.expected_ids))
            return f"landed: {missing} comment ids missing, {extra} unexpected"
        return None


class PipelineOp(Op):
    """``etl.pipeline.run_pipeline`` over the seeded docket tree, into a
    fresh output directory each pass."""

    layer = "etl.pipeline"

    def __init__(self, ingest: Ingest) -> None:
        super().__init__("run_pipeline")
        self.ingest = ingest
        self.runs = 0
        self.last = None

    def call(self, ctx):
        from mirrulations_iceberg_spark.etl.pipeline import run_pipeline

        out = os.path.join(ctx.work, f"converted{self.runs}")
        self.runs += 1
        with ctx.span("etl.pipeline.run_pipeline"):
            t = time.time()
            res = run_pipeline(ctx.spark, self.ingest.tree, out)
            elapsed = time.time() - t
        files = _parquet_files(out)
        written = sum(os.path.getsize(f) for f in files)
        records = sum(res.counts.values()) + res.quarantined
        ctx.record("ingest_docs_per_s", records / elapsed)
        ctx.record("stored_bytes_per_json_byte", written / self.ingest.json_bytes)
        ctx.add("etl.pipeline.run_pipeline_s", elapsed)
        ctx.add("etl.pipeline.files_written", len(files))
        ctx.add("etl.pipeline.bytes_written", written)
        ctx.add("etl.pipeline.quarantined_rows", res.quarantined)
        if self.ingest.documents is None:
            self.ingest.documents = os.path.join(out, "documents")
        self.last = res
        return None

    def check(self, ctx):
        from mirrulations_iceberg_spark.etl.fixtures import expected_counts

        self.call(ctx)
        n, exp = self.ingest.replicas, expected_counts()
        want = {
            "comments": exp["comments"] * n,
            "documents": exp["documents"] * n,
            "docket_info": exp["dockets"] * n,
        }
        got = dict(self.last.counts)
        if got != want or self.last.quarantined != exp["corrupt"] * n:
            return (
                f"run_pipeline counts {got} quarantined={self.last.quarantined}, "
                f"want {want} quarantined={exp['corrupt'] * n}"
            ), 0.0
        return None, 0.0


class DeltaOp(Op):
    """Land one seeded delta through ``stream_comments`` on the
    checkpoint the base drain used. The delta's files are written before
    the clock starts; the operation is the drain."""

    layer = "streaming.incremental"

    def __init__(self, ingest: Ingest) -> None:
        super().__init__("stream_delta")
        self.ingest = ingest

    def prepare(self, ctx, pass_no):
        self.ingest.write_replicas(ctx, self.ingest.delta)

    def call(self, ctx):
        ctx.record("freshness_s", self.ingest.drain(ctx))
        return None

    def check(self, ctx):
        self.call(ctx)
        return self.ingest.check_landed(ctx), 0.0


class ReadbackOp(Op):
    """One of the reference's queries from ``etl.workload`` over the
    comments the stream has landed."""

    layer = "etl.workload"

    def __init__(self, name: str, ingest: Ingest) -> None:
        super().__init__(name)
        self.ingest = ingest

    def call(self, ctx):
        from mirrulations_iceberg_spark.etl import workload

        comments = ctx.spark.read.parquet(self.ingest.sink)
        fn = getattr(workload, self.name)
        if self.name == "q9_comments_per_document":
            return fn(comments, ctx.spark.read.parquet(self.ingest.documents))
        return fn(comments)

    def check(self, ctx):
        from mirrulations_iceberg_spark.etl.workload import WORKLOAD_SQL

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW comments AS SELECT * FROM read_parquet("
                f"'{self.ingest.sink}/*.parquet')"
            )
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.ingest.documents}/*/*.parquet', hive_partitioning=true)"
            )
            err, oracle_s = _check(
                self.call(ctx), con, WORKLOAD_SQL.get(self.name, Q9_SQL)
            )
        finally:
            con.close()
        return (f"{self.name}: {err}" if err else None), oracle_s


class Workload:
    name = ""
    #: Fixture scale the registered queries read.
    scale = "sf0.1"
    #: Seconds one warm pass takes on a 4-core host. A run makes
    #: round(--seconds / pass_s) timed passes, at least MIN_PASSES: a
    #: fixed count, so the number of latency samples (and with it the
    #: tail percentile) does not depend on how fast this run happens to
    #: be, and the pass-time median is never a single sample.
    pass_s = 5.0

    def passes(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / self.pass_s))

    def ops(self, ctx: Context) -> list[Op]:
        raise NotImplementedError

    def final_check(self, ctx: Context) -> list[str]:
        return []


class QueryWorkload(Workload):
    def __init__(self, name: str, names: tuple[str, ...], scale: str,
                 pass_s: float) -> None:
        self.name = name
        self.names = names
        self.scale = scale
        self.pass_s = pass_s

    def ops(self, ctx):
        return [QueryOp(n, _module_of(n)) for n in self.names]


class IngestWorkload(Workload):
    name = "ingest"
    scale = "sf0.01"

    def ops(self, ctx):
        self.ingest = Ingest(ctx)
        return (
            [PipelineOp(self.ingest), DeltaOp(self.ingest)]
            + [ReadbackOp(n, self.ingest) for n in READBACK]
        )

    def final_check(self, ctx):
        err = self.ingest.check_landed(ctx)
        return [err] if err else []


#: Workload name → factory; a run builds its own instance.
WORKLOADS = {
    "interactive": lambda: QueryWorkload("interactive", INTERACTIVE, "sf0.1", 2.0),
    "curation": lambda: QueryWorkload("curation", CURATION, "sf0.01", 5.0),
    "ingest": IngestWorkload,
}
