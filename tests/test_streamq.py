"""Stream/batch parity and composite-pipeline invariants for the
driver-surface queries added in operators/streamq.py and etl.py:e2."""

from __future__ import annotations

from pyspark.sql import functions as F

from mirrulations_iceberg_spark.operators.etl import (
    E2_MIN_TOKENS,
    e2_training_pipeline,
)
from mirrulations_iceberg_spark.operators.streamq import (
    s1_stream_windowed_counts,
)
from mirrulations_iceberg_spark.tables import load_table
from mirrulations_iceberg_spark.operators.text import tokens_col

from .conftest import SF_DIR


def test_stream_equals_batch(spark):
    """The streaming engine's windowed aggregate must equal the same
    aggregation run as a plain batch query — Dataset parity, checked
    in-process (the DuckDB oracle checks it cross-engine)."""
    got = {tuple(r) for r in s1_stream_windowed_counts(spark, SF_DIR).collect()}
    events = load_table(spark, SF_DIR, "events")
    batch = (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_e2_stages_monotone(spark):
    """Each pipeline stage only removes documents; the summary's totals
    must be consistent with the gate."""
    out = e2_training_pipeline(spark, SF_DIR).collect()
    assert out, "pipeline selected no documents"
    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    n_quality = docs.filter(
        F.size(tokens_col(F.col("text"))) >= E2_MIN_TOKENS
    ).count()
    n_selected = sum(r.n_docs for r in out)
    assert 0 < n_selected <= n_quality <= n_docs
    for r in out:
        # sampled set obeys the quality gate
        assert r.avg_tokens >= E2_MIN_TOKENS
        assert r.total_tokens >= r.n_docs * E2_MIN_TOKENS


def test_s6_equals_d10_batch(spark):
    """s6's whole claim is stream/batch parity for the incremental
    dedup shape: the streaming stream-static anti-join must produce
    exactly d10's batch answer, row for row."""
    from mirrulations_iceberg_spark.operators.dedup import d10_incremental_dedup
    from mirrulations_iceberg_spark.operators.streamq import s6_stream_base_dedup

    got = {tuple(r) for r in s6_stream_base_dedup(spark, SF_DIR).collect()}
    want = {tuple(r) for r in d10_incremental_dedup(spark, SF_DIR).collect()}
    assert got == want and got


def test_stream_state_conf_scoped_and_restored(spark):
    """The state-parallelism override must apply only inside the
    context and restore the caller's setting on exit AND on error."""
    from mirrulations_iceberg_spark.operators.streamq import stream_state_conf

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    cores = str(spark.sparkContext.defaultParallelism)
    with stream_state_conf(spark):
        assert spark.conf.get(key) == cores
    assert spark.conf.get(key) == prev
    try:
        with stream_state_conf(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == prev


def test_stream_state_conf_sizes_from_input_bytes(spark):
    """r16 scale-adaptive state parallelism: the partition count grows
    with the input and saturates at the core count — tiny inputs get 1
    state task, production-sized inputs keep the old cores rule."""
    from mirrulations_iceberg_spark.operators.streamq import (
        STREAM_STATE_TARGET_BYTES,
        stream_state_conf,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    with stream_state_conf(spark, 1):
        assert spark.conf.get(key) == "1"
    with stream_state_conf(spark, 3 * STREAM_STATE_TARGET_BYTES):
        assert spark.conf.get(key) == str(min(cores, 3))
    with stream_state_conf(spark, 10**15):
        assert spark.conf.get(key) == str(cores)
    assert spark.conf.get(key) == prev


def test_unsizeable_input_falls_back_to_cores_rule(spark, tmp_path):
    """VERDICT r16 #2: an input this local probe cannot size (non-local
    URI, missing path, empty tree) must mean UNKNOWN → the cores rule —
    never 0 → 1 state partition, because the state-store layout is
    pinned at the checkpoint's first run and a spurious 1 would
    permanently serialize every stateful shuffle of a production
    (s3a://…) deployment."""
    from mirrulations_iceberg_spark.operators.streamq import (
        _path_bytes,
        stream_state_conf,
    )

    # non-local URI schemes: os.walk would silently yield nothing
    assert _path_bytes("s3a://bucket/prefix/events") is None
    assert _path_bytes("hdfs://nn:8020/data/events.parquet") is None
    # missing path and empty directory: unknown, not tiny
    assert _path_bytes(str(tmp_path / "does_not_exist")) is None
    assert _path_bytes(str(tmp_path)) is None  # exists but 0 bytes under it
    # file:// on a real local file still sizes
    f = tmp_path / "x.bin"
    f.write_bytes(b"abc")
    assert _path_bytes(f"file://{f}") == 3
    assert _path_bytes(str(f)) == 3

    # and the conf helper treats None/0 as the cores rule, not 1
    key = "spark.sql.shuffle.partitions"
    cores = str(spark.sparkContext.defaultParallelism)
    with stream_state_conf(spark, None):
        assert spark.conf.get(key) == cores
    with stream_state_conf(spark, 0):
        assert spark.conf.get(key) == cores
    with stream_state_conf(spark, _path_bytes("s3a://bucket/events")):
        assert spark.conf.get(key) == cores


def test_fit_scope_and_stream_scope_serialize_across_threads(spark):
    """The similarity fit scope and the streaming state scope change
    the same session conf, so they must take one lock: while thread A
    holds the fit scope, thread B's stream_state_conf may not enter,
    and once both have exited every key holds its original value."""
    import threading

    from mirrulations_iceberg_spark.operators.similarity import _fit_conf
    from mirrulations_iceberg_spark.operators.streamq import stream_state_conf

    a_key, p_key = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    orig = {a_key: spark.conf.get(a_key), p_key: spark.conf.get(p_key)}
    cores = str(spark.sparkContext.defaultParallelism)
    a_in, a_release, b_in = threading.Event(), threading.Event(), threading.Event()
    seen_by_b: dict = {}

    def hold_fit_scope():
        with _fit_conf(spark):
            a_in.set()
            a_release.wait(timeout=30)

    def enter_stream_scope():
        with stream_state_conf(spark):
            seen_by_b.update({k: spark.conf.get(k) for k in orig})
            b_in.set()

    a = threading.Thread(target=hold_fit_scope)
    b = threading.Thread(target=enter_stream_scope)
    a.start()
    try:
        assert a_in.wait(timeout=30)
        b.start()
        entered_early = b_in.wait(timeout=1.0)
    finally:
        a_release.set()
        a.join(timeout=30)
        b.join(timeout=30)
    assert not a.is_alive() and not b.is_alive()
    assert not entered_early, "stream scope entered while the fit scope was held"
    assert b_in.is_set()
    # B ran after A restored: it sees the session's AQE, its own sizing
    assert seen_by_b == {a_key: orig[a_key], p_key: cores}
    assert {k: spark.conf.get(k) for k in orig} == orig
