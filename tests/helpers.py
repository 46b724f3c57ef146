from __future__ import annotations

import datetime as dt

import pandas as pd

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def ev(op, conv, turn, seq, *, secs=None, role="user", text=None, tool=None):
    """Build one change event dict (op_ts defaults to seq-seconds)."""
    t = BASE + dt.timedelta(seconds=secs if secs is not None else seq)
    return {
        "op": op,
        "op_ts": t,
        "batch_seq": seq,
        "conv_id": conv,
        "turn_idx": turn,
        "role": role,
        "text": text if text is not None else f"text {conv}/{turn} v{seq}",
        "tool": tool,
        "ts": t,
    }


def feed_df(spark, events):
    from chomper_spark.schema import CHANGE_EVENT

    return spark.createDataFrame(events, schema=CHANGE_EVENT)


def assert_state_equals_oracle(engine_df, events, **oracle_kwargs):
    """Final-table equality incl. per-turn text equality."""
    from chomper_spark.oracle import reference_apply

    got = (
        engine_df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp = reference_apply(pd.DataFrame(events), **oracle_kwargs)
    got = got[exp.columns.tolist()] if len(exp.columns) else got

    def _norm(df):
        # engine object columns carry None, the dict-built oracle NaN;
        # pandas is deprecating their equivalence in assert_frame_equal
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].where(pd.notna(df[c]), None)
        return df

    pd.testing.assert_frame_equal(
        _norm(got),
        _norm(exp.astype(got.dtypes.to_dict(), errors="ignore")),
        check_dtype=False,
    )


def jobs_and_result(spark, fn):
    """(Spark jobs ``fn`` launched, its result): job ids are global and
    monotonically increasing."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    out = fn()
    return dag.nextJobId() - start, out


def committed_batches(sink) -> set:
    """The committed batch ids of ``sink``'s HEAD, materialized from the
    bounded watermark + out-of-order ledger — O(watermark), for small
    test tables only."""
    m = sink.current_manifest()
    if m is None:
        return set()
    return set(range(m["batch_watermark"] + 1)) | set(m["recent_batches"])


def write_plans(fn):
    """(physical plans of every parquet write ``fn`` runs, its result)."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def hooked(self, path, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return orig(self, path, **kw)

    DataFrameWriter.parquet = hooked
    try:
        out = fn()
    finally:
        DataFrameWriter.parquet = orig
    return plans, out
