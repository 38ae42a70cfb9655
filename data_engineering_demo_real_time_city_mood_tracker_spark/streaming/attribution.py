"""Streaming last-touch attribution — the live twin of the batch
``attribution_last_touch`` query (plans/queries.py): purchases are
credited as they arrive, so the channel dashboard updates per
micro-batch instead of per nightly job.

Reference behavior source: the mood tracker's consumer jobs credit
each reading to its stream of origin as it arrives
(/root/reference/jobs/spark_mood_tracker.py's per-stream pipelines);
this generalizes that to cross-event credit assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.transitions import (
    ordered_rows,
    per_user_append,
)


def attribution_stream(
    events: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    conversion: str = "purchase",
    window_sec: int = 1800,
) -> DataFrame:
    """Per-arriving-purchase last-touch attribution as a TRUE state
    machine on ``applyInPandasWithState``: state per user is the most
    recent non-conversion event (type + epoch-micros — two scalars
    per user forever, never a history). Inside each micro-batch the
    walk is a pandas forward-fill over the (ts, id)-sorted rows
    seeded with the carried state — exactly the batch query's "last
    preceding touch, THEN the recency rule" trick, so on an ordered
    replay the emitted (purchase → touch) assignment is IDENTICAL to
    the batch window (parity test-asserted across a two-micro-batch
    split). The 30-minute rule compares integer MICROSECONDS (epoch
    micros fit exact doubles nowhere near here — they stay int64 end
    to end), and the cents conversion happens JVM-SIDE after the
    stateful operator with the same F.round the batch query uses, so
    the half-up decimal rounding is bitwise the batch one (numpy's
    banker's rounding would diverge on exact .5 cents).

    Ordering caveat shared with cusum_alert_stream: attribution is
    sequential per user, so rows must arrive per-user time-ordered
    ACROSS micro-batches (in-batch disorder is sorted away). State
    sizing: two scalars × DISTINCT USERS (user cardinality, not event
    volume); long-running deployments with churning user bases should
    swap NoTimeout for a processing-time timeout at the attribution
    window (an expired last-touch can never be credited anyway, so
    eviction past ``window_sec`` is semantically free). Output:
    one row per conversion (user, event id, ts, touch, cents) ready
    for any append-mode sink; aggregate downstream for the channel
    report."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        f"{user_col} long, {id_col} long, {ts_col} timestamp, "
        f"touch string, {value_col} double"
    )
    win_us = window_sec * 1_000_000

    def step(key, pdf_iter, state: GroupState):
        import numpy as np

        pdf = ordered_rows(pdf_iter, ts_col, id_col)
        if not len(pdf):
            return
        # vectorized walk (no row-at-a-time Python): forward-fill the
        # latest touch (type, micros) over the sorted rows, SEEDED with
        # the carried state at index 0 — filled[i] then holds the last
        # touch strictly before row i (a conversion row contributes no
        # candidate, so it can never credit itself)
        ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64")
        is_conv = (pdf[type_col] == conversion).to_numpy()
        t0, us0 = (state.get if state.exists else (None, None))
        cand_t = pd.concat(
            [
                pd.Series([t0], dtype="object"),
                pdf[type_col].astype("object").where(~is_conv),
            ],
            ignore_index=True,
        ).ffill()
        cand_us = pd.concat(
            [
                pd.Series([us0], dtype="Int64"),
                ts_us.astype("Int64").where(~is_conv),
            ],
            ignore_index=True,
        ).ffill()
        last_t = cand_t.iloc[-1]
        # the pd.notna guard keeps a NULL event_type from ever reaching
        # str(): a NULL touch does not displace the carried one, exactly
        # the batch last_value(..., ignorenulls) semantics (r7 ADVICE)
        if last_t is not None and pd.notna(last_t):
            state.update((str(last_t), int(cand_us.iloc[-1])))
        if not is_conv.any():
            return
        prev_t = cand_t.iloc[:-1].reset_index(drop=True)
        prev_us = cand_us.iloc[:-1].reset_index(drop=True)
        # integer-microsecond recency rule (Int64 keeps NA semantics:
        # no prior touch -> not fresh)
        fresh = (
            (pd.Series(ts_us.to_numpy(), dtype="Int64") - prev_us) <= win_us
        ).fillna(False).to_numpy(dtype=bool) & prev_t.notna().to_numpy()
        touch = np.where(
            fresh, prev_t.fillna("direct").to_numpy(dtype="object"), "direct"
        )[is_conv]
        sel = pdf[is_conv]
        yield pd.DataFrame(
            {
                user_col: sel[user_col].to_numpy(),
                id_col: sel[id_col].to_numpy(),
                ts_col: sel[ts_col].to_numpy(),
                "touch": touch,
                value_col: sel[value_col].to_numpy(),
            }
        )

    credited = per_user_append(events, user_col, step, out_schema, "t string, us long")
    # JVM-side half-up decimal rounding == the batch query's cents
    return credited.select(
        user_col,
        id_col,
        ts_col,
        "touch",
        F.round(F.col(value_col) * 100, 0).cast("long").alias("cents"),
    )
