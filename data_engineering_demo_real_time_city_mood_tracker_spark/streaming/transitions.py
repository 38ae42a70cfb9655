"""Streaming event-transition extraction — the live twin of the batch
``event_transition_matrix`` query (plans/queries.py): every arriving
event is paired with its user's PREVIOUS event, so the Markov
transition counts a dashboard aggregates are maintained per
micro-batch instead of recomputed per nightly window job.

Reference behavior source: the mood tracker consumes each stream
row-by-row as it arrives (/root/reference/jobs/spark_mood_tracker.py);
this generalizes that per-row consumption to cross-event sequence
features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ordered_rows(pdf_iter, ts_col: str, id_col: str):
    """One user's micro-batch rows as a single pandas frame, sorted on
    (ts, id) and re-indexed from 0."""
    import pandas as pd

    return pd.concat(list(pdf_iter)).sort_values([ts_col, id_col]).reset_index(drop=True)


def per_user_append(
    events: DataFrame, user_col: str, step, out_schema: str, state_schema: str
) -> DataFrame:
    """``step`` run per user on ``applyInPandasWithState`` in append
    mode, with no state timeout."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy(user_col).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transition_stream(
    events: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user adjacent-event pairs as a TRUE state machine on
    ``applyInPandasWithState``: state per user is the single most
    recent event's type (ONE string per user forever — never a
    history), exactly what the batch query's ``lead`` window needs
    from the past. Inside each micro-batch the pairing is a
    vectorized pandas shift over the (ts, id)-sorted rows seeded with
    the carried state, so on an ordered replay the emitted
    (from_type → to_type) multiset is IDENTICAL to the batch window's
    adjacent pairs no matter where the micro-batch boundaries fall
    (parity test-asserted across a two-micro-batch split — counts
    AND the derived row-normalized probabilities match the batch
    query bitwise, since both are the same integer counts and the
    same single IEEE division downstream).

    Ordering caveat shared with cusum_alert_stream /
    attribution_stream: sequence extraction is sequential per user,
    so rows must arrive per-user time-ordered ACROSS micro-batches
    (in-batch disorder is sorted away). State sizing: one string ×
    DISTINCT USERS — user cardinality, not event volume; churning
    deployments can add a processing-time timeout, which forgets a
    user's last event and simply suppresses the single cross-gap
    pair. Output: one row per arriving event that HAS a predecessor
    (user, from_type, to_type, the successor's ts and id), append
    mode — aggregate downstream for the transition matrix."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        f"{user_col} long, from_type string, to_type string, "
        f"{ts_col} timestamp, {id_col} long"
    )

    def step(key, pdf_iter, state: GroupState):
        pdf = ordered_rows(pdf_iter, ts_col, id_col)
        if not len(pdf):
            return
        (prev,) = state.get if state.exists else (None,)
        cur = pdf[type_col].astype("object")
        # carry the last type verbatim; a NULL type is stored as a
        # true NULL (not the string 'None') so the next batch's first
        # row gets a NULL from_type and is dropped — exactly the batch
        # lag window's NULL propagation (r7 ADVICE)
        last = cur.iloc[-1]
        state.update((None if pd.isna(last) else str(last),))
        frm = cur.shift(1)
        if prev is not None:
            frm.iloc[0] = prev
        keep = frm.notna()
        if not keep.any():
            return
        sel = pdf[keep]
        yield pd.DataFrame(
            {
                user_col: sel[user_col].to_numpy(),
                "from_type": frm[keep].to_numpy(dtype="object"),
                "to_type": sel[type_col].to_numpy(dtype="object"),
                ts_col: sel[ts_col].to_numpy(),
                id_col: sel[id_col].to_numpy(),
            }
        )

    return per_user_append(events, user_col, step, out_schema, "t string")
