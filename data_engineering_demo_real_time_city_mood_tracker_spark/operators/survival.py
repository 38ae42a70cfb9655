"""Survival analysis over bounded distinct-time frames.

The Kaplan–Meier product-limit estimator is the time-to-event
companion of cohort retention: instead of "how many users came back
in week k", it answers "what fraction SURVIVES past duration t" with
right-censoring handled correctly (a user still active at the end of
the observation window is evidence of survival UP TO their current
tenure, not a churn event).

Scale shape: the corpus pays exactly one subject-keyed aggregation;
everything after runs on the distinct-duration frame, which is
bounded by the observation span in time units (≤ days-of-history
rows per group) — the same bounded-frame discipline as ks_test's
distinct-value cumsum. No window over subjects, no global sort.

Float policy: n_at_risk / n_events / n_censored are exact BIGINTs;
each hazard factor is ONE IEEE division, and the survival product is
an ORDERED left fold over the ascending distinct-duration array
(Spark ``F.aggregate`` seeded 1.0 ≡ DuckDB
``list_reduce(list(f ORDER BY t), *)`` — 1.0·f₁ == f₁ bitwise), so
the whole curve rides the hash-gated oracle surface despite being a
product of floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _risk_table(per_subject: DataFrame, g: str, t: str, e: str) -> DataFrame:
    """(g, t, d, c, n_risk) per distinct duration: events, censorings
    and the >=-cumulative at-risk count, a broadcast self-join over
    the distinct-duration frame."""
    km = per_subject.groupBy(g, t).agg(
        F.sum(e).cast("long").alias("d"),
        F.sum(1 - F.col(e)).cast("long").alias("c"),
    )
    k2 = km.select(
        F.col(g).alias("_g2"),
        F.col(t).alias("_tj"),
        (F.col("d") + F.col("c")).alias("_w"),
    )
    return (
        km.join(
            F.broadcast(k2),
            (F.col("_g2") == F.col(g)) & (F.col("_tj") >= F.col(t)),
        )
        .groupBy(g, t, "d", "c")
        .agg(F.sum("_w").cast("long").alias("n_risk"))
    )


def km_curve(
    per_subject: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """(group, t_days, n_at_risk, n_events, n_censored, survival):
    the Kaplan–Meier curve per group from a per-subject frame of
    ``(group, duration, event)`` rows — ``event`` 1 if the terminal
    event (churn) was observed, 0 if right-censored.

    n_at_risk(t) counts subjects with duration ≥ t (the at-risk set
    just before t); survival(t) = Π_{tᵢ ≤ t} (n_i − d_i)/n_i, the
    product-limit estimator. Censor-only times carry factor 1.0 and
    are kept as output rows (identical S, more readable curve).

    Both the ≥-cumulative at-risk count and the ≤-prefix product run
    as broadcast self-joins over the distinct-duration frame (bounded
    by the observation span) — never over subjects.
    """
    g, t = group_col, duration_col
    nr = _risk_table(per_subject, g, t, event_col)
    fct = nr.withColumn(
        "_f", (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")
    )
    f2 = fct.select(
        F.col(g).alias("_g2"), F.col(t).alias("_tj"), F.col("_f").alias("_fj")
    )
    return (
        fct.join(
            F.broadcast(f2),
            (F.col("_g2") == F.col(g)) & (F.col("_tj") <= F.col(t)),
        )
        .groupBy(g, t, "n_risk", "d", "c")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_tj", "_fj"))),
                F.lit(1.0),
                lambda acc, x: acc * x["_fj"],
            ).alias("survival")
        )
        .select(
            g,
            F.col(t).alias("t_days"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            "survival",
        )
    )


def na_curve(
    per_subject: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """(group, t_days, n_at_risk, n_events, cumhaz, cumhaz_var): the
    Nelson–Aalen cumulative-hazard estimator per group from the same
    ``(group, duration, event)`` per-subject frame :func:`km_curve`
    consumes — the ADDITIVE twin of the product-limit curve.

    H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ estimates cumulative hazard directly
    (preferred over −ln S for small risk sets, and the quantity a
    hazard-ratio eyeball wants); Klein's variance Σ dᵢ/nᵢ² rides the
    same fold. Identical scale shape to km_curve: one subject-keyed
    agg upstream, then ≥-cumulative at-risk counts and ≤-prefix sums
    as broadcast self-joins over the bounded distinct-duration frame.

    Float policy: dᵢ, nᵢ exact BIGINTs; each increment is one IEEE
    division; both prefix sums are ORDERED 0.0-seeded left folds over
    the ascending duration array (``F.aggregate`` ≡ DuckDB
    ``list_reduce(list(0.0 + x ORDER BY t), +)`` — 0.0+x₁ == x₁
    bitwise), so the whole curve is oracle-portable.
    """
    g, t = group_col, duration_col
    nr = _risk_table(per_subject, g, t, event_col)
    fct = nr.withColumn(
        "_h", F.col("d").cast("double") / F.col("n_risk")
    ).withColumn(
        "_v",
        F.col("d").cast("double")
        / (F.col("n_risk").cast("double") * F.col("n_risk")),
    )
    f2 = fct.select(
        F.col(g).alias("_g2"),
        F.col(t).alias("_tj"),
        F.col("_h").alias("_hj"),
        F.col("_v").alias("_vj"),
    )
    return (
        fct.join(
            F.broadcast(f2),
            (F.col("_g2") == F.col(g)) & (F.col("_tj") <= F.col(t)),
        )
        .groupBy(g, t, "n_risk", "d")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_tj", "_hj"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_hj"],
            ).alias("cumhaz"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_tj", "_vj"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_vj"],
            ).alias("cumhaz_var"),
        )
        .select(
            g,
            F.col(t).alias("t_days"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            "cumhaz",
            "cumhaz_var",
        )
    )
