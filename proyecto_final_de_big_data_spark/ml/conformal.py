"""Split-conformal prediction intervals — distribution-free,
finite-sample-valid uncertainty for ANY point predictor (Vovk et al.;
Lei et al. 2018 — public literature): with a held-out calibration set
of n absolute residuals, the k-th smallest residual with
``k = ceil((n+1)·(1−α))`` gives intervals ``ŷ ± q`` whose coverage is
≥ 1−α for exchangeable data, whatever the model is. This is the
honest companion to :mod:`.calibration` (which calibrates
probabilities) for REGRESSION outputs: the reference's training loop
(scripts/04_train_sparkml.py:114-129) reports RMSE/MAE point errors
and stops; this turns the same residuals into a guarantee.

Scale shape (100 TB): residuals reduce in ONE map-side-combined pass.
The exact path takes the k-th order statistic with ``percentile_disc``
at fraction k/n (the fraction is foldable — n comes from one
answer-scale count action, the bounded-driver-value discipline of the
IVF quantizer); the comparison ``cume_dist ≥ k/n`` is bit-safe because
both sides are the same IEEE division. The approximate path
(``exact=False``) keeps the COVERAGE GUARANTEE under sketching: KLL
rank error is ≤ n/accuracy, so it asks for the
``min(n, k + 2·n/accuracy)``-th rank instead — the returned value is
≥ the true k-th order statistic, intervals only widen, validity is
preserved (the same conservative-rank-margin argument as
``cap_per_group``'s megagroup pre-prune). Coverage is then verified on
the disjoint test split in the same single readout row.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin


def split_conformal_profile(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    cal_flag: Column,
    alpha: float = 0.1,
    exact: bool = True,
    accuracy: int = 10_000,
    decimals: int = 6,
) -> DataFrame:
    """One row ``(n_cal, k_order, q_hat, n_test, n_covered, coverage,
    interval_width)``: the conformal radius ``q_hat`` fitted on the
    calibration rows (``cal_flag`` true) and its empirical coverage on
    the remaining rows. ``cal_flag`` must be a DETERMINISTIC row
    expression (e.g. ``pmod(key, 5) == 0``) — the split IS the
    exchangeability assumption, and a nondeterministic flag can never
    be hash-verified. Rows with NULL/NaN prediction or label are
    excluded from both sides (they carry no residual).
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    ok = (
        p.isNotNull() & ~F.isnan(p) & y.isNotNull() & ~F.isnan(y)
    )
    base = df.filter(ok).select(
        cal_flag.cast("boolean").alias("__cal"),
        F.abs(y - p).alias("__r"),
    )
    cal = base.filter(F.col("__cal"))
    n = cal.count()  # one answer-scale driver value: k must be foldable
    if n == 0:
        raise ValueError("split_conformal_profile: empty calibration set")
    k = math.ceil((n + 1) * (1.0 - alpha))
    if k > n:
        raise ValueError(
            f"split_conformal_profile: calibration set too small for "
            f"alpha={alpha} (n={n} < required k={k}); the conformal "
            "interval would be infinite — lower alpha or add data"
        )
    if exact:
        q_agg = F.expr(
            f"percentile_disc({k}/{n}) WITHIN GROUP (ORDER BY __r)"
        )
    else:
        # conservative rank margin: sketch rank error <= n/accuracy,
        # ask for k + 2n/accuracy so q_hat >= the true k-th order
        # statistic and the 1-alpha guarantee survives approximation.
        k_marg = min(n, k + math.ceil(2.0 * n / accuracy))
        q_agg = F.percentile_approx(
            "__r", F.lit(k_marg / n), F.lit(accuracy)
        )
    # The 1-row fit frame is lineage-truncated: it feeds BOTH the
    # test-side coverage agg and the final readout, and it must
    # survive an EMPTY test split (an agg over the empty crossJoin
    # yields NULL first()s — the fitted radius would silently vanish).
    qf = pin(cal.agg(F.count(F.lit(1)).alias("n_cal"), q_agg.alias("__q")))
    test = base.filter(~F.col("__cal"))
    # 1-row crossJoin scalar pattern: q rides broadcast, no collect.
    tstats = test.crossJoin(F.broadcast(qf)).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum((F.col("__r") <= F.col("__q")).cast("long")).alias(
            "__covered"
        ),
        F.round(
            F.avg((F.col("__r") <= F.col("__q")).cast("double")),
            decimals,
        ).alias("coverage"),
    )
    return qf.crossJoin(tstats).select(
        "n_cal",
        F.lit(int(k)).alias("k_order"),
        F.round("__q", decimals).alias("q_hat"),
        "n_test",
        F.coalesce("__covered", F.lit(0)).alias("n_covered"),
        # coverage stays NULL on an empty test split — genuinely
        # undefined, unlike the counts
        "coverage",
        F.round(F.lit(2.0) * F.col("__q"), decimals).alias(
            "interval_width"
        ),
    )
