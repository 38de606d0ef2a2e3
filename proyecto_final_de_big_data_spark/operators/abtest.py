"""Experiment (A/B test) analysis: two-proportion z-test over per-unit
conversion flags, and CUPED variance-reduced mean comparison — the
readouts every experimentation dashboard runs on top of an event store.

Everything is closed-form arithmetic over TWO group aggregates, so each
readout is one aggregation pass at group cardinality and is exactly
restatable in ANSI SQL — the gates hash-match the statistics and the
confidence intervals, not just the counts. No sampling, no simulation,
no SciPy.

Scale shape: the per-unit frame (one row per experiment unit with its
variant and outcome/covariate) is produced upstream by a user-keyed
aggregation over events; this module then reduces it to ONE row. The
CUPED readout needs only the six per-arm sufficient sums (n, ΣX, ΣY,
ΣX², ΣY², ΣXY) — θ, the adjusted means, and the adjusted variances all
expand algebraically from those, so the whole thing is a single
conditional-aggregation pass (no second scan to apply θ row-wise).

Extension surface — the reference has no experimentation stage
(`/root/reference` computes only descriptive marts, README.md:60-90).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.rows import literal_rows


def two_proportion_ztest(
    units: DataFrame,
    group_col: str,
    success_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959963984540054,  # 95% two-sided normal quantile
) -> DataFrame:
    """One-row two-proportion z-test readout comparing ``treatment``
    against ``control``:

    ``(n_control, conv_control, n_treatment, conv_treatment,
    rate_control, rate_treatment, abs_lift, z_stat, ci_low, ci_high,
    significant)``

    - ``z_stat`` uses the pooled-variance form (the standard test
      statistic under H0: p_c == p_t);
    - the CI on the rate difference uses the UNpooled Wald standard
      error (the standard interval form), at the quantile ``z_crit``;
    - ``significant`` flags |z| > z_crit.

    Rates/lift/z/CI are rounded to 6 decimals so engines agree to the
    hash. Raises at action time — unconditionally, whatever columns the
    caller projects (a pruning-proof raising FILTER on the one-row
    aggregate, the hyptest grid-guard posture) — if either group is
    empty — a z-test over a
    missing arm is meaningless, not zero.
    """
    s = F.col(success_col).cast("int")
    g = F.col(group_col)
    agg = units.agg(
        F.coalesce(F.sum(F.when(g == control, 1).otherwise(0)), F.lit(0)).alias("n_c"),
        F.coalesce(F.sum(F.when(g == control, s).otherwise(0)), F.lit(0)).alias("x_c"),
        F.coalesce(F.sum(F.when(g == treatment, 1).otherwise(0)), F.lit(0)).alias("n_t"),
        F.coalesce(F.sum(F.when(g == treatment, s).otherwise(0)), F.lit(0)).alias("x_t"),
    )
    x_c, x_t = F.col("x_c").cast("double"), F.col("x_t").cast("double")
    # NULL-when-zero denominators: under ANSI mode a 0-unit arm would
    # raise DIVIDE_BY_ZERO inside the plan before the friendly
    # validation (the in-plan guard below) ever ran; dividing by NULL
    # instead yields NULL and lets the empty-arm guard report properly.
    n_c = F.when(F.col("n_c") > 0, F.col("n_c").cast("double"))
    n_t = F.when(F.col("n_t") > 0, F.col("n_t").cast("double"))
    # Degenerate-input validation stays IN-PLAN (raise_error at action
    # time, never a construction-time collect) but as a raising FILTER
    # on the one-row aggregate, not a guarded output column: Catalyst
    # prunes columns a caller never projects, so a guard riding
    # n_control silently vanished under .select("z_stat") or .count()
    # (the r11 ADVICE finding). A filter's predicate survives pruning —
    # its references keep n_c/n_t alive in the aggregate no matter what
    # the caller projects — and every healthy row passes with the
    # original expressions untouched, so values are bit-identical
    # (the hyptest._apply_grid_guard posture).
    gate = F.when(
        (F.col("n_c") == 0) | (F.col("n_t") == 0),
        F.raise_error(
            F.concat(
                F.lit(
                    "two_proportion_ztest needs units in BOTH arms; got "
                    f"control={control!r} n="
                ),
                F.col("n_c").cast("string"),
                F.lit(f", treatment={treatment!r} n="),
                F.col("n_t").cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    p_c, p_t = x_c / n_c, x_t / n_t
    pooled = (x_c + x_t) / (n_c + n_t)
    se_pooled = F.sqrt(pooled * (1.0 - pooled) * (1.0 / n_c + 1.0 / n_t))
    se_wald = F.sqrt(p_c * (1.0 - p_c) / n_c + p_t * (1.0 - p_t) / n_t)
    diff = p_t - p_c
    z = F.when(se_pooled > 0, diff / se_pooled).otherwise(F.lit(0.0))
    return agg.filter(gate).select(
        F.col("n_c").alias("n_control"),
        F.col("x_c").alias("conv_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("x_t").alias("conv_treatment"),
        F.round(p_c, 6).alias("rate_control"),
        F.round(p_t, 6).alias("rate_treatment"),
        F.round(diff, 6).alias("abs_lift"),
        F.round(z, 6).alias("z_stat"),
        F.round(diff - F.lit(z_crit) * se_wald, 6).alias("ci_low"),
        F.round(diff + F.lit(z_crit) * se_wald, 6).alias("ci_high"),
        (F.abs(z) > F.lit(z_crit)).cast("int").alias("significant"),
    )


def cuped_mean_ztest(
    units: DataFrame,
    group_col: str,
    metric_col: str,
    covariate_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959963984540054,  # 95% two-sided normal quantile
) -> DataFrame:
    """One-row CUPED (Controlled-experiment Using Pre-Existing Data,
    Deng et al., WSDM 2013) variance-reduced comparison of a continuous
    metric between two arms:

    ``(n_control, n_treatment, theta, mean_control, mean_treatment,
    lift_raw, se_raw, lift_cuped, se_cuped, z_cuped, ci_low, ci_high,
    var_reduction_pct, significant)``

    - ``theta = cov(X, Y) / var(X)`` pooled over both arms (the
      standard estimator; the sample/population divisor cancels in the
      ratio);
    - the adjusted metric is ``Y' = Y − θ·(X − mean(X))``; its per-arm
      mean and SAMPLE variance are expanded algebraically from the six
      per-arm sufficient sums, so no second pass applies θ row-wise;
    - ``z_cuped`` is the Welch-style z on adjusted means
      (``se = sqrt(s²_t/n_t + s²_c/n_c)``), CI at ``z_crit``;
    - ``var_reduction_pct = 100·(1 − s²_adj,pooled / s²_raw,pooled)``
      — the realized variance reduction (≈ 100·ρ² for large n).

    Rows with NULL/NaN metric or covariate are excluded up front (one
    poisoned unit would NULL every statistic). Statistics round to 6
    decimals so engines agree to the hash. Raises at action time —
    unconditionally, whatever columns the caller projects (a
    pruning-proof raising FILTER on the one-row aggregate, the hyptest
    grid-guard posture) — if either arm has fewer than 2 usable units
    or the covariate is constant (θ
    undefined — CUPED over a degenerate covariate is a caller bug, not
    a zero).
    """
    g = F.col(group_col)
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    clean = units.filter(
        y.isNotNull() & ~F.isnan(y) & x.isNotNull() & ~F.isnan(x)
    )

    def _arm(val: str, expr, name: str):
        return F.coalesce(
            F.sum(F.when(g == val, expr).otherwise(F.lit(0.0))), F.lit(0.0)
        ).alias(name)

    agg = clean.agg(
        F.coalesce(
            F.sum(F.when(g == control, 1).otherwise(0)), F.lit(0)
        ).alias("n_c"),
        _arm(control, x, "sx_c"),
        _arm(control, y, "sy_c"),
        _arm(control, x * x, "sxx_c"),
        _arm(control, y * y, "syy_c"),
        _arm(control, x * y, "sxy_c"),
        F.coalesce(
            F.sum(F.when(g == treatment, 1).otherwise(0)), F.lit(0)
        ).alias("n_t"),
        _arm(treatment, x, "sx_t"),
        _arm(treatment, y, "sy_t"),
        _arm(treatment, x * x, "sxx_t"),
        _arm(treatment, y * y, "syy_t"),
        _arm(treatment, x * y, "sxy_t"),
    )
    # NULL-when-degenerate denominators: under ANSI mode a 0/1-unit arm
    # or a constant covariate would raise DIVIDE_BY_ZERO inside the
    # plan before the friendly validation below ever ran; NULL instead
    # propagates and lets the check report properly.
    n_c = F.when(F.col("n_c") >= 2, F.col("n_c").cast("double"))
    n_t = F.when(F.col("n_t") >= 2, F.col("n_t").cast("double"))
    nn = n_c + n_t
    sx, sy = F.col("sx_c") + F.col("sx_t"), F.col("sy_c") + F.col("sy_t")
    sxx = F.col("sxx_c") + F.col("sxx_t")
    sxy = F.col("sxy_c") + F.col("sxy_t")
    ssx = sxx - sx * sx / nn  # pooled centered Σ(x−x̄)²
    theta = (sxy - sx * sy / nn) / F.when(ssx > 0, ssx)
    mean_x = sx / nn
    # Degenerate-input validation stays IN-PLAN (raise_error at action
    # time, never a construction-time collect) but as a raising FILTER
    # on the one-row aggregate, not guarded output columns: Catalyst
    # prunes columns a caller never projects, so guards riding
    # n_control/theta silently vanished under .select("z_cuped") or
    # .count() (the r11 ADVICE finding). The filter predicate survives
    # pruning, and its chained WHEN evaluates conditions IN ORDER, so
    # the arm check always outranks the covariate check (where ssx is
    # non-NULL by construction); healthy rows pass with the original
    # expressions untouched, so values are bit-identical (the
    # hyptest._apply_grid_guard posture).
    arms_ok = (F.col("n_c") >= 2) & (F.col("n_t") >= 2)
    gate = (
        F.when(
            ~arms_ok,
            F.raise_error(
                F.concat(
                    F.lit(
                        "cuped_mean_ztest needs >=2 usable units in BOTH arms; "
                        f"got control={control!r} n="
                    ),
                    F.col("n_c").cast("string"),
                    F.lit(f", treatment={treatment!r} n="),
                    F.col("n_t").cast("string"),
                )
            ).cast("boolean"),
        )
        .when(
            ~(ssx > 0),
            F.raise_error(
                F.lit(
                    f"cuped_mean_ztest: covariate {covariate_col!r} is constant "
                    "across units — theta is undefined; use the plain z-test"
                )
            ).cast("boolean"),
        )
        .otherwise(F.lit(True))
    )

    def _stats(suffix: str, n):
        sy_a, sx_a = F.col(f"sy_{suffix}"), F.col(f"sx_{suffix}")
        syy_a, sxx_a = F.col(f"syy_{suffix}"), F.col(f"sxx_{suffix}")
        sxy_a = F.col(f"sxy_{suffix}")
        mean_y = sy_a / n
        mean_adj = mean_y - theta * (sx_a / n - mean_x)
        # greatest(0, ·): the expansions are algebraically >= 0, but FP
        # cancellation on a (near-)perfectly-correlated or constant
        # metric can dip a hair negative — sqrt would then be NaN here
        # and a hard error in the SQL restatement.
        var_raw = F.greatest(
            F.lit(0.0), (syy_a - sy_a * sy_a / n) / (n - 1.0)
        )
        s_adj = sy_a - theta * sx_a  # Σ(y−θx)
        ss_adj = syy_a - 2.0 * theta * sxy_a + theta * theta * sxx_a
        var_adj = F.greatest(
            F.lit(0.0), (ss_adj - s_adj * s_adj / n) / (n - 1.0)
        )
        return mean_y, mean_adj, var_raw, var_adj

    mean_c, adj_c, vraw_c, vadj_c = _stats("c", n_c)
    mean_t, adj_t, vraw_t, vadj_t = _stats("t", n_t)
    lift_raw = mean_t - mean_c
    se_raw = F.sqrt(vraw_t / n_t + vraw_c / n_c)
    lift_cuped = adj_t - adj_c
    se_cuped = F.sqrt(vadj_t / n_t + vadj_c / n_c)
    z = F.when(se_cuped > 0, lift_cuped / se_cuped).otherwise(F.lit(0.0))
    pooled_raw = ((n_c - 1.0) * vraw_c + (n_t - 1.0) * vraw_t) / (nn - 2.0)
    pooled_adj = ((n_c - 1.0) * vadj_c + (n_t - 1.0) * vadj_t) / (nn - 2.0)
    var_red = F.when(
        pooled_raw > 0, 100.0 * (1.0 - pooled_adj / pooled_raw)
    ).otherwise(F.lit(0.0))
    return agg.filter(gate).select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(theta, 6).alias("theta"),
        F.round(mean_c, 6).alias("mean_control"),
        F.round(mean_t, 6).alias("mean_treatment"),
        F.round(lift_raw, 6).alias("lift_raw"),
        F.round(se_raw, 6).alias("se_raw"),
        F.round(lift_cuped, 6).alias("lift_cuped"),
        F.round(se_cuped, 6).alias("se_cuped"),
        F.round(z, 6).alias("z_cuped"),
        F.round(lift_cuped - F.lit(z_crit) * se_cuped, 6).alias("ci_low"),
        F.round(lift_cuped + F.lit(z_crit) * se_cuped, 6).alias("ci_high"),
        F.round(var_red, 6).alias("var_reduction_pct"),
        (F.abs(z) > F.lit(z_crit)).cast("int").alias("significant"),
    )


def experiment_power(
    units: DataFrame,
    metric_col: str,
    covariate_col: str | None = None,
    target_rel_mde: float = 0.01,
    z_alpha: float = 1.959963984540054,  # two-sided 5%
    z_power: float = 0.8416212335729143,  # 80% power
) -> DataFrame:
    """One-row pre-experiment power/MDE planning readout over a
    HISTORICAL unit frame (the sample you would randomize):

    ``(n_units, mean, sd, cv, mde_abs, mde_rel, n_per_arm_target,
    rho2, var_reduction_pct, mde_abs_cuped, n_per_arm_target_cuped)``

    - ``mde_abs`` is the absolute lift detectable at significance
      z_alpha / power z_power if THIS sample were split 50/50:
      ``(z_a + z_b) * sd * sqrt(2/(n/2))``; ``mde_rel`` divides by the
      mean (NULL when the mean is 0);
    - ``n_per_arm_target = ceil(2 * sd^2 * (z_a+z_b)^2 / delta^2)``
      for the target absolute effect ``delta = target_rel_mde * mean``
      — the standard two-sample normal-approximation sample size;
    - with ``covariate_col``, ``rho2`` is the squared Pearson
      correlation between covariate and metric on the same frame, and
      the ``_cuped`` columns re-run both formulas on the CUPED-adjusted
      variance ``sd^2 * (1 - rho2)`` (Deng et al. WSDM'13) — the
      planning-side twin of :func:`cuped_mean_ztest`; without a
      covariate they are NULL.

    One aggregation pass at unit-frame scale; everything else is
    closed-form arithmetic on the single answer row. NULL/NaN metric
    (or covariate, when given) rows are excluded. Raises at action
    time — unconditionally, whatever columns the caller projects (a
    pruning-proof raising FILTER on the one-row aggregate, the hyptest
    grid-guard posture) — on fewer than 2 usable units, zero metric
    variance, or a constant covariate
    (power over a constant metric and rho^2 over a degenerate
    covariate are caller bugs — the cuped_mean_ztest posture).
    """
    if target_rel_mde <= 0:
        raise ValueError(
            f"experiment_power needs target_rel_mde > 0; got {target_rel_mde}"
        )
    y = F.col(metric_col).cast("double")
    cond = y.isNotNull() & ~F.isnan(y)
    cols = [y.alias("__y")]
    if covariate_col is not None:
        x = F.col(covariate_col).cast("double")
        cond = cond & x.isNotNull() & ~F.isnan(x)
        cols.append(x.alias("__x"))
    clean = units.filter(cond).select(*cols)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
    ]
    if covariate_col is not None:
        aggs += [
            F.sum("__x").alias("sx"),
            F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
            F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        ]
    agg = clean.agg(*aggs)
    # NULL-propagating degenerate guards (ANSI-safe; the named
    # validation is IN-PLAN below, the cohens_kappa raise_error posture).
    n = F.when(F.col("n") >= 2, F.col("n").cast("double"))
    var_raw = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1.0)
    var = F.when(var_raw > 0, var_raw)
    mean = F.col("sy") / n
    sd = F.sqrt(var)
    # Degenerate-input validation IN-PLAN (raise_error at action time,
    # never a construction-time collect) but as a raising FILTER on the
    # one-row aggregate, not guarded output columns: Catalyst prunes
    # columns a caller never projects, so guards riding n_units/sd
    # silently vanished under .select("mde_abs") or .count() (the r11
    # ADVICE finding). The filter's chained WHEN evaluates conditions
    # IN ORDER (unit count, then metric variance, then — when a
    # covariate is given — covariate variance, appended below), so one
    # deterministic message fires; healthy rows pass with the original
    # expressions untouched, so values are bit-identical (the
    # hyptest._apply_grid_guard posture).
    gate = F.when(
        F.col("n") < 2,
        F.raise_error(
            F.concat(
                F.lit("experiment_power needs >= 2 usable units; got "),
                F.col("n").cast("string"),
            )
        ).cast("boolean"),
    ).when(
        ~(var_raw > 0),
        F.raise_error(
            F.lit(
                f"experiment_power: metric {metric_col!r} has zero variance "
                "— MDE/sample-size are undefined over a constant metric"
            )
        ).cast("boolean"),
    )
    zsum = F.lit(z_alpha + z_power)
    # 50/50 split of THIS sample: se = sd * sqrt(1/(n/2) + 1/(n/2)).
    mde_abs = zsum * sd * F.sqrt(4.0 / n)
    delta = F.when(mean != 0, F.lit(target_rel_mde) * F.abs(mean))
    n_target = F.ceil(2.0 * var * zsum * zsum / (delta * delta))
    if covariate_col is not None:
        ssx = F.col("sxx") - F.col("sx") * F.col("sx") / n
        ssy = F.col("syy") - F.col("sy") * F.col("sy") / n
        sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / n
        rho2 = F.when(
            (ssx > 0) & (ssy > 0), (sxy_c * sxy_c) / (ssx * ssy)
        )
        # Third gate branch, reached only when n >= 2 and var_raw > 0
        # (ssy > 0) — the WHEN chain's order makes it disjoint.
        gate = gate.when(
            ~(ssx > 0),
            F.raise_error(
                F.lit(
                    f"experiment_power: covariate {covariate_col!r} is "
                    "constant across units — rho^2 is undefined; plan "
                    "without a covariate (the cuped_mean_ztest posture: a "
                    "degenerate covariate is a caller bug, not a zero)"
                )
            ).cast("boolean"),
        )
        var_adj = F.greatest(F.lit(0.0), var * (1.0 - rho2))
        mde_cuped = zsum * F.sqrt(var_adj) * F.sqrt(4.0 / n)
        n_target_cuped = F.ceil(
            2.0 * var_adj * zsum * zsum / (delta * delta)
        )
        var_red = 100.0 * rho2
    else:
        rho2 = F.lit(None).cast("double")
        var_red = F.lit(None).cast("double")
        mde_cuped = F.lit(None).cast("double")
        n_target_cuped = F.lit(None).cast("long")
    return agg.filter(gate.otherwise(F.lit(True))).select(
        F.col("n").alias("n_units"),
        F.round(mean, 6).alias("mean"),
        F.round(sd, 6).alias("sd"),
        F.round(F.when(mean != 0, sd / F.abs(mean)), 6).alias("cv"),
        F.round(mde_abs, 6).alias("mde_abs"),
        F.round(F.when(mean != 0, mde_abs / F.abs(mean)), 6).alias(
            "mde_rel"
        ),
        n_target.cast("long").alias("n_per_arm_target"),
        F.round(rho2, 6).alias("rho2"),
        F.round(var_red, 6).alias("var_reduction_pct"),
        F.round(mde_cuped, 6).alias("mde_abs_cuped"),
        n_target_cuped.cast("long").alias("n_per_arm_target_cuped"),
    )


def difference_in_differences(
    units: DataFrame,
    group_col: str,
    period_col: str,
    metric_col: str,
    control: str,
    treatment: str,
    pre: str,
    post: str,
    z_crit: float = 1.959963984540054,  # 95% two-sided normal quantile
) -> DataFrame:
    """One-row difference-in-differences readout over a repeated
    cross-section (Card & Krueger 1994's two-group/two-period design —
    public literature): the treatment arm's pre→post change minus the
    control arm's, which nets out any shared time shock under the
    parallel-trends assumption.

    ``(n_control_pre, n_control_post, n_treatment_pre,
    n_treatment_post, mean_control_pre, mean_control_post,
    mean_treatment_pre, mean_treatment_post, diff_control,
    diff_treatment, did, se, z_stat, ci_low, ci_high, significant)``

    - ``did = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)``;
    - ``se`` is the four-cell Welch form for independent samples
      (repeated cross-section, NOT a panel):
      ``sqrt(Σ_cell s²_cell / n_cell)`` with sample variances;
    - ``z_stat = did / se`` (0 when se is 0), CI at ``z_crit``,
      ``significant`` flags |z| > z_crit.

    One conditional-aggregation pass reduces the unit frame to the
    four cells' sufficient sums (n, Σy, Σy²); everything else is
    closed-form on the single answer row — the :func:`cuped_mean_ztest`
    scale shape. NULL/NaN metrics are excluded up front. Raises at
    action time — unconditionally, whatever columns the caller projects
    (a pruning-proof raising FILTER on the one-row aggregate, the
    hyptest grid-guard posture) — if the four (group, period) labels
    don't identify four cells with >=2 usable units each (sample variance undefined otherwise — a caller
    bug, not a zero); colliding label pairs (control == treatment /
    pre == post) still raise at construction.

    Extension surface — the reference has no experimentation stage;
    extension per SURVEY §8, the quasi-experimental sibling of the
    CUPED/power readouts above.
    """
    if control == treatment:
        raise ValueError("difference_in_differences: control == treatment")
    if pre == post:
        raise ValueError("difference_in_differences: pre == post")
    g, p = F.col(group_col), F.col(period_col)
    y = F.col(metric_col).cast("double")
    clean = units.filter(y.isNotNull() & ~F.isnan(y))

    cells = (
        ("cp", control, pre),
        ("co", control, post),
        ("tp", treatment, pre),
        ("to", treatment, post),
    )
    aggs = []
    for tag, gv, pv in cells:
        cell = (g == gv) & (p == pv)
        aggs.append(
            F.coalesce(F.sum(F.when(cell, 1).otherwise(0)), F.lit(0)).alias(
                f"n_{tag}"
            )
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(cell, y).otherwise(F.lit(0.0))), F.lit(0.0)
            ).alias(f"sy_{tag}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(cell, y * y).otherwise(F.lit(0.0))), F.lit(0.0)
            ).alias(f"syy_{tag}")
        )
    agg = clean.agg(*aggs)

    def _cell(tag: str):
        # NULL-when-degenerate (the cuped_mean_ztest posture): a 0/1-unit
        # cell would raise DIVIDE_BY_ZERO inside the plan under ANSI mode
        # before the friendly validation below ran; NULL propagates.
        n = F.when(F.col(f"n_{tag}") >= 2, F.col(f"n_{tag}").cast("double"))
        mean = F.col(f"sy_{tag}") / n
        var = F.greatest(
            F.lit(0.0),
            (F.col(f"syy_{tag}") - F.col(f"sy_{tag}") * F.col(f"sy_{tag}") / n)
            / (n - 1.0),
        )
        return n, mean, var

    n_cp, m_cp, v_cp = _cell("cp")
    n_co, m_co, v_co = _cell("co")
    n_tp, m_tp, v_tp = _cell("tp")
    n_to, m_to, v_to = _cell("to")

    # Cell validation IN-PLAN (raise_error at action time, never a
    # construction-time collect) but as ONE raising FILTER on the
    # one-row aggregate, not guarded count columns: Catalyst prunes
    # columns a caller never projects, so a guard riding n_control_pre
    # silently vanished under .select("did") or .count() (the r11
    # ADVICE finding). The filter's chained WHEN checks the four cells
    # IN ORDER (cp, co, tp, to), so the first thin cell in that fixed
    # order names the message deterministically; healthy rows pass with
    # the original expressions untouched, so values are bit-identical
    # (the hyptest._apply_grid_guard posture).
    gate = None
    for tag, gv, pv in cells:
        branch = F.raise_error(
            F.concat(
                F.lit(
                    "difference_in_differences needs >=2 usable units "
                    f"per cell; cell (group={gv!r}, period={pv!r}) has "
                ),
                F.col(f"n_{tag}").cast("string"),
            )
        ).cast("boolean")
        cond = F.col(f"n_{tag}") < 2
        gate = F.when(cond, branch) if gate is None else gate.when(cond, branch)
    gate = gate.otherwise(F.lit(True))
    diff_c = m_co - m_cp
    diff_t = m_to - m_tp
    did = diff_t - diff_c
    se = F.sqrt(v_to / n_to + v_tp / n_tp + v_co / n_co + v_cp / n_cp)
    z = F.when(se > 0, did / se).otherwise(F.lit(0.0))
    return agg.filter(gate).select(
        F.col("n_cp").alias("n_control_pre"),
        F.col("n_co").alias("n_control_post"),
        F.col("n_tp").alias("n_treatment_pre"),
        F.col("n_to").alias("n_treatment_post"),
        F.round(m_cp, 6).alias("mean_control_pre"),
        F.round(m_co, 6).alias("mean_control_post"),
        F.round(m_tp, 6).alias("mean_treatment_pre"),
        F.round(m_to, 6).alias("mean_treatment_post"),
        F.round(diff_c, 6).alias("diff_control"),
        F.round(diff_t, 6).alias("diff_treatment"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z_stat"),
        F.round(did - F.lit(z_crit) * se, 6).alias("ci_low"),
        F.round(did + F.lit(z_crit) * se, 6).alias("ci_high"),
        (F.abs(z) > F.lit(z_crit)).cast("int").alias("significant"),
    )


def msprt_monitor(
    units: DataFrame,
    day_col: str,
    group_col: str,
    metric_col: str,
    control: str,
    treatment: str,
    tau: float = 1.0,
    alpha: float = 0.05,
    decimals: int = 6,
) -> DataFrame:
    """Always-valid sequential A/B monitoring via the mixture
    sequential probability ratio test (mSPRT — Johari, Pekelis &
    Walsh, "Always Valid Inference", 2017/2022 — public literature):
    the readout a dashboard can refresh EVERY day without inflating
    false positives, unlike repeatedly re-running a fixed-horizon
    z-test.

    One row per ``day_col`` value with the experiment state as of that
    day (cumulative over all days so far):

    ``(day, n_control, n_treatment, mean_control, mean_treatment,
    delta, variance, lambda, p_always_valid, significant)``

    - ``delta`` = cumulative treatment mean − control mean; its
      estimator variance ``V = s²_t/n_t + s²_c/n_c`` (Welch, sample
      variances from cumulative sufficient sums);
    - the mixture likelihood ratio against H0: δ=0 with prior
      δ ~ N(0, τ²):  ``Λ = sqrt(V/(V+τ²)) · exp(δ²·τ²/(2·V·(V+τ²)))``;
    - ``p_always_valid = min(1, 1 / max_{k<=day} Λ_k)`` — monotone
      nonincreasing, valid at EVERY stopping time;
    - ``significant`` flags p <= ``alpha``; days where either arm has
      fewer than 2 cumulative units carry NULL Λ/p (variance
      undefined yet), and so do days whose pooled estimator variance
      V is exactly 0 (all metric values identical so far — Λ's V in
      the denominator is undefined; the ``v > 0`` guard below). A
      monitoring series reports both degenerate states honestly as
      NULL instead of raising.

    Scale shape (100 TB of raw events): ONE conditional aggregation
    reduces units to per-day sufficient sums (days × 6 doubles —
    answer scale), cumulative sums and the running max are windows
    over that DAY-cardinality frame (never over raw units), and the
    closed form is a projection. τ is the caller's prior scale on the
    effect (the paper tunes it to the historically typical effect
    size).

    Extension surface — the reference has no experimentation stage;
    extension per SURVEY §8, the sequential sibling of the
    fixed-horizon CUPED/DiD/power readouts above.
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if control == treatment:
        raise ValueError("msprt_monitor: control == treatment")
    from pyspark.sql import Window

    g = F.col(group_col)
    y = F.col(metric_col).cast("double")
    clean = units.filter(
        y.isNotNull() & ~F.isnan(y) & g.isin(control, treatment)
    )

    def _arm(val: str, expr, name: str):
        return F.coalesce(
            F.sum(F.when(g == val, expr).otherwise(F.lit(0.0))), F.lit(0.0)
        ).alias(name)

    daily = clean.groupBy(F.col(day_col).alias("day")).agg(
        F.coalesce(F.sum(F.when(g == control, 1).otherwise(0)), F.lit(0)).alias("dn_c"),
        _arm(control, y, "dsy_c"),
        _arm(control, y * y, "dsyy_c"),
        F.coalesce(F.sum(F.when(g == treatment, 1).otherwise(0)), F.lit(0)).alias("dn_t"),
        _arm(treatment, y, "dsy_t"),
        _arm(treatment, y * y, "dsyy_t"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("dn_c").over(w).alias("n_c"),
        F.sum("dsy_c").over(w).alias("sy_c"),
        F.sum("dsyy_c").over(w).alias("syy_c"),
        F.sum("dn_t").over(w).alias("n_t"),
        F.sum("dsy_t").over(w).alias("sy_t"),
        F.sum("dsyy_t").over(w).alias("syy_t"),
    )
    n_c = F.when(F.col("n_c") >= 2, F.col("n_c").cast("double"))
    n_t = F.when(F.col("n_t") >= 2, F.col("n_t").cast("double"))
    mean_c = F.col("sy_c") / n_c
    mean_t = F.col("sy_t") / n_t
    var_c = F.greatest(
        F.lit(0.0),
        (F.col("syy_c") - F.col("sy_c") * F.col("sy_c") / n_c) / (n_c - 1.0),
    )
    var_t = F.greatest(
        F.lit(0.0),
        (F.col("syy_t") - F.col("sy_t") * F.col("sy_t") / n_t) / (n_t - 1.0),
    )
    delta = mean_t - mean_c
    v = var_t / n_t + var_c / n_c
    t2 = float(tau) * float(tau)
    lam = F.when(
        v > 0,
        F.sqrt(v / (v + F.lit(t2)))
        * F.exp(
            delta * delta * F.lit(t2) / (F.lit(2.0) * v * (v + F.lit(t2)))
        ),
    )
    scored = cum.withColumn("__lam", lam)
    wmax = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    runmax = F.max("__lam").over(wmax)
    # least() IGNORES NULLs in Spark (least(1.0, NULL) = 1.0), so the
    # warm-up days' NULL runmax must be guarded explicitly or they
    # would read as p = 1.0 instead of the documented NULL.
    p = F.when(
        runmax.isNotNull(), F.least(F.lit(1.0), F.lit(1.0) / runmax)
    )
    return scored.select(
        "day",
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(mean_c, decimals).alias("mean_control"),
        F.round(mean_t, decimals).alias("mean_treatment"),
        F.round(delta, decimals).alias("delta"),
        F.round(v, decimals).alias("variance"),
        F.round(F.col("__lam"), decimals).alias("lambda"),
        F.round(p, decimals).alias("p_always_valid"),
        F.when(p.isNotNull(), (p <= F.lit(float(alpha))).cast("int")).alias(
            "significant"
        ),
    )


def chi2_critical_approx(df_: int, z: float = 3.090232306167813) -> float:
    """Wilson–Hilferty chi-square upper-tail critical value
    approximation (Wilson & Hilferty, PNAS 1931 — public literature):
    χ²_{df, 1−α} ≈ df·(1 − 2/(9·df) + z_{1−α}·sqrt(2/(9·df)))³. The
    default z is the normal 0.999 quantile (α = 0.001, the standard
    SRM alert level). Within a few percent of the exact value (df=1:
    11.16 vs exact 10.83) — pass an exact table value to
    :func:`srm_check` when the boundary matters."""
    if df_ < 1:
        raise ValueError(f"df must be >= 1, got {df_}")
    h = 2.0 / (9.0 * df_)
    return df_ * (1.0 - h + z * (h ** 0.5)) ** 3


def srm_check(
    units: DataFrame,
    group_col: str,
    expected: dict[str, float],
    chi2_crit: float | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al., "Diagnosing Sample
    Ratio Mismatch in Online Controlled Experiments", KDD 2019 —
    public literature): the chi-square goodness-of-fit of the observed
    per-arm unit counts against the DESIGNED allocation — the hygiene
    gate every experiment readout should run first, because a skewed
    assignment invalidates the downstream z-tests no matter how
    significant they look.

    One row: ``(n_arms, n_total, n_unexpected_units, chi2, chi2_crit,
    srm_suspected)`` with ``chi2 = Σ_arms (O_i − E_i)²/E_i``,
    ``E_i = f_i·N`` over the arms named in ``expected`` (group values
    compared as strings). Arms expected but absent from the data
    contribute their full E_i (a vanished arm IS a mismatch); units in
    arms NOT named in ``expected`` are excluded from the statistic and
    counted in ``n_unexpected_units`` (nonzero usually means logging
    pollution — investigate before trusting the experiment at all).
    ``srm_suspected`` compares the unrounded χ² against ``chi2_crit``
    (default: the Wilson–Hilferty α=0.001 approximation for
    df = arms−1, the conventional SRM alert level).

    Scale shape (100 TB of raw events): ONE group-cardinality count
    aggregation (map-side combined); the expected-allocation frame is
    an |arms|-row literal joined broadcast; N is a 1-row scalar
    crossJoin (house pattern). Exactly restatable in SQL — O_i are
    integers and each component is one subtract/square/divide.

    Extension surface — the reference has no experimentation stage;
    extension per SURVEY §8, the assignment-integrity sibling of the
    z-test/CUPED/DiD/mSPRT readouts above.
    """
    if len(expected) < 2:
        raise ValueError("srm_check needs at least 2 expected arms")
    for arm, f_i in expected.items():
        if not (0.0 < float(f_i) <= 1.0):
            raise ValueError(
                f"expected fraction for arm {arm!r} must be in (0, 1], got {f_i}"
            )
    tot_f = sum(float(f_i) for f_i in expected.values())
    if abs(tot_f - 1.0) > 1e-6:
        raise ValueError(f"expected fractions must sum to 1, got {tot_f}")
    df_ = len(expected) - 1
    crit = float(chi2_crit) if chi2_crit is not None else chi2_critical_approx(df_)

    spark = units.sparkSession
    exp_df = literal_rows(
        spark,
        [(str(arm), float(f_i)) for arm, f_i in sorted(expected.items())],
        "group string, expected_frac double",
    )
    obs = units.groupBy(
        F.col(group_col).cast("string").alias("group")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    joined = exp_df.join(obs, "group", "left").select(
        "group",
        "expected_frac",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
    )
    unexpected = (
        obs.join(F.broadcast(exp_df.select("group")), "group", "left_anti")
        .agg(F.coalesce(F.sum("n_obs"), F.lit(0)).alias("__n_unex"))
    )
    n_frame = joined.agg(F.sum("n_obs").alias("__N"))
    comp = joined.crossJoin(F.broadcast(n_frame)).select(
        "group",
        "n_obs",
        "__N",
        (
            (F.col("n_obs").cast("double") - F.col("expected_frac") * F.col("__N"))
            * (F.col("n_obs").cast("double") - F.col("expected_frac") * F.col("__N"))
            / (F.col("expected_frac") * F.col("__N"))
        ).alias("__comp"),
    )
    agg = comp.agg(
        F.count(F.lit(1)).alias("n_arms"),
        F.max("__N").alias("n_total"),
        F.sum("__comp").alias("__chi2"),
    )
    return agg.crossJoin(F.broadcast(unexpected)).select(
        "n_arms",
        "n_total",
        F.col("__n_unex").cast("long").alias("n_unexpected_units"),
        F.round("__chi2", decimals).alias("chi2"),
        F.lit(round(crit, decimals)).alias("chi2_crit"),
        (F.col("__chi2") > F.lit(crit)).alias("srm_suspected"),
    )


def cmh_test(
    units: DataFrame,
    stratum_col: str,
    group_col: str,
    success_col: str,
    control: str,
    treatment: str,
    chi2_crit: float = 3.841458820694124,  # 95% chi-square(1) quantile
    decimals: int = 6,
) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 test + pooled odds ratio
    (Mantel & Haenszel, JNCI 1959; Cochran, Biometrics 1954 — public
    literature): the Simpson's-paradox-safe experiment readout — a
    conversion effect tested WITHIN each stratum (country, platform,
    cohort) and pooled across them, so a confounded allocation cannot
    manufacture or mask a marginal effect the strata don't support.

    One row: ``(n_strata, n_units, or_cmh, chi2_cmh, chi2_crit,
    significant)`` from the per-stratum 2×2 cells (a = treatment
    successes, b = treatment failures, c = control successes,
    d = control failures, n = a+b+c+d):

    - ``or_cmh = Σ(a·d/n) / Σ(b·c/n)`` — the MH common odds ratio
      (NULL when the denominator is 0: no discordant b·c mass);
    - ``chi2_cmh = (Σ(a − E))² / ΣVar`` with ``E = (a+b)(a+c)/n`` and
      ``Var = (a+b)(c+d)(a+c)(b+d) / (n²(n−1))`` (no continuity
      correction — the large-sample form; NULL when ΣVar = 0, e.g.
      every stratum has a degenerate margin);
    - ``significant`` compares the unrounded χ² against ``chi2_crit``
      (default: the exact 0.95 χ²₁ quantile; α=0.001 via
      :func:`chi2_critical_approx` if you prefer the SRM alert level).

    Zero-margin strata contribute 0 to every sum (a−E and Var both
    vanish) and single-unit strata contribute nothing to Var (the
    n−1 guard below) — both the textbook conventions, handled without
    dropping rows. Success is any NONZERO value of ``success_col``
    after an int cast; rows whose flag casts to NULL (non-numeric
    strings, genuine NULLs) are EXCLUDED from the cells entirely —
    surface that volume upstream if it matters. Units outside the two
    named arms are ignored.

    Scale shape (100 TB of raw units): ONE stratum-cardinality
    conditional aggregation to the four cells (map-side combined),
    then a stratum-cardinality projection + ONE answer-scale reduce.
    All cell arithmetic is integer; the divisions are per-stratum
    doubles summed at stratum cardinality.

    Extension surface — the reference has no experimentation stage;
    extension per SURVEY §8, the stratified sibling of the z-test /
    CUPED / DiD / mSPRT / SRM readouts above.
    """
    if control == treatment:
        raise ValueError("cmh_test: control == treatment")
    g = F.col(group_col)
    si = F.col(success_col).cast("int")
    s = (si != 0).cast("long")
    cells = (
        units.filter(g.isin(control, treatment) & si.isNotNull())
        .groupBy(stratum_col)
        .agg(
            F.sum(F.when(g == treatment, s).otherwise(0)).alias("__a"),
            F.sum(F.when(g == treatment, 1 - s).otherwise(0)).alias("__b"),
            F.sum(F.when(g == control, s).otherwise(0)).alias("__c"),
            F.sum(F.when(g == control, 1 - s).otherwise(0)).alias("__d"),
        )
    )
    a, b, c, d = (F.col(x).cast("double") for x in ("__a", "__b", "__c", "__d"))
    n = a + b + c + d
    per = cells.select(
        (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")).alias(
            "__n_units"
        ),
        F.when(n > 0, a * d / n).otherwise(F.lit(0.0)).alias("__ad"),
        F.when(n > 0, b * c / n).otherwise(F.lit(0.0)).alias("__bc"),
        F.when(n > 0, a - (a + b) * (a + c) / n)
        .otherwise(F.lit(0.0))
        .alias("__dev"),
        F.when(
            n > 1,
            (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("__var"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("__n_units").alias("n_units"),
        F.sum("__ad").alias("__sad"),
        F.sum("__bc").alias("__sbc"),
        F.sum("__dev").alias("__sdev"),
        F.sum("__var").alias("__svar"),
    )
    chi2 = F.when(
        F.col("__svar") > 0,
        F.col("__sdev") * F.col("__sdev") / F.col("__svar"),
    )
    return agg.select(
        "n_strata",
        "n_units",
        F.round(
            F.when(F.col("__sbc") > 0, F.col("__sad") / F.col("__sbc")),
            decimals,
        ).alias("or_cmh"),
        F.round(chi2, decimals).alias("chi2_cmh"),
        F.lit(round(float(chi2_crit), decimals)).alias("chi2_crit"),
        (chi2 > F.lit(float(chi2_crit))).alias("significant"),
    )
