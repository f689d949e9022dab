"""Experimentation, causal inference and survival analysis.

A/B analysis (CUPED, SPRT, sample-ratio mismatch, power, effect sizes,
quantile treatment effects), causal estimators (difference in
differences, fixed effects, coarsened exact and propensity matching,
Qini uplift), survey allocation and raking, Simpson reversals and the
survival family (Kaplan-Meier, Nelson-Aalen, log-rank, RMST).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_nelson_aalen",
    oracle="""
    WITH signup AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
        FROM events e JOIN signup s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t0
        GROUP BY e.user_id
    ),
    subj AS (
        SELECT s.user_id,
               CASE WHEN c.t1 IS NULL THEN 0 ELSE 1 END AS converted,
               COALESCE(c.t1 - s.t0, -1) AS dur_us
        FROM signup s LEFT JOIN conv c ON c.user_id = s.user_id
    ),
    n_tot AS (SELECT COUNT(*) AS n FROM subj),
    ev AS (
        SELECT dur_us, COUNT(*) AS d
        FROM subj WHERE converted = 1 GROUP BY dur_us
    ),
    ordered AS (
        SELECT dur_us, d,
               SUM(d) OVER (ORDER BY dur_us ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum_d
        FROM ev
    ),
    hazard AS (
        SELECT dur_us, d,
               t.n - cum_d + d AS at_risk,
               SUM(d * 1000000 // (t.n - cum_d + d))
                   OVER (ORDER BY dur_us ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS ch
        FROM ordered CROSS JOIN n_tot t
    )
    SELECT dur_us, CAST(d AS BIGINT) AS n_events,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(ch AS BIGINT) AS cum_hazard_micro
    FROM hazard
    """,
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X137: Nelson-Aalen cumulative hazard (signup -> purchase).

    Survival analysis with right-censoring: users who never purchase
    are censored (they leave the risk set only at +inf, so at-risk
    counts stay honest). Nelson-Aalen is the estimator CHOSEN FOR
    EXACTNESS: it is a running SUM of d_i/n_i — each term fixed-points
    to micro-units by truncating integer division and the sum stays in
    bigints — where Kaplan-Meier's PRODUCT of (1 - d_i/n_i) cannot be
    fixed-pointed without compounding rounding. Both cumulative walks
    (event counts for the risk set, then the hazard itself) run
    through the two-pass operator; the event-time relation is the
    distinct duration domain, not per-user rows.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t_us).alias("t0"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", t_us.alias("t1"))
        .join(signup, "user_id")
        .where(F.col("t1") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"))
    )
    subj = signup.join(conv, "user_id", "left").select(
        "user_id",
        F.when(F.col("t1").isNull(), 0).otherwise(1).alias("converted"),
        F.coalesce(F.col("t1") - F.col("t0"), F.lit(-1)).alias("dur_us"),
    )
    n_tot = subj.agg(F.count("*").alias("n"))
    evts = (
        subj.where(F.col("converted") == 1)
        .groupBy("dur_us")
        .agg(F.count("*").alias("d"))
    )
    ordered = ordered_cumsum(evts, order_by=["dur_us"], values={"d": "cum_d"})
    with_risk = ordered.crossJoin(F.broadcast(n_tot)).select(
        "dur_us",
        "d",
        (F.col("n") - F.col("cum_d") + F.col("d")).alias("at_risk"),
        F.expr("d * 1000000 DIV (n - cum_d + d)").alias("term"),
    )
    hazard = ordered_cumsum(
        with_risk, order_by=["dur_us"], values={"term": "ch"}
    )
    return hazard.select(
        "dur_us",
        F.col("d").cast("bigint").alias("n_events"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("ch").cast("bigint").alias("cum_hazard_micro"),
    )


@register(
    "q_sprt",
    oracle="""
    WITH users AS (
        SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END AS x
        FROM events WHERE user_id % 2 = 1 GROUP BY user_id
    ),
    consts AS (
        SELECT CAST(ROUND(LOG10(0.6 / 0.4) * 1000000) AS BIGINT) AS lp,
               CAST(ROUND(LOG10(0.4 / 0.6) * 1000000) AS BIGINT) AS ln_,
               CAST(ROUND(LOG10(0.95 / 0.05) * 1000000) AS BIGINT) AS bound
    ),
    walk AS (
        SELECT user_id, x,
               ROW_NUMBER() OVER (ORDER BY user_id) AS rn,
               SUM(CASE WHEN x = 1 THEN c.lp ELSE c.ln_ END)
                   OVER (ORDER BY user_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS llr
        FROM users CROSS JOIN consts c
    )
    SELECT (SELECT COUNT(*) FROM users) AS n_users,
           CAST((SELECT llr FROM walk ORDER BY rn DESC LIMIT 1) AS BIGINT)
               AS final_llr_micro,
           (SELECT COALESCE(MIN(rn), 0) FROM walk CROSS JOIN consts c
            WHERE llr >= c.bound OR llr <= -c.bound) AS crossing_rank,
           (SELECT CASE
                WHEN COUNT(*) = 0 THEN 'continue'
                WHEN MIN(CASE WHEN llr >= c.bound THEN rn END)
                     <= COALESCE(MIN(CASE WHEN llr <= -c.bound THEN rn END),
                                 9223372036854775807)
                    THEN 'accept_h1' ELSE 'accept_h0' END
            FROM walk CROSS JOIN consts c
            WHERE llr >= c.bound OR llr <= -c.bound) AS decision
    """,
)
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181: Wald's SPRT over the treatment arm (sequential testing).

    The always-valid sequential alternative to X77's fixed-horizon
    z-test: walk users in user_id order accumulating the
    log-likelihood ratio for H1: p=0.6 vs H0: p=0.4 on the
    heavy-purchaser outcome; stop at the first crossing of
    +-log10(19) (alpha = beta = 0.05 Wald boundaries). EXACTNESS: the
    per-user increment is one of exactly TWO constants — log10 runs
    once per constant, micro-rounds, and the walk is then a pure
    integer cumulative (the X72 discipline applied to a sequential
    test); both engines compute the same IEEE log10 of the same
    literal ratios. The cumulative runs through the two-pass operator
    (no single-partition window over the user axis at scale); the
    decision logic reads the tiny crossing set.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    e = table(spark, sf_dir, "events")
    users = (
        e.where(F.col("user_id") % 2 == 1)
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 15
            )
            .cast("int")
            .alias("x")
        )
    )
    lp = F.round(F.log10(F.lit(0.6) / F.lit(0.4)) * 1_000_000).cast("bigint")
    ln_ = F.round(F.log10(F.lit(0.4) / F.lit(0.6)) * 1_000_000).cast("bigint")
    bound = F.round(F.log10(F.lit(0.95) / F.lit(0.05)) * 1_000_000).cast(
        "bigint"
    )
    stepped = users.select(
        "user_id", F.when(F.col("x") == 1, lp).otherwise(ln_).alias("inc")
    )
    walk = ordered_cumsum(
        stepped,
        order_by=["user_id"],
        values={"inc": "llr"},
        row_number_col="rn",
    )
    n_users = users.agg(F.count("*").alias("n_users"))
    final = walk.orderBy(F.col("rn").desc()).limit(1).select(
        F.col("llr").alias("final_llr_micro")
    )
    crossings = walk.where(
        (F.col("llr") >= bound) | (F.col("llr") <= -bound)
    ).select(
        "rn", (F.col("llr") >= bound).cast("int").alias("is_h1")
    )
    cross_agg = crossings.agg(
        F.coalesce(F.min("rn"), F.lit(0)).cast("bigint").alias(
            "crossing_rank"
        ),
        F.count("*").alias("__n_cross"),
        F.coalesce(
            F.min(F.when(F.col("is_h1") == 1, F.col("rn"))),
            F.lit(9223372036854775807),
        ).alias("__first_h1"),
        F.coalesce(
            F.min(F.when(F.col("is_h1") == 0, F.col("rn"))),
            F.lit(9223372036854775807),
        ).alias("__first_h0"),
    )
    return (
        n_users.crossJoin(final)
        .crossJoin(cross_agg)
        .select(
            "n_users",
            "final_llr_micro",
            "crossing_rank",
            F.when(F.col("__n_cross") == 0, "continue")
            .when(F.col("__first_h1") <= F.col("__first_h0"), "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )


@register(
    "q_cuped",
    oracle="""
    WITH half AS (
        SELECT user_id,
               SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                        AND event_type = 'purchase'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                        AND event_type = 'purchase'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM half
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(n * sxy - sx * sy AS VARCHAR) AS cov_num,
           CAST(n * sxx - sx * sx AS VARCHAR) AS varx_num,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
           ROUND(1.0 - CAST(n * sxy - sx * sy AS DOUBLE)
                       * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS var_ratio
    FROM s
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: CUPED variance reduction (experimentation sensitivity).

    The standard pre-experiment covariate adjustment (Deng et al.
    2013, public method): theta = cov(X,Y)/var(X) with X = each
    user's pre-period purchase value (first half of the month) and
    Y = the experiment-period value; the adjusted metric's variance
    shrinks by the squared correlation — var_ratio = 1 - rho^2 is
    the fraction of variance that REMAINS (0.7 means a ~30% smaller
    required sample). cov and var numerators are exact DECIMAL(38)
    integers hash-pinned AS STRINGS; theta and var_ratio take one
    rounded float step each from identical integer inputs. One user
    aggregate + one stats row.
    """
    e = table(spark, sf_dir, "events")
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    pre = (F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")) & (
        F.col("event_type") == "purchase"
    )
    post = (F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date")) & (
        F.col("event_type") == "purchase"
    )
    half = e.groupBy("user_id").agg(
        F.sum(F.when(pre, centi).otherwise(0)).alias("x"),
        F.sum(F.when(post, centi).otherwise(0)).alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    s = half.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    dn = F.col("n").cast("decimal(38,0)")
    d1 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cov_num = dn * F.col("sxy") - d1("sx") * F.col("sy")
    varx_num = dn * F.col("sxx") - d1("sx") * F.col("sx")
    vary_num = dn * F.col("syy") - d1("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        cov_num.cast("string").alias("cov_num"),
        varx_num.cast("string").alias("varx_num"),
        F.round(cov_num.cast("double") / varx_num.cast("double"), 6).alias(
            "theta"
        ),
        F.round(
            1.0
            - cov_num.cast("double")
            * cov_num.cast("double")
            / (varx_num.cast("double") * vary_num.cast("double")),
            6,
        ).alias("var_ratio"),
    )


# --- X224: Kaplan-Meier survival (product-limit) ---------------------------

_KM_CHURN_DAYS = 7


@register(
    "q_km_survival",
    oracle=f"""
    WITH users AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_d) AS m FROM users),
    durs AS (
        SELECT date_diff('day', first_d, last_d) AS dur,
               CASE WHEN date_diff('day', last_d, m) >= {_KM_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM users CROSS JOIN horizon
    ),
    per_t AS (
        SELECT dur, COUNT(*) AS n_here,
               CAST(SUM(churned) AS BIGINT) AS n_events
        FROM durs GROUP BY dur
    ),
    risk AS (
        SELECT dur, n_events,
               CAST(SUM(n_here) OVER (ORDER BY dur DESC) AS BIGINT)
                   AS n_at_risk
        FROM per_t
    ),
    terms AS (
        SELECT dur, n_at_risk, n_events,
               CAST(ROUND(LN(CAST(n_at_risk - n_events AS DOUBLE)
                             / n_at_risk) * 1000000) AS BIGINT) AS term
        FROM risk
        WHERE n_events > 0 AND n_at_risk > n_events
    )
    SELECT CAST(dur AS BIGINT) AS duration_days, n_at_risk, n_events,
           CAST(SUM(term) OVER (ORDER BY dur) AS BIGINT) AS km_log_micro
    FROM terms
    """,
)
def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X224: Kaplan-Meier product-limit survival, fixed-point exact.

    The multiplicative sibling of X137's Nelson-Aalen cumulative
    hazard: per user, duration = days between first and last activity,
    "churned" if inactive >= 7 days before the corpus horizon (else
    censored at their duration). At each event time t: at-risk n_t =
    users with duration >= t, events d_t = churns at t; survival
    S(t) = prod(1 - d/n) is carried as the CUMULATIVE LOG in micro
    (each factor's single ln micro-rounds first — X197's fixed-point
    discipline — so the product is an integer sum no float ordering
    can flip). The terminal all-churn row (S=0, log undefined) is
    excluded by both engines.

    100 TB: one user aggregate (shuffle on user_id), then everything
    lives on the <= |distinct durations| relation — the at-risk counts
    are a reverse cumulative over the tiny per-duration table, never a
    per-user window.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = users.agg(F.max("last_d").alias("m"))
    durs = users.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(
            F.datediff(F.col("m"), F.col("last_d")) >= _KM_CHURN_DAYS, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    per_t = durs.groupBy("dur").agg(
        F.count("*").alias("n_here"),
        F.sum("churned").cast("bigint").alias("n_events"),
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.select(
        "dur",
        "n_events",
        F.sum("n_here").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    terms = risk.where(
        (F.col("n_events") > 0) & (F.col("n_at_risk") > F.col("n_events"))
    ).select(
        "dur",
        "n_at_risk",
        "n_events",
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("n_events")).cast("double")
                / F.col("n_at_risk")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("term"),
    )
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("dur").cast("bigint").alias("duration_days"),
        "n_at_risk",
        "n_events",
        F.sum("term").over(w_asc).cast("bigint").alias("km_log_micro"),
    )


# --- X227: quantile treatment effect (QTE) ---------------------------------

_QTE_FRACTIONS = tuple((k, 10) for k in range(1, 10))


def _qte_oracle() -> str:
    arm = (
        "('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 6))::BIGINT % 2"
    )
    return f"""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
               {arm} AS arm
        FROM orders
    ),
    r AS (
        SELECT arm, centi,
               ROW_NUMBER() OVER (PARTITION BY arm ORDER BY centi) AS rn,
               COUNT(*) OVER (PARTITION BY arm) AS n
        FROM v
    ),
    q AS (SELECT UNNEST(generate_series(1, 9)) AS num),
    qq AS (
        SELECT r.arm, q.num, MIN(r.centi) AS qv
        FROM r JOIN q ON 10 * r.rn >= q.num * r.n
        GROUP BY r.arm, q.num
    )
    SELECT CAST(c.num AS BIGINT) AS q_num, CAST(10 AS BIGINT) AS q_den,
           CAST(c.qv AS BIGINT) AS control_cents,
           CAST(t.qv AS BIGINT) AS treat_cents,
           CAST(t.qv - c.qv AS BIGINT) AS qte_cents
    FROM qq c JOIN qq t ON t.num = c.num AND t.arm = 1
    WHERE c.arm = 0
    """


@register("q_qte_deciles", oracle=_qte_oracle())
def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X227: quantile treatment effect at the nine deciles.

    The distributional completion of the experimentation family (X77
    tests the mean via proportions, X182 de-noises it; QTE shows
    WHERE in the distribution an effect lives). Arms are an md5 parity
    split of customers (deterministic, both engines identical); each
    arm's deciles come from operators/cumulative.ordered_quantiles —
    the histogram-pruned two-scan operator with ZERO fact shuffles —
    then treat minus control per decile.

    100 TB: 2 arms x 2 pruned scans, no sort, no fact shuffle; the
    oracle is the definitional per-arm global rank, so hash equality
    proves the pruning lossless on a filtered (per-arm) relation too.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_quantiles

    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "centi"
        ),
        F.expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 6), "
            "16, 10) AS BIGINT) % 2"
        ).alias("arm"),
    )
    qs = []
    for arm in (0, 1):
        q = ordered_quantiles(
            o.where(F.col("arm") == arm).select("centi"),
            value_col="centi",
            quantiles=_QTE_FRACTIONS,
        ).select(
            "q_num",
            F.col("quantile_value").alias(f"arm{arm}_q"),
        )
        qs.append(q)
    return (
        qs[0]
        .join(qs[1], "q_num")
        .select(
            F.col("q_num").cast("bigint").alias("q_num"),
            F.lit(10).cast("bigint").alias("q_den"),
            F.col("arm0_q").cast("bigint").alias("control_cents"),
            F.col("arm1_q").cast("bigint").alias("treat_cents"),
            (F.col("arm1_q") - F.col("arm0_q"))
            .cast("bigint")
            .alias("qte_cents"),
        )
    )


# --- X235: difference-in-differences ---------------------------------------

_DID_CUT = "1998-01-01"


@register(
    "q_diff_in_diff",
    oracle=f"""
    WITH cells AS (
        SELECT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 6))::BIGINT
                   % 2 AS treat,
               CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{_DID_CUT}'
                    THEN 1 ELSE 0 END AS post,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    means AS (
        SELECT treat, post,
               CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro
        FROM cells GROUP BY 1, 2
    )
    SELECT CAST(c0.mean_micro AS BIGINT) AS control_pre,
           CAST(c1.mean_micro AS BIGINT) AS control_post,
           CAST(t0.mean_micro AS BIGINT) AS treat_pre,
           CAST(t1.mean_micro AS BIGINT) AS treat_post,
           CAST((t1.mean_micro - t0.mean_micro)
                - (c1.mean_micro - c0.mean_micro) AS BIGINT) AS did_micro
    FROM means c0, means c1, means t0, means t1
    WHERE c0.treat = 0 AND c0.post = 0 AND c1.treat = 0 AND c1.post = 1
      AND t0.treat = 1 AND t0.post = 0 AND t1.treat = 1 AND t1.post = 1
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235: difference-in-differences, exact micro means.

    The quasi-experimental member of the experimentation family (X77
    mean test, X182 CUPED, X227 QTE): md5-parity "treatment" customers
    vs control, pre/post a policy date; DiD = (treat_post - treat_pre)
    - (control_post - control_pre) on micro-fixed-point cell means
    (sum*1e6 DIV n — the division happens ONCE per cell, after the
    exact integer sums, so no float accumulation order exists).

    100 TB: one conditional aggregate to 4 cells; the "pivot" is a
    4-way self-join of a 4-row relation.
    """
    o = table(spark, sf_dir, "orders")
    cells = o.select(
        F.expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 6), "
            "16, 10) AS BIGINT) % 2"
        ).alias("treat"),
        F.when(
            F.col("o_orderdate").cast("date") >= F.lit(_DID_CUT), 1
        )
        .otherwise(0)
        .alias("post"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    means = cells.groupBy("treat", "post").agg(
        F.expr("SUM(cents) * 1000000 DIV COUNT(*)")
        .cast("bigint")
        .alias("mean_micro")
    )
    pick = lambda t, p, name: (  # noqa: E731
        means.where((F.col("treat") == t) & (F.col("post") == p)).select(
            F.col("mean_micro").alias(name)
        )
    )
    out = (
        pick(0, 0, "control_pre")
        .crossJoin(pick(0, 1, "control_post"))
        .crossJoin(pick(1, 0, "treat_pre"))
        .crossJoin(pick(1, 1, "treat_post"))
    )
    return out.select(
        "control_pre",
        "control_post",
        "treat_pre",
        "treat_post",
        (
            (F.col("treat_post") - F.col("treat_pre"))
            - (F.col("control_post") - F.col("control_pre"))
        )
        .cast("bigint")
        .alias("did_micro"),
    )


# --- X245: Neyman optimal allocation ----------------------------------------

_NEYMAN_TOTAL = 1000  # sample budget to allocate


@register(
    "q_neyman_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT c.c_mktsegment AS seg, COUNT(*) AS nh,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS sx,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                   * CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS sxx
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    ),
    scored AS (
        SELECT seg, nh,
               CAST(FLOOR(SQRT(CAST(nh * sxx - sx * sx AS DOUBLE))) AS BIGINT)
                   AS w
        FROM strata
    ),
    tot AS (SELECT SUM(w) AS tw FROM scored),
    alloc AS (
        SELECT seg, nh, w,
               {_NEYMAN_TOTAL} * w // t.tw AS base,
               {_NEYMAN_TOTAL} * w % t.tw AS rem
        FROM scored CROSS JOIN tot t
    ),
    short AS (
        SELECT {_NEYMAN_TOTAL} - SUM(base) AS k FROM alloc
    ),
    ranked AS (
        SELECT seg, nh, w, base,
               ROW_NUMBER() OVER (ORDER BY rem DESC, seg) AS rr
        FROM alloc
    )
    SELECT seg, CAST(nh AS BIGINT) AS nh, CAST(w AS BIGINT) AS weight,
           CAST(base + CASE WHEN rr <= s.k THEN 1 ELSE 0 END AS BIGINT)
               AS n_alloc
    FROM ranked CROSS JOIN short s
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X245: Neyman optimal allocation with largest-remainder rounding.

    Allocates a 1000-draw sampling budget across market segments
    proportional to N_h * S_h (stratum size x stddev) — the
    variance-minimizing design for stratified estimation, the step
    BEFORE X115/X210 actually draw. The weight is the exact integer
    isqrt of the variance numerator nh*sxx - sx^2 (= nh^2 * var, so w
    = nh * sd in centi — IEEE sqrt is correctly rounded, FLOOR makes
    it an integer both engines agree on). Largest-remainder
    apportionment: floor allocations + one extra seat to the k
    largest remainders (seg-name tiebreak) — allocations sum to
    EXACTLY the budget, no float shares.

    100 TB shape: one broadcast-joined fact aggregate (segments are
    few); apportionment runs on a |strata|-row relation. The ranking
    window is over strata, not facts.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    strata = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), centi.alias("x"))
        .groupBy("seg")
        .agg(
            F.count("*").alias("nh"),
            F.sum("x").alias("sx"),
            # x*x fits int64; the SUM and the nh*sxx/sx*sx products do
            # not — route through DECIMAL(38,0) (X174's power-sum
            # discipline; the oracle's HUGEINT arithmetic is exact too,
            # so both engines cast the same exact integer to double).
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias(
                "sxx"
            ),
        )
    )
    scored = strata.select(
        "seg",
        "nh",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(CAST(nh AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
            " AS DOUBLE))) AS BIGINT)"
        ).alias("w"),
    )
    tot = scored.agg(F.sum("w").alias("tw"))
    alloc = scored.crossJoin(F.broadcast(tot)).select(
        "seg",
        "nh",
        "w",
        F.expr(f"{_NEYMAN_TOTAL} * w DIV tw").alias("base"),
        F.expr(f"{_NEYMAN_TOTAL} * w % tw").alias("rem"),
    )
    short = alloc.agg(
        (F.lit(_NEYMAN_TOTAL) - F.sum("base")).alias("k")
    )
    ranked = alloc.select(
        "seg",
        "nh",
        "w",
        "base",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "seg"))
        .alias("rr"),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "seg",
        F.col("nh").cast("bigint").alias("nh"),
        F.col("w").cast("bigint").alias("weight"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    )


# --- X247: Simpson's-paradox reversal census --------------------------------

_SIMPSON_HIGH = 15_000_000  # "high-value order": > $150k in centi


@register(
    "q_simpson_reversals",
    oracle=f"""
    WITH base AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent,
               CASE WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                         > {_SIMPSON_HIGH} THEN 1 ELSE 0 END AS hi
        FROM orders
    ),
    cells AS (
        SELECT y,
               SUM(urgent * hi) AS a, SUM(urgent * (1 - hi)) AS b,
               SUM((1 - urgent) * hi) AS c, SUM((1 - urgent) * (1 - hi)) AS d
        FROM base GROUP BY y
    ),
    strata AS (
        SELECT y, a, b, c, d,
               CASE WHEN a * d > b * c THEN 1
                    WHEN a * d < b * c THEN -1 ELSE 0 END AS sgn
        FROM cells
    ),
    overall AS (
        SELECT CASE WHEN SUM(a) * SUM(d) > SUM(b) * SUM(c) THEN 1
                    WHEN SUM(a) * SUM(d) < SUM(b) * SUM(c) THEN -1
                    ELSE 0 END AS osgn
        FROM cells
    )
    SELECT s.y AS stratum_year,
           CAST(s.a AS BIGINT) AS n_urgent_hi,
           CAST(s.b AS BIGINT) AS n_urgent_lo,
           CAST(s.c AS BIGINT) AS n_other_hi,
           CAST(s.d AS BIGINT) AS n_other_lo,
           CAST(s.sgn AS BIGINT) AS stratum_sign,
           CAST(o.osgn AS BIGINT) AS overall_sign,
           CAST(CASE WHEN s.sgn * o.osgn = -1 THEN 1 ELSE 0 END AS BIGINT)
               AS reversed
    FROM strata s CROSS JOIN overall o
    """,
)
def q_simpson_reversals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247: Simpson's-paradox reversal census, exactly verified.

    Association between order urgency and high order value, overall
    vs within each order-year stratum. The association sign is the
    sign of the odds-ratio numerator a*d - b*c (cross-multiplied — no
    probability, no division, no float), so 'the aggregate says
    positive but 1996 says negative' is an exact integer fact. The
    aggregation trap every dashboard drill-down needs flagged:
    a reversed=1 stratum means the pooled number misleads.

    100 TB shape: one conditional-aggregate scan builds the per-year
    2x2 cells (map-side combine, |years| rows); the overall cells are
    a re-aggregation of that tiny relation, broadcast back. One fact
    pass total.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    base = o.select(
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("y"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("urgent"),
        F.when(centi > _SIMPSON_HIGH, 1).otherwise(0).alias("hi"),
    )
    cells = base.groupBy("y").agg(
        F.sum(F.col("urgent") * F.col("hi")).alias("a"),
        F.sum(F.col("urgent") * (1 - F.col("hi"))).alias("b"),
        F.sum((1 - F.col("urgent")) * F.col("hi")).alias("c"),
        F.sum((1 - F.col("urgent")) * (1 - F.col("hi"))).alias("d"),
    )
    sgn = (
        F.when(F.col("a") * F.col("d") > F.col("b") * F.col("c"), 1)
        .when(F.col("a") * F.col("d") < F.col("b") * F.col("c"), -1)
        .otherwise(0)
    )
    strata = cells.select("y", "a", "b", "c", "d", sgn.alias("sgn"))
    overall = cells.agg(
        F.when(
            F.sum("a") * F.sum("d") > F.sum("b") * F.sum("c"), 1
        )
        .when(F.sum("a") * F.sum("d") < F.sum("b") * F.sum("c"), -1)
        .otherwise(0)
        .alias("osgn")
    )
    return strata.crossJoin(F.broadcast(overall)).select(
        F.col("y").alias("stratum_year"),
        F.col("a").cast("bigint").alias("n_urgent_hi"),
        F.col("b").cast("bigint").alias("n_urgent_lo"),
        F.col("c").cast("bigint").alias("n_other_hi"),
        F.col("d").cast("bigint").alias("n_other_lo"),
        F.col("sgn").cast("bigint").alias("stratum_sign"),
        F.col("osgn").cast("bigint").alias("overall_sign"),
        F.when(F.col("sgn") * F.col("osgn") == -1, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("reversed"),
    )


# --- X251: covariate-balance SMD table --------------------------------------


@register(
    "q_covariate_balance",
    oracle="""
    WITH cov AS (
        SELECT c.c_custkey AS ck,
               ('0x' || substring(md5(CAST(c.c_custkey AS VARCHAR)), 1, 6))
                   ::BIGINT % 2 AS arm,
               CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal,
               COUNT(o.o_orderkey) AS n_orders,
               COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)), 0) // 100 AS revenue
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    long AS (
        SELECT arm, 'acctbal_centi' AS covariate, acctbal AS x FROM cov
        UNION ALL
        SELECT arm, 'n_orders', n_orders FROM cov
        UNION ALL
        SELECT arm, 'revenue_dollars', revenue FROM cov
    ),
    stats AS (
        SELECT covariate,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS s1,
               SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS s0,
               SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x
                        ELSE 0 END) AS q1,
               SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x
                        ELSE 0 END) AS q0
        FROM long GROUP BY covariate
    )
    SELECT covariate,
           CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           CAST(1000000 * s1 // n1 - 1000000 * s0 // n0 AS BIGINT)
               AS mean_diff_micro,
           CAST(CASE WHEN (n1 * q1 - CAST(s1 AS HUGEINT) * s1) // (n1 * (n1 - 1))
                     + (n0 * q0 - CAST(s0 AS HUGEINT) * s0) // (n0 * (n0 - 1)) = 0
                THEN 0
                ELSE 1000 * (1000000 * s1 // n1 - 1000000 * s0 // n0)
                     // (1000000 * CAST(FLOOR(SQRT(CAST(
                          ((n1 * q1 - CAST(s1 AS HUGEINT) * s1) // (n1 * (n1 - 1))
                           + (n0 * q0 - CAST(s0 AS HUGEINT) * s0) // (n0 * (n0 - 1)))
                          // 2 AS DOUBLE))) AS BIGINT))
                END AS BIGINT) AS smd_milli
    FROM stats
    """,
)
def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X251: covariate-balance (standardized mean difference) table.

    The randomization-health check run before any effect is read
    (X77/X182/X235 all assume it): per covariate (account balance,
    order count, revenue), SMD = (mean1 - mean0) / pooled_sd between
    the md5-parity arms. |SMD| > 0.1 flags imbalance. Means are exact
    micro fixed point; the pooled variance is exact integer
    arithmetic through HUGEINT/DECIMAL(38) with consistent truncating
    divisions; the single sqrt is IEEE-correctly-rounded on an
    identical exact integer, floored back to an integer — so even the
    classically float-soft SMD hash-matches.

    100 TB shape: one customer-grain left-join aggregate (the
    orders shuffle), a 3x stacked conditional aggregate to
    |covariates| rows, scalar arithmetic after.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    cov = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.expr(
                "COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)"
                " AS BIGINT)), 0) DIV 100"
            ).alias("revenue"),
        )
        .select(
            F.expr(
                "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 6),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("acctbal"),
            "n_orders",
            "revenue",
        )
    )
    long = (
        cov.select("arm", F.lit("acctbal_centi").alias("covariate"), F.col("acctbal").alias("x"))
        .unionAll(cov.select("arm", F.lit("n_orders"), F.col("n_orders")))
        .unionAll(cov.select("arm", F.lit("revenue_dollars"), F.col("revenue")))
    )
    stats = long.groupBy("covariate").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).alias("s0"),
        F.sum(
            F.when(
                F.col("arm") == 1,
                (F.col("x") * F.col("x")).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q1"),
        F.sum(
            F.when(
                F.col("arm") == 0,
                (F.col("x") * F.col("x")).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q0"),
    )
    var1 = (
        "(n1 * q1 - CAST(s1 AS DECIMAL(38,0)) * s1) DIV (n1 * (n1 - 1))"
    )
    var0 = (
        "(n0 * q0 - CAST(s0 AS DECIMAL(38,0)) * s0) DIV (n0 * (n0 - 1))"
    )
    diff = "1000000 * s1 DIV n1 - 1000000 * s0 DIV n0"
    return stats.select(
        "covariate",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n0").cast("bigint").alias("n0"),
        F.expr(f"CAST({diff} AS BIGINT)").alias("mean_diff_micro"),
        F.expr(
            f"CAST(CASE WHEN {var1} + {var0} = 0 THEN 0"
            f" ELSE 1000 * ({diff})"
            f" DIV (1000000 * CAST(FLOOR(SQRT(CAST(({var1} + {var0}) DIV 2"
            f" AS DOUBLE))) AS BIGINT)) END AS BIGINT)"
        ).alias("smd_milli"),
    )


# --- X255: Qini uplift deciles ----------------------------------------------


@register(
    "q_qini_deciles",
    oracle="""
    WITH scored AS (
        SELECT c.c_custkey AS ck,
               CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) AS score,
               ('0x' || substring(md5(CAST(c.c_custkey AS VARCHAR)), 1, 6))
                   ::BIGINT % 2 AS arm,
               CASE WHEN EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_totalprice > 200000)
                    THEN 1 ELSE 0 END AS conv
        FROM customer c
    ),
    ranked AS (
        SELECT arm, conv,
               NTILE(10) OVER (ORDER BY score DESC, ck) AS decile
        FROM scored
    ),
    cells AS (
        SELECT decile,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
               SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS ct,
               SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS cc
        FROM ranked GROUP BY decile
    ),
    cum AS (
        SELECT decile, nt, nc, ct, cc,
               SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
               SUM(ct) OVER w AS cct, SUM(cc) OVER w AS ccc
        FROM cells
        WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
           CAST(ct AS BIGINT) AS conv_treat,
           CAST(cc AS BIGINT) AS conv_control,
           CAST(CASE WHEN cnc = 0 THEN 0
                ELSE 10000 * (cct * cnc - ccc * cnt) // (cnt * cnc) END
                AS BIGINT) AS qini_bp
    FROM cum
    """,
)
def q_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X255: Qini uplift curve by score decile, exactly verified.

    Uplift evaluation for a targeting model: customers ranked by
    score (account balance as the propensity proxy), md5-parity
    treatment arms, conversion = any order > $200k. Per cumulative
    decile, Qini = conv_treat - conv_control * Nt/Nc kept as ONE
    exact rational in bp: 10000*(cct*cnc - ccc*cnt) DIV (cnt*cnc) —
    the incremental-conversions curve whose area ranks uplift models
    (the causal sibling of X150's ROC: ROC scores prediction, Qini
    scores INTERVENTION value). Deciles come from the global row
    number + closed_form_ntile — no single-partition window.

    100 TB shape: conversion is a semi-join aggregate on the customer
    shuffle; ranking uses ordered_cumsum's two-pass row number; the
    decile/cumulative arithmetic runs on a 10-row relation.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    conv_keys = (
        o.where(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    scored = (
        c.select(
            F.col("c_custkey").alias("ck"),
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("score"),
            F.expr(
                "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 6),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
        )
        .join(
            conv_keys.withColumn("conv", F.lit(1)), "ck", "left"
        )
        .select(
            "arm",
            "score",
            "ck",
            F.coalesce(F.col("conv"), F.lit(0)).alias("conv"),
        )
    )
    # global rank without a single-partition window: negate score for
    # DESC order (ordered_cumsum sorts ascending), ck tiebreak
    ranked = ordered_cumsum(
        scored.withColumn("negscore", -F.col("score")),
        order_by=["negscore", "ck"],
        row_number_col="rn",
    )
    n_tot = scored.agg(F.count("*").alias("n"))
    with_decile = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "decile", closed_form_ntile("rn", "n", 10)
    )
    cells = with_decile.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "ct"
        ),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "cc"
        ),
    )
    cum = ordered_cumsum(
        cells,
        order_by=["decile"],
        values={"nt": "cnt", "nc": "cnc", "ct": "cct", "cc": "ccc"},
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_control"),
        F.col("ct").cast("bigint").alias("conv_treat"),
        F.col("cc").cast("bigint").alias("conv_control"),
        F.when(F.col("cnc") == 0, F.lit(0))
        .otherwise(
            F.expr(
                "10000 * (cct * cnc - ccc * cnt) DIV (cnt * cnc)"
            )
        )
        .cast("bigint")
        .alias("qini_bp"),
    )


# --- X257: sample-ratio-mismatch detector -----------------------------------

_SRM_SALTS = ["exp_a", "exp_b", "exp_c"]


@register(
    "q_srm_detector",
    oracle=f"""
    WITH assigns AS (
        {" UNION ALL ".join(
            f"SELECT '{s}' AS salt,"
            f" ('0x' || substring(md5('{s}|' || CAST(c_custkey AS VARCHAR)),"
            f" 1, 6))::BIGINT % 2 AS arm FROM customer"
            for s in _SRM_SALTS
        )}
    ),
    counts AS (
        SELECT salt,
               SUM(arm) AS n1, SUM(1 - arm) AS n0
        FROM assigns GROUP BY salt
    )
    SELECT salt, CAST(n1 AS BIGINT) AS n_arm1, CAST(n0 AS BIGINT) AS n_arm0,
           CAST(1000000 * (n1 - n0) * (n1 - n0) // (n1 + n0) AS BIGINT)
               AS chi2_micro,
           CAST(CASE WHEN 1000000 * (n1 - n0) * (n1 - n0) // (n1 + n0)
                          > 10828000 THEN 1 ELSE 0 END AS BIGINT)
               AS srm_flag
    FROM counts
    """,
)
def q_srm_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X257: sample-ratio-mismatch detector across assignment salts.

    The first gate of every A/B readout: does the md5 assignment
    actually split 50/50? Per salt, the 1-df goodness-of-fit
    chi-squared (n1-n0)^2/(n1+n0) in exact micro; srm_flag fires
    above 10.828 (the p<0.001 critical value — the industry SRM
    threshold), meaning the assignment plumbing is broken and every
    downstream metric (X77/X182/X235/X255) is suspect. Three salts
    demonstrate the per-experiment check pattern.

    100 TB shape: one stacked conditional aggregate per salt over the
    customer scan (map-side combine to |salts| rows); no joins.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey")
    parts = []
    for s in _SRM_SALTS:
        parts.append(
            c.select(
                F.lit(s).alias("salt"),
                F.expr(
                    f"CAST(conv(substring(md5('{s}|' ||"
                    f" CAST(c_custkey AS STRING)), 1, 6), 16, 10)"
                    f" AS BIGINT) % 2"
                ).alias("arm"),
            )
        )
    assigns = parts[0]
    for p in parts[1:]:
        assigns = assigns.unionAll(p)
    counts = assigns.groupBy("salt").agg(
        F.sum("arm").alias("n1"), F.sum(1 - F.col("arm")).alias("n0")
    )
    chi2 = "1000000 * (n1 - n0) * (n1 - n0) DIV (n1 + n0)"
    return counts.select(
        "salt",
        F.col("n1").cast("bigint").alias("n_arm1"),
        F.col("n0").cast("bigint").alias("n_arm0"),
        F.expr(f"CAST({chi2} AS BIGINT)").alias("chi2_micro"),
        F.expr(
            f"CAST(CASE WHEN {chi2} > 10828000 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_flag"),
    )


# --- X277: power analysis / MDE grid -----------------------------------------

# 1000 * 2 * (z_{0.975} + z_{0.80})^2 = 1000 * 2 * (1.9599640 + 0.8416212)^2
_POWER_CONST_MILLI = 15698
_MDE_GRID_BP = [100, 200, 500, 1000]


@register(
    "q_power_analysis",
    oracle=f"""
    WITH p AS (
        SELECT CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT COUNT(*) AS n, SUM(v) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM p
    ),
    mom AS (
        SELECT n, s // n AS mean_micro,
               (q * n - CAST(s AS HUGEINT) * s)
                   // (CAST(n AS HUGEINT) * n * (n - 1)) AS var_micro2
        FROM m
    )
    SELECT CAST(g.mde_bp AS BIGINT) AS mde_bp,
           CAST(n AS BIGINT) AS n_obs,
           CAST(mean_micro AS BIGINT) AS mean_micro,
           CAST(g.mde_bp * mean_micro // 10000 AS BIGINT) AS delta_micro,
           CAST({_POWER_CONST_MILLI} * var_micro2
                // (1000 * CAST(g.mde_bp * mean_micro // 10000 AS HUGEINT)
                         * (g.mde_bp * mean_micro // 10000)) + 1
                AS BIGINT) AS n_per_arm
    FROM mom CROSS JOIN (
        SELECT UNNEST([{", ".join(str(b) for b in _MDE_GRID_BP)}]) AS mde_bp
    ) g
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X277: two-sample power analysis — required n per arm across an
    MDE grid, from observed moments.

    The table an experimenter should read before launching: for
    minimum detectable effects of 1/2/5/10 percent of the purchase-
    value mean, the per-arm sample size n = 2*(z_.975+z_.80)^2 *
    sigma^2 / delta^2 (alpha .05 two-sided, power .80), with the
    z-constant fixed as the integer spec 15698 milli so both engines
    evaluate the identical closed form. Moments are exact micro-unit
    integers (one scan); each grid row is pure 1-row arithmetic, +1
    standing in for the ceiling. All dividends nonnegative: DIV == //.

    100 TB shape: one pushed-filter scan to a 1-row moment aggregate;
    the grid is a 4-row literal cross join.
    """
    e = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    from laser_hadoop_spark.functions.scalar import micro_units

    p = e.select(micro_units(F.col("value")).alias("v"))
    vd = F.col("v").cast("decimal(38,0)")
    m = p.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(vd * vd).alias("q"),
    )
    mom = m.select(
        "n",
        F.expr("s DIV n").alias("mean_micro"),
        F.expr(
            "(q * n - CAST(s AS DECIMAL(38,0)) * s)"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * (n - 1))"
        ).alias("var_micro2"),
    )
    grid = F.explode(
        F.array(*[F.lit(b) for b in _MDE_GRID_BP])
    ).alias("mde_bp")
    return mom.select("*", grid).select(
        F.col("mde_bp").cast("bigint").alias("mde_bp"),
        F.col("n").cast("bigint").alias("n_obs"),
        F.col("mean_micro").cast("bigint").alias("mean_micro"),
        F.expr("CAST(mde_bp * mean_micro DIV 10000 AS BIGINT)").alias(
            "delta_micro"
        ),
        F.expr(
            f"CAST({_POWER_CONST_MILLI} * var_micro2"
            " DIV (1000 * CAST(mde_bp * mean_micro DIV 10000 AS DECIMAL(38,0))"
            "          * (mde_bp * mean_micro DIV 10000)) + 1 AS BIGINT)"
        ).alias("n_per_arm"),
    )


# --- X292: two-group log-rank test -------------------------------------------

_LOGRANK_CHURN_DAYS = 7


@register(
    "q_logrank",
    oracle=f"""
    WITH users AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_d) AS m FROM users),
    durs AS (
        SELECT user_id % 2 AS grp,
               date_diff('day', first_d, last_d) AS dur,
               CASE WHEN date_diff('day', last_d, m)
                         >= {_LOGRANK_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM users CROSS JOIN horizon
    ),
    per_t AS (
        SELECT dur,
               COUNT(*) AS n_here,
               SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n1_here,
               SUM(churned) AS d_here,
               SUM(CASE WHEN grp = 0 THEN churned ELSE 0 END) AS d1_here
        FROM durs GROUP BY dur
    ),
    risk AS (
        SELECT dur, d_here, d1_here,
               SUM(n_here) OVER (ORDER BY dur DESC) AS n_at_risk,
               SUM(n1_here) OVER (ORDER BY dur DESC) AS n1_at_risk
        FROM per_t
    ),
    terms AS (
        SELECT dur,
               CAST(ROUND(1000000.0 * (d1_here
                          - CAST(d_here * n1_at_risk AS DOUBLE) / n_at_risk))
                    AS BIGINT) AS oe_micro,
               CASE WHEN n_at_risk > 1 THEN
                   CAST(ROUND(1000000.0 * d_here * n1_at_risk
                              * (n_at_risk - n1_at_risk)
                              * (n_at_risk - d_here)
                              / (CAST(n_at_risk AS DOUBLE) * n_at_risk
                                 * (n_at_risk - 1))) AS BIGINT)
               ELSE 0 END AS var_micro
        FROM risk WHERE d_here > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           CAST(SUM(oe_micro) AS BIGINT) AS oe_sum_micro,
           CAST(SUM(var_micro) AS BIGINT) AS var_sum_micro,
           ROUND(CAST(SUM(oe_micro) AS DOUBLE) * SUM(oe_micro)
                 / SUM(var_micro) / 1000000.0, 4) AS logrank_chi2
    FROM terms
    """,
)
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X292: two-group log-rank test over X224's survival framing.

    Users split into an A/B cohort by user_id parity (the assignment
    hash). At each event time t with d_t total churns: observed group-0
    events d1_t vs expected d_t * n1_t / n_t under the null, plus the
    hypergeometric variance — each time's O-E and V terms micro-round
    FIRST (X197's fixed-point discipline), so the sums are integer and
    no float ordering can flip the hash; the chi-square is one final
    expression over two exact integer sums, rounded 4.

    100 TB: one user aggregate (shuffle on user_id), then the whole
    test lives on the <= |distinct durations| relation — the at-risk
    counts are reverse cumulatives over the tiny per-duration table,
    exactly X224's shape with a second (group-0) census column.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = users.agg(F.max("last_d").alias("m"))
    durs = users.crossJoin(F.broadcast(horizon)).select(
        (F.col("user_id") % 2).alias("grp"),
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(
            F.datediff(F.col("m"), F.col("last_d")) >= _LOGRANK_CHURN_DAYS, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    per_t = durs.groupBy("dur").agg(
        F.count("*").alias("n_here"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n1_here"),
        F.sum("churned").alias("d_here"),
        F.sum(F.when(F.col("grp") == 0, F.col("churned")).otherwise(0)).alias(
            "d1_here"
        ),
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.select(
        "dur",
        "d_here",
        "d1_here",
        F.sum("n_here").over(w_desc).alias("n_at_risk"),
        F.sum("n1_here").over(w_desc).alias("n1_at_risk"),
    )
    n, n1, d, d1 = (
        F.col("n_at_risk"),
        F.col("n1_at_risk"),
        F.col("d_here"),
        F.col("d1_here"),
    )
    terms = risk.where(d > 0).select(
        "dur",
        F.round(1000000.0 * (d1 - (d * n1).cast("double") / n))
        .cast("bigint")
        .alias("oe_micro"),
        F.when(
            n > 1,
            F.round(
                1000000.0
                * d
                * n1
                * (n - n1)
                * (n - d)
                / (n.cast("double") * n * (n - 1))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("var_micro"),
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_event_times"),
        F.sum("oe_micro").cast("bigint").alias("oe_sum_micro"),
        F.sum("var_micro").cast("bigint").alias("var_sum_micro"),
        F.round(
            F.sum("oe_micro").cast("double")
            * F.sum("oe_micro")
            / F.sum("var_micro")
            / 1000000.0,
            4,
        ).alias("logrank_chi2"),
    )


# --- X316: fixed-effects (within) estimator ----------------------------------


@register(
    "q_fixed_effects",
    oracle="""
    WITH cust AS (
        SELECT c.c_nationkey AS g,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_nationkey
    ),
    grp AS (
        SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM cust GROUP BY g
    ),
    terms AS (
        SELECT g, n, sx, sy, sxy, sxx,
               CAST(ROUND(1000.0 * (sxy - CAST(sx AS DOUBLE) * sy / n))
                    AS BIGINT) AS num_milli,
               CAST(ROUND(1000.0 * (sxx - CAST(sx AS DOUBLE) * sx / n))
                    AS BIGINT) AS den_milli
        FROM grp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(num_milli) AS BIGINT) AS num_sum_milli,
           CAST(SUM(den_milli) AS BIGINT) AS den_sum_milli,
           ROUND(CAST(SUM(num_milli) AS DOUBLE) / SUM(den_milli), 4)
               AS beta_within,
           ROUND((SUM(n) * CAST(SUM(sxy) AS DOUBLE)
                  - CAST(SUM(sx) AS DOUBLE) * SUM(sy))
                 / (SUM(n) * CAST(SUM(sxx) AS DOUBLE)
                    - CAST(SUM(sx) AS DOUBLE) * SUM(sx)), 4) AS beta_pooled
    FROM terms
    """,
)
def q_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X316: panel fixed-effects (within) estimator vs pooled OLS.

    How much does an extra order add to customer spend, once
    nation-level differences are absorbed? The within estimator
    demeans x and y inside each nation and pools the per-group
    covariance terms — the one-line panel regression that kills
    group-level confounding pooled OLS (X52) soaks up. Per-group
    numerator/denominator terms milli-round FIRST (X197 discipline),
    so the pooled sums are exact integers; both betas are single
    float expressions, rounded 4, reported side by side (their gap IS
    the confounding).

    100 TB: one customer-grain aggregate (left join keeps zero-order
    customers), one |nations|-row group aggregate, constant math.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.count("o_orderkey").cast("bigint").alias("x"),
            F.coalesce(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("y"),
        )
        .select(F.col("c_nationkey").alias("g"), "x", "y")
    )
    grp = cust.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    terms = grp.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.round(
            1000.0
            * (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
        )
        .cast("bigint")
        .alias("num_milli"),
        F.round(
            1000.0
            * (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        )
        .cast("bigint")
        .alias("den_milli"),
    )
    sn = F.sum("n")
    ssx = F.sum("sx").cast("double")
    ssy = F.sum("sy")
    ssxy = F.sum("sxy").cast("double")
    ssxx = F.sum("sxx").cast("double")
    return terms.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("num_milli").cast("bigint").alias("num_sum_milli"),
        F.sum("den_milli").cast("bigint").alias("den_sum_milli"),
        F.round(
            F.sum("num_milli").cast("double") / F.sum("den_milli"), 4
        ).alias("beta_within"),
        F.round(
            (sn * ssxy - ssx * ssy) / (sn * ssxx - ssx * F.sum("sx")), 4
        ).alias("beta_pooled"),
    )


# --- X317: coarsened exact matching ATE --------------------------------------


@register(
    "q_cem_ate",
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(FLOOR(c.c_acctbal / 2000.0) AS BIGINT) AS band,
               CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                   AS treated,
               CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        GROUP BY 1, 2, 3, 4
    ),
    strata AS (
        SELECT c_nationkey, band,
               SUM(treated) AS nt, SUM(1 - treated) AS nc,
               SUM(treated * y) AS syt, SUM((1 - treated) * y) AS syc
        FROM cust GROUP BY 1, 2
    ),
    matched AS (
        SELECT nt, nc,
               CAST(ROUND(1000.0 * (CAST(syt AS DOUBLE) / nt
                                    - CAST(syc AS DOUBLE) / nc))
                    AS BIGINT) AS dmean_milli
        FROM strata WHERE nt > 0 AND nc > 0
    ),
    unadj AS (
        SELECT CAST(ROUND(1000.0
                   * (SUM(treated * CAST(y AS DOUBLE)) / SUM(treated)
                      - SUM((1 - treated) * CAST(y AS DOUBLE))
                        / SUM(1 - treated))) AS BIGINT) AS raw_diff_milli
        FROM cust
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(nt) AS BIGINT) AS n_treated_matched,
           CAST(SUM(nt * dmean_milli) // SUM(nt) AS BIGINT) AS att_milli,
           (SELECT raw_diff_milli FROM unadj) AS raw_diff_milli
    FROM matched
    """,
)
def q_cem_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X317: coarsened exact matching — deterministic causal ATE.

    Does the AUTOMOBILE segment spend more than BUILDING because of
    the segment, or because of who's in it? CEM coarsens the
    covariates (nation x acctbal band of 2000), keeps only strata
    containing BOTH groups, and takes the treated-weighted average of
    within-stratum mean differences (ATT). No iterative propensity
    fit — matching is exact on the coarsened cells, which is why it's
    deterministic enough to hash. Per-stratum mean gaps milli-round
    first; the ATT is one integer-weighted DIV. The unadjusted raw
    gap rides along — the difference is the confounding removed.

    100 TB: customer-grain aggregate, |nations x bands| stratum
    census, constant math — all partial-aggregated.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cust = (
        c.where(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            "c_custkey",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000.0).cast("bigint").alias("band"),
            (F.col("c_mktsegment") == "AUTOMOBILE")
            .cast("bigint")
            .alias("treated"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("y")
        )
        .localCheckpoint(eager=True)
    )
    strata = cust.groupBy("c_nationkey", "band").agg(
        F.sum("treated").alias("nt"),
        F.sum(1 - F.col("treated")).alias("nc"),
        F.sum(F.col("treated") * F.col("y")).alias("syt"),
        F.sum((1 - F.col("treated")) * F.col("y")).alias("syc"),
    )
    matched = strata.where((F.col("nt") > 0) & (F.col("nc") > 0)).select(
        "nt",
        "nc",
        F.round(
            1000.0
            * (
                F.col("syt").cast("double") / F.col("nt")
                - F.col("syc").cast("double") / F.col("nc")
            )
        )
        .cast("bigint")
        .alias("dmean_milli"),
    )
    unadj = cust.agg(
        F.round(
            1000.0
            * (
                F.sum(F.col("treated") * F.col("y").cast("double"))
                / F.sum("treated")
                - F.sum((1 - F.col("treated")) * F.col("y").cast("double"))
                / F.sum(1 - F.col("treated"))
            )
        )
        .cast("bigint")
        .alias("raw_diff_milli")
    )
    wsum = F.sum(F.col("nt") * F.col("dmean_milli"))
    return (
        matched.agg(
            F.count("*").cast("bigint").alias("n_strata"),
            F.sum("nt").cast("bigint").alias("n_treated_matched"),
            ((wsum - wsum % F.sum("nt")) / F.sum("nt"))
            .cast("bigint")
            .alias("att_milli"),
        )
        .crossJoin(F.broadcast(unadj))
    )


# --- X320: IPF raking ---------------------------------------------------------


@register(
    "q_ipf_raking",
    oracle="""
    WITH cells AS (
        SELECT c_nationkey AS i, c_mktsegment AS j,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(DISTINCT i) AS nr,
                   COUNT(DISTINCT j) AS nc FROM cells),
    w0 AS (SELECT i, j, n, CAST(1000000 AS BIGINT) AS w FROM cells),
    r1s AS (SELECT i, SUM(n * w) AS s FROM w0 GROUP BY i),
    r1 AS (
        SELECT w0.i, w0.j, w0.n,
               CAST(ROUND(CAST(w0.w AS DOUBLE) * (t.total // t.nr)
                          * 1000000 / r1s.s) AS BIGINT) AS w
        FROM w0 JOIN r1s ON r1s.i = w0.i CROSS JOIN tot t
    ),
    c1s AS (SELECT j, SUM(n * w) AS s FROM r1 GROUP BY j),
    c1 AS (
        SELECT r1.i, r1.j, r1.n,
               CAST(ROUND(CAST(r1.w AS DOUBLE) * (t.total // t.nc)
                          * 1000000 / c1s.s) AS BIGINT) AS w
        FROM r1 JOIN c1s ON c1s.j = r1.j CROSS JOIN tot t
    ),
    r2s AS (SELECT i, SUM(n * w) AS s FROM c1 GROUP BY i),
    r2 AS (
        SELECT c1.i, c1.j, c1.n,
               CAST(ROUND(CAST(c1.w AS DOUBLE) * (t.total // t.nr)
                          * 1000000 / r2s.s) AS BIGINT) AS w
        FROM c1 JOIN r2s ON r2s.i = c1.i CROSS JOIN tot t
    ),
    c2s AS (SELECT j, SUM(n * w) AS s FROM r2 GROUP BY j),
    c2 AS (
        SELECT r2.i, r2.j, r2.n,
               CAST(ROUND(CAST(r2.w AS DOUBLE) * (t.total // t.nc)
                          * 1000000 / c2s.s) AS BIGINT) AS w
        FROM r2 JOIN c2s ON c2s.j = r2.j CROSS JOIN tot t
    ),
    colfit AS (
        SELECT c2.j AS segment, SUM(c2.n * c2.w) AS achieved_micro
        FROM c2 GROUP BY c2.j
    ),
    rowerr AS (
        SELECT MAX(ABS(s - (t.total // t.nr) * 1000000)) AS max_row_err
        FROM (SELECT i, SUM(n * w) AS s FROM c2 GROUP BY i)
        CROSS JOIN tot t GROUP BY t.total, t.nr
    )
    SELECT f.segment,
           CAST(t.total // t.nc AS BIGINT) AS target_n,
           CAST(f.achieved_micro AS BIGINT) AS achieved_micro,
           CAST(r.max_row_err AS BIGINT) AS max_row_err_micro
    FROM colfit f CROSS JOIN tot t CROSS JOIN rowerr r
    ORDER BY f.segment
    """,
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X320: iterative proportional fitting (raking) to uniform margins.

    The survey-calibration / matrix-balancing loop: reweight the
    (nation x segment) cells so each nation and each segment carries
    an equal share, alternating row fits and column fits. Two full
    rounds unrolled; every factor application is ONE float expression
    over exact integers (weights ride as micro ints, marginal sums
    are exact integer SUM(n*w)), micro-rounded per cell — X197's
    fixed-point discipline makes the iteration hash-reproducible.
    Output: per-segment achieved mass after round 2 (columns fit
    exactly, up to rounding) plus the max row-margin error the NEXT
    round would fix — the convergence observable.

    100 TB: one fact aggregate to the |nations x segments| cell
    relation; every round is joins over that tiny relation.
    """
    c = table(spark, sf_dir, "customer")
    cells = (
        c.groupBy(
            F.col("c_nationkey").alias("i"), F.col("c_mktsegment").alias("j")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.count_distinct("i").alias("nr"),
        F.count_distinct("j").alias("nc"),
    )
    w = cells.select("i", "j", "n", F.lit(1000000).cast("bigint").alias("w"))

    def fit(df: DataFrame, key: str, tgt_den: str) -> DataFrame:
        s = df.groupBy(key).agg(F.sum(F.col("n") * F.col("w")).alias("s"))
        tgt = F.col("total") - F.col("total") % F.col(tgt_den)
        return (
            df.join(F.broadcast(s), key)
            .crossJoin(F.broadcast(tot))
            .select(
                "i",
                "j",
                "n",
                F.round(
                    F.col("w").cast("double")
                    * (tgt / F.col(tgt_den))
                    * 1000000
                    / F.col("s")
                )
                .cast("bigint")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )

    for key, den in (("i", "nr"), ("j", "nc"), ("i", "nr"), ("j", "nc")):
        w = fit(w, key, den)
    colfit = w.groupBy(F.col("j").alias("segment")).agg(
        F.sum(F.col("n") * F.col("w")).alias("achieved_micro")
    )
    rows = w.groupBy("i").agg(F.sum(F.col("n") * F.col("w")).alias("s"))
    rowerr = (
        rows.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("s")
                - (F.col("total") - F.col("total") % F.col("nr"))
                / F.col("nr")
                * 1000000
            ).alias("e")
        )
        .agg(F.max("e").cast("bigint").alias("max_row_err"))
    )
    tgt_col = F.col("total") - F.col("total") % F.col("nc")
    return (
        colfit.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rowerr))
        .select(
            "segment",
            (tgt_col / F.col("nc")).cast("bigint").alias("target_n"),
            F.col("achieved_micro").cast("bigint").alias("achieved_micro"),
            F.col("max_row_err").cast("bigint").alias("max_row_err_micro"),
        )
        .orderBy("segment")
    )


# --- X335: restricted mean survival time -------------------------------------

_RMST_TAU = 7


@register(
    "q_rmst",
    oracle=f"""
    WITH users AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d,
               MIN(CASE WHEN event_type = 'error'
                        THEN CAST(ts AS DATE) END) AS err_d
        FROM events GROUP BY user_id
    ),
    durs AS (
        SELECT CASE WHEN err_d IS NOT NULL
                    THEN date_diff('day', first_d, err_d)
                    ELSE date_diff('day', first_d, last_d) END AS dur,
               CASE WHEN err_d IS NOT NULL THEN 1 ELSE 0 END AS churned
        FROM users
    ),
    per_t AS (
        SELECT dur, COUNT(*) AS n_here,
               CAST(SUM(churned) AS BIGINT) AS n_events
        FROM durs GROUP BY dur
    ),
    risk AS (
        SELECT dur, n_events,
               CAST(SUM(n_here) OVER (ORDER BY dur DESC) AS BIGINT)
                   AS n_at_risk
        FROM per_t
    ),
    terms AS (
        SELECT dur,
               CAST(ROUND(LN(CAST(n_at_risk - n_events AS DOUBLE)
                             / n_at_risk) * 1000000) AS BIGINT) AS term
        FROM risk
        WHERE n_events > 0 AND n_at_risk > n_events
    ),
    steps AS (
        SELECT dur,
               CAST(ROUND(EXP(CAST(SUM(term) OVER (ORDER BY dur) AS DOUBLE)
                              / 1000000.0) * 1000000) AS BIGINT) AS s_micro,
               LEAD(dur) OVER (ORDER BY dur) AS next_dur
        FROM terms
    ),
    within AS (SELECT * FROM steps WHERE dur < {_RMST_TAU}),
    agg AS (
        SELECT COUNT(*) AS n_steps,
               COALESCE(MIN(dur), {_RMST_TAU}) AS first_dur,
               COALESCE(SUM(s_micro
                            * (LEAST(COALESCE(next_dur, {_RMST_TAU}),
                                     {_RMST_TAU}) - dur)), 0) AS area
        FROM within
    )
    SELECT CAST({_RMST_TAU} AS BIGINT) AS tau_days,
           CAST(n_steps AS BIGINT) AS n_steps,
           CAST(1000000 * LEAST(first_dur, {_RMST_TAU}) + area AS BIGINT)
               AS rmst_micro_days
    FROM agg
    """,
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X335: restricted mean survival time (area under the KM curve).

    RMST(tau) = integral of X224's product-limit survival from 0 to
    tau = sum of step heights times step widths — the single-number
    survival summary that stays meaningful when hazards cross (where
    a median or hazard ratio misleads). Failure time = days from a
    user's first activity to their first 'error' event, censored at
    last activity when none occurred (X224's churn framing is
    degenerate at sf0.01 — nobody churns — so this uses the failure
    clock that has real events at every scale). Step heights come
    from the SAME micro-log discipline as X224 (each ln micro-rounds,
    the product is an integer sum, one EXP back out per step), widths
    are exact day gaps clamped at tau=7; the pre-first-event interval
    rides at survival 1.

    100 TB: identical plan shape to X224 — user-grain aggregate, then
    every window lives on the <= |distinct durations| relation.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts").cast("date"))
        ).alias("err_d"),
    )
    durs = users.select(
        F.when(
            F.col("err_d").isNotNull(), F.datediff("err_d", "first_d")
        )
        .otherwise(F.datediff("last_d", "first_d"))
        .alias("dur"),
        F.when(F.col("err_d").isNotNull(), 1).otherwise(0).alias("churned"),
    )
    per_t = durs.groupBy("dur").agg(
        F.count("*").alias("n_here"),
        F.sum("churned").cast("bigint").alias("n_events"),
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.select(
        "dur",
        "n_events",
        F.sum("n_here").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    terms = risk.where(
        (F.col("n_events") > 0) & (F.col("n_at_risk") > F.col("n_events"))
    ).select(
        "dur",
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("n_events")).cast("double")
                / F.col("n_at_risk")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("term"),
    )
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    steps = terms.select(
        "dur",
        F.round(
            F.exp(F.sum("term").over(w_asc).cast("double") / F.lit(1000000.0))
            * 1000000
        )
        .cast("bigint")
        .alias("s_micro"),
        F.lead("dur").over(Window.orderBy("dur")).alias("next_dur"),
    )
    within = steps.where(F.col("dur") < _RMST_TAU)
    tau = F.lit(_RMST_TAU)
    agg = within.agg(
        F.count("*").cast("bigint").alias("n_steps"),
        F.coalesce(F.min("dur"), tau).alias("first_dur"),
        F.coalesce(
            F.sum(
                F.col("s_micro")
                * (
                    F.least(F.coalesce(F.col("next_dur"), tau), tau)
                    - F.col("dur")
                )
            ),
            F.lit(0),
        ).alias("area"),
    )
    return agg.select(
        tau.cast("bigint").alias("tau_days"),
        "n_steps",
        (F.lit(1000000) * F.least(F.col("first_dur"), tau) + F.col("area"))
        .cast("bigint")
        .alias("rmst_micro_days"),
    )


# --- X365: standardized effect-size suite -------------------------------------------


@register(
    "q_effect_sizes",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
        FROM orders
    ),
    census AS (
        SELECT v AS val,
               SUM(ga) AS ca,
               SUM(1 - ga) AS cb
        FROM v GROUP BY v
    ),
    ranked AS (
        SELECT val, ca, cb,
               SUM(cb) OVER (ORDER BY val) AS kb
        FROM census
    ),
    cliff AS (
        SELECT SUM(ca * (kb - cb)) AS conc,
               SUM(ca * cb) AS ties
        FROM ranked
    ),
    mom AS (
        SELECT SUM(ga) AS na, SUM(1 - ga) AS nb,
               SUM(CASE WHEN ga = 1 THEN v ELSE 0 END) AS sa,
               SUM(CASE WHEN ga = 0 THEN v ELSE 0 END) AS sb,
               SUM(CASE WHEN ga = 1
                        THEN CAST(v AS DECIMAL(38,0)) * v ELSE 0 END) AS qa,
               SUM(CASE WHEN ga = 0
                        THEN CAST(v AS DECIMAL(38,0)) * v ELSE 0 END) AS qb
        FROM v
    )
    SELECT CAST(m.na AS BIGINT) AS n_a, CAST(m.nb AS BIGINT) AS n_b,
           CAST(ROUND(1000000 *
                (CAST(m.sa AS DOUBLE) / m.na - CAST(m.sb AS DOUBLE) / m.nb)
                / SQRT(((CAST(m.qa AS DOUBLE)
                         - CAST(m.sa AS DOUBLE) * m.sa / m.na)
                        + (CAST(m.qb AS DOUBLE)
                           - CAST(m.sb AS DOUBLE) * m.sb / m.nb))
                       / (m.na + m.nb - 2))) AS BIGINT) AS cohens_d_micro,
           CAST(ROUND(1000000 *
                (CAST(m.sa AS DOUBLE) / m.na - CAST(m.sb AS DOUBLE) / m.nb)
                / SQRT(((CAST(m.qa AS DOUBLE)
                         - CAST(m.sa AS DOUBLE) * m.sa / m.na)
                        + (CAST(m.qb AS DOUBLE)
                           - CAST(m.sb AS DOUBLE) * m.sb / m.nb))
                       / (m.na + m.nb - 2))
                * (1 - 3.0 / (4 * (m.na + m.nb) - 9))) AS BIGINT)
               AS hedges_g_micro,
           -- HUGEINT // (truncating, matches Spark DIV); DECIMAL //
           -- degrades to double division + a ROUNDING bigint cast
           -- (the X349 probe) — caught live by the round-8 sf0.1
           -- sweep: quotient 1897.64 hashed 1898 vs Spark's 1897
           CAST(1000000 * (2 * c.conc + c.ties
                           - CAST(m.na AS HUGEINT) * m.nb)
                // (CAST(m.na AS HUGEINT) * m.nb) AS BIGINT)
               AS cliffs_delta_micro
    FROM mom m CROSS JOIN cliff c
    """,
)
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X365: the standardized effect-size suite for URGENT-vs-rest
    order value: Cohen's d, Hedges' g (the small-sample-corrected d),
    and Cliff's delta — the numbers a significance test (X358's
    p-value, the Mann-Whitney U) must be reported WITH, since at
    100 TB row counts everything is 'significant' and only magnitude
    matters.

    Cliff's delta is EXACT integer: from the shared value census,
    concordant pairs = Sum ca * (#B strictly below) via
    ordered_cumsum, delta = (P(a>b) - P(a<b)) = (2*conc + ties -
    na*nb)/(na*nb), one signed truncating DIV (both engines truncate
    toward zero). d and g take doubles only at the final
    mean/variance combination of exact centi/decimal moments.

    100 TB: one conditional-moment scan + one distinct-value census
    with a two-pass cumulative — no per-row window, no pair join
    (na*nb pairs are NEVER materialized; the census does the
    counting).
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("ga"),
    )
    dec = "decimal(38,0)"
    census = v.groupBy(F.col("v").alias("val")).agg(
        F.sum("ga").alias("ca"), F.sum(1 - F.col("ga")).alias("cb")
    )
    ranked = ordered_cumsum(census, order_by=["val"], values={"cb": "kb"})
    cliff = ranked.agg(
        F.sum(F.col("ca") * (F.col("kb") - F.col("cb"))).alias("conc"),
        F.sum(F.col("ca") * F.col("cb")).alias("ties"),
    )
    mom = v.agg(
        F.sum("ga").alias("na"),
        F.sum(1 - F.col("ga")).alias("nb"),
        F.sum(F.when(F.col("ga") == 1, F.col("v")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("ga") == 0, F.col("v")).otherwise(0)).alias("sb"),
        F.sum(
            F.when(F.col("ga") == 1, F.col("v").cast(dec) * F.col("v")).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("qa"),
        F.sum(
            F.when(F.col("ga") == 0, F.col("v").cast(dec) * F.col("v")).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    mean_gap = F.col("sa").cast("double") / na - F.col("sb").cast("double") / nb
    pooled = F.sqrt(
        (
            (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / na)
            + (
                F.col("qb").cast("double")
                - F.col("sb").cast("double") * F.col("sb") / nb
            )
        )
        / (na + nb - 2)
    )
    d = F.lit(1000000) * mean_gap / pooled
    g = d * (1 - 3.0 / (4 * (na + nb) - 9))
    return mom.crossJoin(F.broadcast(cliff)).select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(d).cast("bigint").alias("cohens_d_micro"),
        F.round(g).cast("bigint").alias("hedges_g_micro"),
        F.expr(
            "CAST(1000000 * (2 * conc + ties - CAST(na AS DECIMAL(38,0)) * nb)"
            " DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        ).alias("cliffs_delta_micro"),
    )


# --- X371: 1-NN propensity-score caliper matching ------------------------------

_PSM_CALIPER = 20000  # centi (one acctbal band of $200)


@register(
    "q_psm_match",
    tags=("pairs",),
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey AS id,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
               CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                   AS treated,
               COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                   AS outcome
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        GROUP BY 1, 2, 3
    ),
    t AS (SELECT * FROM cust WHERE treated = 1),
    c AS (SELECT * FROM cust WHERE treated = 0),
    best AS (
        SELECT t.id AS t_id, t.outcome AS t_out,
               MIN({'dist': ABS(t.score - c.score),
                    'cid': c.id, 'cout': c.outcome}) AS m
        FROM t JOIN c
          ON ABS(t.score - c.score) <= 20000
        GROUP BY 1, 2
    )
    SELECT CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(t_out - (m).cout) // COUNT(*) AS BIGINT) AS att_centi,
           CAST(SUM((m).dist) // COUNT(*) AS BIGINT) AS mean_dist_centi
    FROM best
    """,
)
def q_psm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X371: 1-nearest-neighbor propensity-score matching with a
    caliper — the continuous-score member of the causal-matching
    family (X317's CEM matches on coarsened CELLS; this pairs every
    treated unit with its single CLOSEST control within the caliper,
    with replacement, so the match is order-free and deterministic:
    ties on distance break on the lower control id via the (dist, id)
    argmin struct). ATT = mean treated-minus-matched-control total
    spend in exact centi; unmatched treated (no control inside the
    caliper) drop, and mean match distance rides along as the
    match-quality diagnostic.

    100 TB: candidates come from a caliper-blocked 1D grid join —
    each treated unit probes its own and both adjacent score blocks
    of width = caliper (|diff| <= caliper implies same-or-adjacent
    block, so the blocking is LOSSLESS — certified by the quadratic
    oracle); the argmin is one partial aggregate on a (dist, id)
    struct, never a sort.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cust = (
        c.where(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("id"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("score"),
            (F.col("c_mktsegment") == "AUTOMOBILE")
            .cast("int")
            .alias("treated"),
        )
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0),
            ).alias("outcome")
        )
    )
    t = cust.where(F.col("treated") == 1).select(
        F.col("id").alias("t_id"),
        F.col("score").alias("t_score"),
        F.col("outcome").alias("t_out"),
    )
    ctrl = cust.where(F.col("treated") == 0).select(
        F.col("id").alias("c_id"),
        F.col("score").alias("c_score"),
        F.col("outcome").alias("c_out"),
    )
    # caliper-blocked grid join: treated probes blocks b-1, b, b+1
    blk_t = F.floor(F.col("t_score") / _PSM_CALIPER)
    probes = t.select(
        "t_id",
        "t_score",
        "t_out",
        F.explode(F.array(blk_t - 1, blk_t, blk_t + 1)).alias("blk"),
    )
    blocked_c = ctrl.withColumn(
        "blk", F.floor(F.col("c_score") / _PSM_CALIPER)
    )
    cand = probes.join(blocked_c, "blk").where(
        F.abs(F.col("t_score") - F.col("c_score")) <= _PSM_CALIPER
    )
    best = cand.groupBy("t_id", "t_out").agg(
        F.min(
            F.struct(
                F.abs(F.col("t_score") - F.col("c_score")).alias("dist"),
                F.col("c_id").alias("c_id"),
                F.col("c_out").alias("c_out"),
            )
        ).alias("m")
    )
    matched = best.select(
        "t_id", "t_out", F.col("m.dist").alias("dist"), F.col("m.c_out").alias("c_out")
    )
    n_t = t.agg(F.count("*").alias("n_treated"))
    return (
        matched.crossJoin(F.broadcast(n_t))
        .agg(
            F.first("n_treated").cast("bigint").alias("n_treated"),
            F.count("*").cast("bigint").alias("n_matched"),
            F.expr("CAST(SUM(t_out - c_out) DIV COUNT(*) AS BIGINT)").alias(
                "att_centi"
            ),
            F.expr("CAST(SUM(dist) DIV COUNT(*) AS BIGINT)").alias(
                "mean_dist_centi"
            ),
        )
    )
