"""Data profiling, quality gates, privacy audits and sketch audits.

Column and key-skew profiles, expectation suites, functional
dependencies, referential integrity, k-anonymity and l-diversity,
differential-privacy counts, drift (PSI) and imputation censuses,
physical-design advisors (Z-order, zone maps, compression, RLE sort
keys, Bloom sizing, shuffle skew) and accuracy audits of the engine's
sketches (Misra-Gries, count-min, Bloom, KMV, HyperLogLog, hash
collisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_profile_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(l_quantity) AS l_quantity__n_nonnull,
           COUNT(DISTINCT l_quantity) AS l_quantity__n_distinct,
           MIN(l_quantity) AS l_quantity__min,
           MAX(l_quantity) AS l_quantity__max,
           ROUND(AVG(l_quantity), 4) AS l_quantity__avg,
           COUNT(l_returnflag) AS l_returnflag__n_nonnull,
           COUNT(DISTINCT l_returnflag) AS l_returnflag__n_distinct,
           MIN(length(l_returnflag)) AS l_returnflag__min_len,
           MAX(length(l_returnflag)) AS l_returnflag__max_len
    FROM lineitem
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine utility: one-pass column profile (operators/profiling.py).

    Every statistic is partial-aggregatable, so profiling N columns
    costs one scan + one 1-row exchange — the generalization of the
    reference's counter-based input profiling
    (LASERInputValidator.java:142-145). Exact distinct here for the
    oracle; the default is HLL sketches for 100 TB.
    """
    from laser_hadoop_spark.operators.profiling import profile

    li = table(spark, sf_dir, "lineitem")
    return profile(li, ["l_quantity", "l_returnflag"], exact_distinct=True)


@register(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_fk_orders', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-closure: declarative data-quality expectation suite.

    Five constraint checks -> one (check_name, violations) table:
    primary-key uniqueness, null rate, domain membership, value range,
    and referential integrity. The reference validates inputs
    imperatively per record and aborts on the first bad file
    (LASERInputValidator.java:29-211, counters + System.exit); here
    each expectation is an aggregate over the full input and all of
    them run in one job.

    Plan shape: the three orders checks fuse into ONE scan (conditional
    aggregates + stack unpivot), lineitem's range check is a second
    scan, and the FK check is a broadcast/shuffled anti join — 3 jobs
    total regardless of how many single-table expectations are added.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    orders_checks = (
        o.agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias("pk"),
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nulls"),
            F.sum(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
            ).alias("domain"),
        )
        .select(
            F.expr(
                "stack(3, 'orders_pk_unique', pk, 'orders_custkey_null', nulls,"
                " 'orders_status_domain', domain) AS (check_name, violations)"
            )
        )
        .select("check_name", F.col("violations").cast("bigint").alias("violations"))
    )
    qty = li.agg(
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("violations")
    ).select(F.lit("lineitem_qty_range").alias("check_name"), "violations")
    fk = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("violations"))
        .select(F.lit("lineitem_fk_orders").alias("check_name"), "violations")
    )
    return orders_checks.unionByName(qty).unionByName(fk)


@register(
    "q_zorder_stats",
    oracle="""
    WITH sp AS (
        SELECT o_orderkey,
               ((a | (a << 8)) & 16711935) AS a1,
               ((b | (b << 8)) & 16711935) AS b1
        FROM (
            SELECT o_orderkey,
                   o_custkey & 65535 AS a,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                       & 65535 AS b
            FROM orders
        )
    ),
    sp2 AS (SELECT o_orderkey,
                   ((a1 | (a1 << 4)) & 252645135) AS a2,
                   ((b1 | (b1 << 4)) & 252645135) AS b2 FROM sp),
    sp3 AS (SELECT o_orderkey,
                   ((a2 | (a2 << 2)) & 858993459) AS a3,
                   ((b2 | (b2 << 2)) & 858993459) AS b3 FROM sp2),
    sp4 AS (SELECT o_orderkey,
                   ((a3 | (a3 << 1)) & 1431655765) AS a4,
                   ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM sp3),
    z AS (SELECT o_orderkey, (a4 | (b4 << 1)) AS zval FROM sp4)
    SELECT CAST(zval >> 16 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max
    FROM z
    GROUP BY z_bucket
    """,
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-closure: Z-order (Morton) clustering key (operators/zorder.py).

    Interleaves the low 16 bits of o_custkey with the epoch-day of
    o_orderdate into a 32-bit Z-value via the 4-step parallel-prefix
    bit spread, then summarizes the coarse Z buckets (z >> 16) the
    `zorder_write` sink range-partitions files by. A file per bucket
    has tight min/max on BOTH customer and date, so either predicate
    prunes ~97% of files — the two-dimensional data-skipping layout
    parquet footer stats cannot give under any single-column sort.

    Pure codegen bit arithmetic on both engines (the oracle unrolls
    the identical spread steps); exact integers end-to-end.
    """
    from laser_hadoop_spark.operators.zorder import interleave16

    o = table(spark, sf_dir, "orders")
    epoch_day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    z = o.select(
        interleave16(F.col("o_custkey"), epoch_day).alias("zval")
    )
    return (
        z.groupBy((F.col("zval") / (1 << 16)).cast("bigint").alias("z_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
    )


@register(
    "q_key_skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
    ),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM per_key),
    top AS (
        SELECT l_orderkey, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, l_orderkey) AS rnk
        FROM per_key
    )
    SELECT t.rnk, t.l_orderkey, t.cnt,
           CAST((t.cnt * 10000) // tot.total AS BIGINT) AS share_bp,
           CAST(tot.n_keys AS BIGINT) AS n_keys
    FROM top t CROSS JOIN tot
    WHERE t.rnk <= 10
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling-closure: join/groupBy key-skew diagnosis.

    Top-10 heaviest join keys with their basis-point share of all rows
    plus the total key cardinality — the numbers that decide between a
    plain shuffle join, AQE skew splitting, and deliberate salting
    (operators/relational.salted_join). Exact integers only.

    Scale shape: one per-key aggregate (the only full shuffle), then
    TakeOrdered for the top-k — the global row_number never sees more
    than k rows on the Spark side because the orderBy+limit plans as
    TakeOrderedAndProject, and the scalar totals broadcast.
    """
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    tot = per_key.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    top = (
        per_key.orderBy(F.col("cnt").desc(), F.col("l_orderkey"))
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("l_orderkey"))
            ),
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "rnk",
        "l_orderkey",
        "cnt",
        F.expr("CAST((cnt * 10000) DIV total AS BIGINT)").alias("share_bp"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
    )


@register(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token <> ''),
    tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT token, COUNT(*) AS cnt
    FROM t CROSS JOIN tot
    GROUP BY token, tot.n
    HAVING COUNT(*) * 500 > tot.n
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: two-pass Misra-Gries heavy hitters with exact output.

    Tokens occurring in more than 1/500 of the corpus. Pass 1 runs a
    Misra-Gries summary (4096 counters) PER PARTITION inside
    mapInPandas — the classic guarantee (any token with global
    frequency > n/500 exceeds n_p/500 in at least one partition and
    survives a 4096 >= 500-counter summary) means the candidate union
    has no false negatives. Pass 2 recounts ONLY the candidates
    (broadcast semi-join) and filters by the exact threshold, so the
    output is exactly the oracle's full GROUP BY — but at 100 TB the
    shuffle carries only the few-thousand-candidate subset instead of
    every distinct token. Oracle equality proves the sketch pass is
    lossless for the reported set.
    """
    from laser_hadoop_spark.operators.sketches import heavy_hitters

    docs = table(spark, sf_dir, "documents").select("text")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    return heavy_hitters(tok, "token", threshold_denom=500, capacity=4096)


def _snapshot_diff_sql(md5_expr: str) -> str:
    """Shared snapshot-diff SQL; md5 input concat spelled per dialect."""
    return f"""
    WITH a AS (
        SELECT o_orderkey AS k, o_orderstatus, o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders
    ),
    b AS (
        SELECT k, o_orderstatus, o_orderpriority,
               CASE WHEN k % 89 = 0 THEN centi + 100 ELSE centi END AS centi
        FROM a WHERE k % 97 <> 0
        UNION ALL
        SELECT k + 100000000, o_orderstatus, o_orderpriority, centi
        FROM a WHERE k % 101 = 0
    ),
    af AS (SELECT k, {md5_expr} AS fp FROM a),
    bf AS (SELECT k, {md5_expr} AS fp FROM b),
    d AS (
        SELECT CASE WHEN af.k IS NULL THEN 'added'
                    WHEN bf.k IS NULL THEN 'removed'
                    WHEN af.fp <> bf.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM af FULL OUTER JOIN bf ON af.k = bf.k
    )
    SELECT status, COUNT(*) AS n_rows FROM d GROUP BY status
    """


_DIFF_MD5 = (
    "md5(o_orderstatus || '|' || o_orderpriority || '|' "
    "|| CAST(centi AS VARCHAR))"
)
_DIFF_MD5_SPARK = (
    "md5(concat(o_orderstatus, '|', o_orderpriority, '|', "
    "CAST(centi AS STRING)))"
)


@register("q_table_diff", oracle=_snapshot_diff_sql(_DIFF_MD5))
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: snapshot table diff (added / removed / changed / unchanged).

    The data-engineering reconciliation operator: compare two table
    snapshots by primary key and classify every key. Snapshot B is a
    deterministic simulation of the next load (keys % 97 deleted,
    % 89 price-bumped, % 101 re-inserted under fresh keys). Rows are
    compared by an md5 row fingerprint so the full-outer join moves
    (key, 32-byte digest) instead of whole rows — the 100 TB shape;
    AQE turns the final 4-group count into a trivial aggregate.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_snapshot_diff_sql(_DIFF_MD5_SPARK))


def _checksum_sql(hash2int: str, month: str) -> str:
    return f"""
    WITH rows_fp AS (
        SELECT {month} AS month,
               {hash2int} AS h
        FROM orders
    )
    SELECT month, COUNT(*) AS n_rows,
           CAST(BIT_XOR(h) AS BIGINT) AS xor_checksum
    FROM rows_fp GROUP BY month
    """


_CKSUM_ROW_DUCK = (
    "CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' "
    "|| o_orderstatus || '|' || CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) "
    "AS BIGINT) AS VARCHAR) || '|' || o_orderpriority), 1, 15)) AS BIGINT)"
)
_CKSUM_ROW_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), '|', "
    "o_orderstatus, '|', CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) "
    "AS BIGINT) AS STRING), '|', o_orderpriority)), 1, 15), 16, 10) AS BIGINT)"
)


@register(
    "q_partition_checksum",
    oracle=_checksum_sql(_CKSUM_ROW_DUCK, "strftime(o_orderdate, '%Y-%m')"),
)
def q_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: order-insensitive per-partition table checksums.

    One 60-bit XOR fingerprint per order month — the cross-system
    data-validation primitive: two engines (or two replication paths)
    agree on a partition iff row count AND checksum match, with no
    sort required because XOR is commutative/associative. Row identity
    is the md5 of a canonical field encoding (money in centi bigints).
    Scan-local hashing, one month-key aggregate with map-side combine
    — at 100 TB this is the cheapest possible full-table integrity
    pass, and it composes: partition checksums XOR into a table
    checksum.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        _checksum_sql(_CKSUM_ROW_SPARK, "date_format(o_orderdate, 'yyyy-MM')")
    )


@register(
    "q_join_cardinality",
    oracle="""
    WITH a AS (
        SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY l_orderkey
    ),
    b AS (
        SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY o_orderkey
    ),
    j AS (SELECT a.k, ca, cb FROM a JOIN b ON b.k = a.k)
    SELECT COUNT(*) AS n_shared_keys,
           CAST(SUM(ca * cb) AS BIGINT) AS est_join_rows,
           CAST(MAX(ca * cb) AS BIGINT) AS max_key_rows,
           CAST(10000 * MAX(ca * cb) // SUM(ca * cb) AS BIGINT)
               AS top_key_share_bp
    FROM j
    """,
)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X161: exact join-output cardinality from per-key histograms.

    |A join B| = sum over shared keys of cnt_A(k) * cnt_B(k) — the
    number that decides broadcast vs shuffle vs salting BEFORE paying
    for the join, plus the hottest key's share (the X60 skew signal in
    join-output terms: top_key_share_bp near 10000 means one key
    produces the whole output and AQE skew-split or salting is
    mandatory). Two per-key counting aggregates and a key-histogram
    join — the histograms are |keys| rows, not |rows|, so at 100 TB
    this estimator costs two map-side aggregations while the join it
    sizes would cost a full shuffle. Lineitem-orders is 1:N so
    est_join_rows equals |lineitem| exactly — a free sanity check the
    oracle hash pins.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("ca")
    )
    b = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").alias("cb")
    )
    j = a.join(b, "k").select((F.col("ca") * F.col("cb")).alias("kk"))
    return j.agg(
        F.count("*").alias("n_shared_keys"),
        F.sum("kk").cast("bigint").alias("est_join_rows"),
        F.max("kk").cast("bigint").alias("max_key_rows"),
        F.expr("CAST(10000 * MAX(kk) DIV SUM(kk) AS BIGINT)").alias(
            "top_key_share_bp"
        ),
    )


@register(
    "q_k_anonymity",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT COUNT(*) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(10000 * SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
                // SUM(n) AS BIGINT) AS risk_share_bp
    FROM qi
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X173: k-anonymity audit over a quasi-identifier tuple.

    Data-governance closure: before a table leaves the trust boundary,
    count equivalence classes of the quasi-identifier (nation,
    market segment) smaller than k=5 — each such class's rows are
    re-identifiable by linking on the QI alone (Sweeney's k-anonymity,
    public method). Reports group floor, classes below k, rows at
    risk, and the risk share in exact bp. One counting aggregate +
    one scalar pass; at 100 TB the QI histogram is the same shape as
    the X60/X161 planner inputs — governance and planning read the
    same sketch.
    """
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    return qi.agg(
        F.count("*").alias("n_groups"),
        F.min("n").cast("bigint").alias("min_group_size"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_k"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.expr(
            "CAST(10000 * SUM(CASE WHEN n < 5 THEN n ELSE 0 END)"
            " DIV SUM(n) AS BIGINT)"
        ).alias("risk_share_bp"),
    )


@register(
    "q_psi",
    oracle="""
    WITH v AS (
        SELECT YEAR(o_orderdate) AS y,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
               o_orderkey
        FROM orders
    ),
    yrs AS (SELECT MAX(y) AS cur_y FROM v),
    ref AS (
        SELECT centi, NTILE(10) OVER (ORDER BY centi, o_orderkey) AS d
        FROM v CROSS JOIN yrs WHERE y = cur_y - 1
    ),
    bounds AS (SELECT d, MAX(centi) AS hi FROM ref GROUP BY d),
    ref_n AS (SELECT d, COUNT(*) AS n FROM ref GROUP BY d),
    ref_tot AS (SELECT COUNT(*) AS n FROM ref),
    cur AS (
        SELECT centi FROM v CROSS JOIN yrs WHERE y = cur_y
    ),
    cur_g AS (SELECT centi, COUNT(*) AS c FROM cur GROUP BY centi),
    cur_b AS (
        SELECT g.centi, g.c, COALESCE(MIN(b.d), 10) AS d
        FROM cur_g g LEFT JOIN bounds b ON g.centi <= b.hi
        GROUP BY g.centi, g.c
    ),
    cur_n AS (SELECT d, SUM(c) AS n FROM cur_b GROUP BY d),
    cur_tot AS (SELECT SUM(c) AS n FROM cur_b),
    shares AS (
        SELECT r.d,
               10000 * r.n // rt.n AS ref_bp,
               10000 * COALESCE(c.n, 0) // ct.n AS cur_bp
        FROM ref_n r
        LEFT JOIN cur_n c ON c.d = r.d
        CROSS JOIN ref_tot rt CROSS JOIN cur_tot ct
    ),
    terms AS (
        SELECT d, ref_bp, cur_bp,
               CASE WHEN cur_bp > 0 AND ref_bp > 0
                    THEN (cur_bp - ref_bp)
                         * CAST(ROUND(LN(CAST(cur_bp AS DOUBLE) / ref_bp)
                                      * 1000000) AS BIGINT)
                    ELSE 0 END AS term
        FROM shares
    )
    SELECT CAST(d AS INT) AS decile, CAST(ref_bp AS BIGINT) AS ref_bp,
           CAST(cur_bp AS BIGINT) AS cur_bp,
           CAST(term // 10000 AS BIGINT) AS psi_term_micro
    FROM terms
    """,
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X197: Population Stability Index over reference deciles.

    THE model-monitoring drift number: bucket the CURRENT year's order
    values by the PRIOR year's decile boundaries and compare shares —
    PSI = sum (p_cur - p_ref) * ln(p_cur/p_ref); > 0.25 means the
    population the model was fit on no longer exists (X154 calibrates
    predictions; this monitors inputs). Exactness: shares are
    truncating bp integers, each bucket's SINGLE ln micro-rounds
    before the integer-weighted term (10 logs total, never per row —
    the X72 constant-not-row discipline), and per-decile terms are
    emitted so the hash pins the whole decomposition, not one sum.
    Reference deciles are rank order statistics; current-side
    bucketing is a 10-row broadcast range lookup.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    v = o.select(
        F.year("o_orderdate").alias("y"), centi.alias("centi"), "o_orderkey"
    )
    cur_y = v.agg(F.max("y").alias("cur_y"))
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    ref_rows = (
        v.crossJoin(F.broadcast(cur_y))
        .where(F.col("y") == F.col("cur_y") - 1)
        .select("centi", "o_orderkey")
    )
    ranked = ordered_cumsum(
        ref_rows, order_by=["centi", "o_orderkey"], row_number_col="rn"
    )
    nref = ref_rows.agg(F.count("*").alias("n"))
    # X118's closed-form ntile over the two-pass rank — the oracle
    # keeps the NTILE spelling; hash equality re-proves the closed
    # form on the reference year's relation
    decile_expr = closed_form_ntile()
    ref = ranked.crossJoin(F.broadcast(nref)).select(
        "centi", decile_expr.cast("int").alias("d")
    )
    bounds = ref.groupBy("d").agg(F.max("centi").alias("hi"))
    ref_n = ref.groupBy("d").agg(F.count("*").alias("rn"))
    ref_tot = ref.agg(F.count("*").alias("rt"))
    cur = (
        v.crossJoin(F.broadcast(cur_y))
        .where(F.col("y") == F.col("cur_y"))
        .select("centi")
    )
    # pre-group to the distinct-centi relation FIRST (the oracle's
    # cur_g shape): the <=10x range-join fanout then applies to
    # |distinct values| rows, not every order, and cur scans once
    cur_g = cur.groupBy("centi").agg(F.count("*").alias("c"))
    cur_b = (
        cur_g.join(F.broadcast(bounds), F.col("centi") <= F.col("hi"), "left")
        .groupBy("centi", "c")
        .agg(F.coalesce(F.min("d"), F.lit(10)).alias("d"))
    )
    cur_n = cur_b.groupBy("d").agg(F.sum("c").alias("cn"))
    cur_tot = cur_b.agg(F.sum("c").alias("ct"))
    shares = (
        ref_n.join(cur_n, "d", "left")
        .crossJoin(F.broadcast(ref_tot))
        .crossJoin(F.broadcast(cur_tot))
        .select(
            "d",
            F.expr("10000 * rn DIV rt").alias("ref_bp"),
            F.expr("10000 * COALESCE(cn, 0) DIV ct").alias("cur_bp"),
        )
    )
    term = (
        F.when(
            (F.col("cur_bp") > 0) & (F.col("ref_bp") > 0),
            (F.col("cur_bp") - F.col("ref_bp"))
            * F.round(
                F.log(F.col("cur_bp").cast("double") / F.col("ref_bp"))
                * 1_000_000
            ).cast("bigint"),
        )
        .otherwise(0)
        .alias("term")
    )
    return shares.select("d", "ref_bp", "cur_bp", term).select(
        F.col("d").cast("int").alias("decile"),
        F.col("ref_bp").cast("bigint").alias("ref_bp"),
        F.col("cur_bp").cast("bigint").alias("cur_bp"),
        F.expr("CAST(term DIV 10000 AS BIGINT)").alias("psi_term_micro"),
    )


# --- X206: count-min sketch, exactly verified ------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row
_CMS_PROBES = 20  # audit keys: user_id < 20


@register(
    "q_countmin_audit",
    oracle=f"""
    WITH keyed AS (SELECT user_id AS k FROM events),
    seeds AS (SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS i),
    cells AS (
        SELECT i,
               ('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
                                      || CAST(k AS VARCHAR)), 1, 7))::BIGINT
                   % {_CMS_W} AS h,
               COUNT(*) AS c
        FROM keyed CROSS JOIN seeds
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT DISTINCT k FROM keyed WHERE k < {_CMS_PROBES}
    ),
    est AS (
        SELECT p.k,
               MIN(c.c) AS cms_est
        FROM probes p CROSS JOIN seeds s
        JOIN cells c
          ON c.i = s.i
         AND c.h = ('0x' || substring(md5(CAST(s.i AS VARCHAR) || '|'
                                          || CAST(p.k AS VARCHAR)), 1, 7))::BIGINT
                   % {_CMS_W}
        GROUP BY p.k
    ),
    exact AS (
        SELECT k, COUNT(*) AS exact_n FROM keyed
        WHERE k < {_CMS_PROBES} GROUP BY k
    )
    SELECT e.k AS user_id, x.exact_n, e.cms_est,
           CAST(e.cms_est - x.exact_n AS BIGINT) AS over_est
    FROM est e JOIN exact x ON x.k = e.k
    """,
)
def q_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X206: count-min sketch build + point-query accuracy audit,
    exactly verified end-to-end.

    The mergeable frequency sketch with DETERMINISTIC md5 row hashes:
    the d x w counter matrix is one groupBy over (seed, bucket) —
    map-side combine shrinks each partition to <= d*w rows before the
    tiny shuffle, the sketch's defining scale property (the reduce
    moves d*w counters regardless of input rows). Point queries take
    min over the d probed cells; the audit joins exact counts for the
    probe keys and reports the one-sided overestimate (CMS never
    underestimates — the driver hash-check pins that invariant on
    real data).

    100 TB: identical plan — the shuffle moves 1024 counters per
    partition ceiling, and sketches from disjoint data merge by cell
    addition (same property X120 exercises for avg states).
    """
    e = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("i")
    hashed = e.select("k", seeds).select(
        "k",
        "i",
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST(i AS STRING), '|', "
            f"CAST(k AS STRING))), 1, 7), 16, 10) AS BIGINT) % {_CMS_W}"
        ).alias("h"),
    )
    cells = hashed.groupBy("i", "h").agg(F.count("*").alias("c"))
    probes = e.where(F.col("k") < _CMS_PROBES)
    exact = probes.groupBy("k").agg(F.count("*").alias("exact_n"))
    probe_cells = exact.select("k", F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("i")).select(
        "k",
        "i",
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST(i AS STRING), '|', "
            f"CAST(k AS STRING))), 1, 7), 16, 10) AS BIGINT) % {_CMS_W}"
        ).alias("h"),
    )
    est = (
        probe_cells.join(F.broadcast(cells), ["i", "h"])
        .groupBy("k")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").alias("user_id"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("over_est"),
        )
    )


# --- X207: Bloom-filter FPR audit ------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions


@register(
    "q_bloom_fpr_audit",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    ),
    seeds AS (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS i),
    bits AS (
        SELECT DISTINCT
               ('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
                                      || CAST(k AS VARCHAR)), 1, 7))::BIGINT
                   % {_BLOOM_M} AS pos
        FROM members CROSS JOIN seeds
    ),
    probes AS (SELECT c_custkey AS k FROM customer),
    nonmembers AS (
        SELECT p.k FROM probes p
        WHERE NOT EXISTS (SELECT 1 FROM members m WHERE m.k = p.k)
    ),
    hits AS (
        SELECT n.k, COUNT(*) AS set_bits
        FROM nonmembers n CROSS JOIN seeds s
        JOIN bits b
          ON b.pos = ('0x' || substring(md5(CAST(s.i AS VARCHAR) || '|'
                                            || CAST(n.k AS VARCHAR)), 1, 7))::BIGINT
                     % {_BLOOM_M}
        GROUP BY n.k
    ),
    fp AS (
        SELECT COUNT(*) AS n_fp FROM hits WHERE set_bits = {_BLOOM_K}
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM members) AS n_members,
               (SELECT COUNT(*) FROM nonmembers) AS n_nonmembers,
               (SELECT COUNT(*) FROM bits) AS n_set_bits,
               (SELECT n_fp FROM fp) AS n_false_pos
    )
    SELECT CAST(n_members AS BIGINT) AS n_members,
           CAST(n_nonmembers AS BIGINT) AS n_nonmembers,
           CAST(n_set_bits AS BIGINT) AS n_set_bits,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CAST(10000 * n_false_pos // n_nonmembers AS BIGINT) AS fpr_bp
    FROM counts
    """,
)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X207: Bloom-filter false-positive-rate audit, exactly verified.

    Builds an m=4096-bit, k=3 filter over the 'F'-status customer set
    with deterministic md5 bit positions, probes EVERY non-member
    customer, and reports the measured FPR in basis points — the
    empirical counterpart of (1-e^(-kn/m))^k that X51's bloom-pruned
    semi-join budgets against. The bit set is a <= m-row relation
    (broadcast); probing is k hash expressions + a broadcast semi-join
    per seed folded into one join + count — no driver-side bit array.

    100 TB: members aggregate to <= m distinct bits regardless of
    cardinality (the filter IS the reduction); probes stream scan-side
    with a broadcast of the m-row bit relation.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    members = (
        o.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    seeds = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("i")

    def pos_expr() -> F.Column:
        return F.expr(
            f"CAST(conv(substring(md5(concat(CAST(i AS STRING), '|', "
            f"CAST(k AS STRING))), 1, 7), 16, 10) AS BIGINT) % {_BLOOM_M}"
        )

    bits = members.select("k", seeds).select(pos_expr().alias("pos")).distinct()
    probes = c.select(F.col("c_custkey").alias("k"))
    nonmembers = probes.join(members, "k", "left_anti")
    hits = (
        nonmembers.select("k", seeds)
        .select("k", pos_expr().alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("set_bits"))
    )
    n_fp = hits.where(F.col("set_bits") == _BLOOM_K).agg(
        F.count("*").alias("n_false_pos")
    )
    n_m = members.agg(F.count("*").alias("n_members"))
    n_nm = nonmembers.agg(F.count("*").alias("n_nonmembers"))
    n_b = bits.agg(F.count("*").alias("n_set_bits"))
    return (
        n_m.crossJoin(n_nm)
        .crossJoin(n_b)
        .crossJoin(F.broadcast(n_fp))
        .select(
            "n_members",
            "n_nonmembers",
            "n_set_bits",
            "n_false_pos",
            F.expr("10000 * n_false_pos DIV n_nonmembers")
            .cast("bigint")
            .alias("fpr_bp"),
        )
    )


# --- X213: multi-source key reconciliation census --------------------------


@register(
    "q_multisource_reconcile",
    oracle="""
    WITH tagged AS (
        SELECT c_custkey AS k, 1 AS tag FROM customer
        UNION ALL
        SELECT DISTINCT o_custkey, 2 FROM orders
        UNION ALL
        SELECT DISTINCT user_id, 4 FROM events
    ),
    masks AS (
        SELECT k, SUM(DISTINCT tag) AS mask FROM tagged GROUP BY k
    )
    SELECT CAST(mask AS INT) AS presence_mask,
           COUNT(*) AS n_keys,
           CAST(MIN(k) AS BIGINT) AS example_key
    FROM masks GROUP BY mask
    """,
)
def q_multisource_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X213: N-way key reconciliation census (presence bitmask).

    Which keys exist in which systems — the data-ops reconciliation
    report (customer master vs order fact vs event stream) — WITHOUT
    chained full-outer joins: each source emits (key, tag-bit), one
    aggregate ORs the bits per key, a second tiny aggregate counts
    keys per presence combination. Two shuffles total regardless of
    source count, vs N-1 full-outer shuffles for the join spelling.

    100 TB: the tagged union is scan-local; the per-key aggregate
    combines map-side (each partition emits each key once per tag).
    """
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.lit(1).alias("tag")
    )
    o = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .select("k", F.lit(2).alias("tag"))
    )
    e = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k"))
        .distinct()
        .select("k", F.lit(4).alias("tag"))
    )
    masks = (
        c.unionByName(o)
        .unionByName(e)
        .groupBy("k")
        .agg(F.sum_distinct(F.col("tag")).alias("mask"))
    )
    return masks.groupBy(F.col("mask").cast("int").alias("presence_mask")).agg(
        F.count("*").alias("n_keys"),
        F.min("k").cast("bigint").alias("example_key"),
    )


# --- X216: KMV (k-minimum-values) distinct sketch audit --------------------

_KMV_K = 64


@register(
    "q_kmv_distinct_audit",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT o_orderpriority AS grp,
               ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT
                   AS h
        FROM orders
    ),
    ranked AS (
        SELECT grp, h,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rk
        FROM hashed
    ),
    kth AS (
        SELECT grp, h AS hk FROM ranked WHERE rk = {_KMV_K}
    ),
    exact AS (
        SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS exact_n
        FROM orders GROUP BY 1
    )
    SELECT e.grp AS o_orderpriority, e.exact_n,
           CAST(({_KMV_K} - 1) * 281474976710656 // k.hk AS BIGINT) AS kmv_est,
           CAST(ABS(({_KMV_K} - 1) * 281474976710656 // k.hk - e.exact_n)
                * 10000 // e.exact_n AS BIGINT) AS err_bp
    FROM exact e JOIN kth k ON k.grp = e.grp
    """,
)
def q_kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X216: KMV (k-minimum-values / bottom-k) distinct sketch audit,
    exactly verified.

    The third sketch family alongside HLL (X56) and count-min (X206):
    per group, the k=64 smallest 48-bit md5 hashes of the distinct
    keys; the estimator (k-1) * 2^48 DIV h_k (h_k = k-th smallest)
    estimates distinct cardinality; joined against the exact distinct
    count with the measured error in bp. 48-bit hashes keep
    (k-1)<<48 inside bigint on both engines — no HUGEINT needed.

    100 TB: the bottom-k per group is a (grp, h) distinct + per-group
    top-k (X157's salted two-level form at extreme skew); the sketch
    is mergeable (union = bottom-k of the union), the property that
    makes KMV a partial-aggregate at cluster scale.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    hashed = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.expr(
                "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 12), "
                "16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .distinct()
    )
    ranked = hashed.select(
        "grp",
        "h",
        F.row_number().over(Window.partitionBy("grp").orderBy("h")).alias("rk"),
    )
    kth = ranked.where(F.col("rk") == _KMV_K).select(
        "grp", F.col("h").alias("hk")
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_distinct("o_custkey").alias("exact_n")
    )
    est = F.expr(f"({_KMV_K} - 1) * 281474976710656 DIV hk")
    return (
        exact.join(F.broadcast(kth), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            "exact_n",
            est.cast("bigint").alias("kmv_est"),
            F.expr(
                f"ABS(({_KMV_K} - 1) * 281474976710656 DIV hk - exact_n) "
                f"* 10000 DIV exact_n"
            )
            .cast("bigint")
            .alias("err_bp"),
        )
    )


# --- X221: zone-map (data-skipping) audit ----------------------------------

_ZM_BLOCK = 512
_ZM_LO = "1996-01-01"
_ZM_HI = "1996-04-01"


def _zonemap_oracle() -> str:
    def layout(name: str, blk: str) -> str:
        return f"""
    SELECT '{name}' AS layout, n_blocks, n_prunable,
           CAST(n_prunable * 10000 // n_blocks AS BIGINT) AS prunable_bp,
           rows_scanned, rows_matching
    FROM (
        SELECT COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_prunable,
               CAST(SUM(CASE WHEN prunable THEN 0 ELSE n END) AS BIGINT)
                   AS rows_scanned,
               CAST(SUM(n_match) AS BIGINT) AS rows_matching
        FROM (
            SELECT {blk} AS blk, COUNT(*) AS n,
                   SUM(CASE WHEN d >= DATE '{_ZM_LO}' AND d < DATE '{_ZM_HI}'
                            THEN 1 ELSE 0 END) AS n_match,
                   MAX(d) < DATE '{_ZM_LO}' OR MIN(d) >= DATE '{_ZM_HI}'
                       AS prunable
            FROM src GROUP BY 1
        )
    )"""

    return (
        """
    WITH src AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
    )"""
        + layout("natural", f"o_orderkey // {_ZM_BLOCK}")
        + "\n    UNION ALL"
        + layout(
            "date_clustered",
            "CAST(EXTRACT(YEAR FROM d) * 100 + EXTRACT(MONTH FROM d) AS BIGINT)",
        )
    )


@register("q_zonemap_audit", oracle=_zonemap_oracle())
def q_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X221: zone-map (min/max data-skipping) effectiveness audit.

    The measurement behind every clustering/layout decision (X57's
    Z-order, Delta/Iceberg file stats): per storage block, min/max of
    the filter column decide whether a scan with the predicate
    [1996-01-01, 1996-04-01) can SKIP the block entirely. Compares the
    natural (insertion-order, orderkey-blocked) layout — where dates
    are spread so ~nothing prunes — against a date-clustered layout
    (monthly blocks) where almost everything prunes; reports blocks,
    prunable share in bp, and rows actually scanned after pruning.

    100 TB: two block-keyed aggregates with map-side combine over one
    scan shape each; block stats relations are tiny (n/512 and <=
    n_months rows). This is the audit a table-layout optimizer runs
    before choosing a clustering key.
    """
    o = table(spark, sf_dir, "orders")
    src = o.select("o_orderkey", F.col("o_orderdate").cast("date").alias("d"))
    match = F.when(
        (F.col("d") >= F.lit(_ZM_LO)) & (F.col("d") < F.lit(_ZM_HI)), 1
    ).otherwise(0)

    def layout(name: str, blk) -> DataFrame:
        blocks = src.groupBy(blk.alias("blk")).agg(
            F.count("*").alias("n"),
            F.sum(match).alias("n_match"),
            (
                (F.max("d") < F.lit(_ZM_LO)) | (F.min("d") >= F.lit(_ZM_HI))
            ).alias("prunable"),
        )
        return blocks.agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(F.col("prunable"), 1).otherwise(0)).alias("n_prunable"),
            F.expr(
                "SUM(CASE WHEN prunable THEN 1 ELSE 0 END) * 10000 "
                "DIV COUNT(*)"
            ).alias("prunable_bp"),
            F.sum(F.when(F.col("prunable"), 0).otherwise(F.col("n")))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        ).select(
            F.lit(name).alias("layout"), "n_blocks", "n_prunable",
            "prunable_bp", "rows_scanned", "rows_matching",
        )

    nat = layout("natural", F.expr(f"o_orderkey DIV {_ZM_BLOCK}"))
    clu = layout(
        "date_clustered",
        F.expr("CAST(year(d) * 100 + month(d) AS BIGINT)"),
    )
    return nat.unionByName(clu)


# --- X228: lightweight-compression advisor ---------------------------------

_CBLOCK = 512


@register(
    "q_compression_advisor",
    oracle=f"""
    WITH src AS (
        SELECT o_orderkey // {_CBLOCK} AS blk,
               o_orderkey AS v, 'o_orderkey' AS col_name FROM orders
        UNION ALL
        SELECT o_orderkey // {_CBLOCK}, o_custkey, 'o_custkey' FROM orders
        UNION ALL
        SELECT o_orderkey // {_CBLOCK},
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
               'price_centi' FROM orders
    ),
    blocks AS (
        SELECT col_name, blk, COUNT(*) AS n,
               COUNT(DISTINCT v) AS nd,
               length(bin(MAX(v) - MIN(v))) AS for_bits,
               length(bin(COUNT(DISTINCT v) - 1)) AS dict_bits
        FROM src GROUP BY 1, 2
    ),
    costs AS (
        SELECT col_name,
               CAST(SUM(n) AS BIGINT) AS n_values,
               CAST(SUM(n * 64) AS BIGINT) AS plain_bits,
               CAST(SUM(n * for_bits + 64) AS BIGINT) AS for_bits,
               CAST(SUM(n * dict_bits + nd * 64) AS BIGINT) AS dict_bits
        FROM blocks GROUP BY 1
    )
    SELECT col_name,
           CAST(plain_bits * 1000 // n_values AS BIGINT) AS plain_mbits,
           CAST(for_bits * 1000 // n_values AS BIGINT) AS for_mbits,
           CAST(dict_bits * 1000 // n_values AS BIGINT) AS dict_mbits,
           CASE WHEN for_bits <= dict_bits AND for_bits <= plain_bits
                THEN 'for'
                WHEN dict_bits <= plain_bits THEN 'dict'
                ELSE 'plain' END AS best_scheme
    FROM costs
    """,
)
def q_compression_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X228: lightweight-compression scheme advisor, exact integer bits.

    The codec-selection pass a columnar writer (parquet encoder, DuckDB
    storage) runs per block: for each 512-row block and column, cost
    frame-of-reference encoding (bits to span max-min, + one 64-bit
    reference) against dictionary encoding (bits to index nd distinct
    values + the dictionary itself) against plain 64-bit. Bit widths
    are exact via length(bin(x)) — no float log2 — and costs roll up to
    milli-bits-per-value with the winning scheme per column. Sequential
    keys pick FOR, low-cardinality picks dict, random wide columns stay
    plain — measured, not assumed.

    100 TB: one unpivoted scan (3 stacked columns), one block-keyed
    aggregate with map-side combine, one per-column rollup; the
    expensive part (per-block distinct) is bounded by block size.
    """
    o = table(spark, sf_dir, "orders")
    src = o.selectExpr(
        f"o_orderkey DIV {_CBLOCK} AS blk",
        "stack(3, 'o_orderkey', o_orderkey, 'o_custkey', o_custkey, "
        "'price_centi', CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "AS (col_name, v)",
    )
    blocks = src.groupBy("col_name", "blk").agg(
        F.count("*").alias("n"),
        F.countDistinct("v").alias("nd"),
        F.length(F.bin(F.max("v") - F.min("v"))).alias("for_bits"),
        F.length(F.bin(F.countDistinct("v") - 1)).alias("dict_bits"),
    )
    costs = blocks.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_values"),
        F.sum(F.col("n") * 64).cast("bigint").alias("plain_bits"),
        F.sum(F.col("n") * F.col("for_bits") + 64)
        .cast("bigint")
        .alias("for_bits"),
        F.sum(F.col("n") * F.col("dict_bits") + F.col("nd") * 64)
        .cast("bigint")
        .alias("dict_bits"),
    )
    best = (
        F.when(
            (F.col("for_bits") <= F.col("dict_bits"))
            & (F.col("for_bits") <= F.col("plain_bits")),
            "for",
        )
        .when(F.col("dict_bits") <= F.col("plain_bits"), "dict")
        .otherwise("plain")
    )
    return costs.select(
        "col_name",
        F.expr("plain_bits * 1000 DIV n_values")
        .cast("bigint")
        .alias("plain_mbits"),
        F.expr("for_bits * 1000 DIV n_values").cast("bigint").alias("for_mbits"),
        F.expr("dict_bits * 1000 DIV n_values")
        .cast("bigint")
        .alias("dict_mbits"),
        best.alias("best_scheme"),
    )


# --- X229: shuffle-partition skew planner ----------------------------------

_SKEW_KS = (8, 32, 128)


@register(
    "q_shuffle_skew_planner",
    oracle=f"""
    WITH hashed AS (
        SELECT ('0x' || substring(md5(CAST(l_suppkey AS VARCHAR)), 1, 12))::BIGINT
                   AS h
        FROM lineitem
    ),
    ks AS (SELECT UNNEST(ARRAY{list(_SKEW_KS)}) AS k),
    parts AS (
        SELECT k, h % k AS part, COUNT(*) AS n
        FROM hashed CROSS JOIN ks
        GROUP BY 1, 2
    ),
    tot AS (SELECT k, CAST(SUM(n) AS BIGINT) AS total FROM parts GROUP BY k)
    SELECT CAST(p.k AS INT) AS k,
           COUNT(*) AS n_parts_nonempty,
           CAST(MAX(p.n) AS BIGINT) AS max_rows,
           CAST(MIN(t.total) // p.k AS BIGINT) AS avg_rows,
           CAST(MAX(p.n) * 10000 // (MIN(t.total) // p.k) AS BIGINT)
               AS skew_bp
    FROM parts p JOIN tot t ON t.k = p.k
    GROUP BY p.k
    """,
)
def q_shuffle_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X229: shuffle-partition skew planner.

    The sizing input for spark.sql.shuffle.partitions / AQE advisory
    size: simulate hash partitioning of the real join-key distribution
    (l_suppkey) at candidate partition counts {8, 32, 128} and report
    per k the nonempty partitions, the hottest partition, the ideal
    average, and the skew factor in bp (hottest/average). A skew_bp
    near 10000 means balanced; a large value at every k means the KEY
    is skewed (salting territory, X4) rather than the count being
    wrong. md5-derived hashing keeps both engines bit-identical — the
    planner's verdict, not Spark's private hash, is what's verified.

    100 TB: k candidate assignments in ONE scan (explode over a 3-row
    broadcast array), one (k, part) aggregate with map-side combine —
    the output is <= sum(k) rows regardless of fact size.
    """
    li = table(spark, sf_dir, "lineitem")
    hashed = li.select(
        F.expr(
            "CAST(conv(substring(md5(CAST(l_suppkey AS STRING)), 1, 12), "
            "16, 10) AS BIGINT)"
        ).alias("h")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _SKEW_KS])).alias("k")
    parts = (
        hashed.select("h", ks)
        .groupBy("k", (F.col("h") % F.col("k")).alias("part"))
        .agg(F.count("*").alias("n"))
    )
    tot = parts.groupBy("k").agg(F.sum("n").cast("bigint").alias("total"))
    return (
        parts.join(F.broadcast(tot), "k")
        .groupBy("k")
        .agg(
            F.count("*").alias("n_parts_nonempty"),
            F.max("n").cast("bigint").alias("max_rows"),
            F.expr("MIN(total) DIV k").cast("bigint").alias("avg_rows"),
            F.expr("MAX(n) * 10000 DIV (MIN(total) DIV k)")
            .cast("bigint")
            .alias("skew_bp"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_parts_nonempty",
            "max_rows",
            "avg_rows",
            "skew_bp",
        )
    )


# --- X236: functional-dependency miner -------------------------------------

_FD_PAIRS = (
    ("customer", "c_nationkey", "c_mktsegment"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("lineitem", "l_partkey", "l_suppkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_PAIRS:
        parts.append(
            f"""
    SELECT '{tbl}.{lhs} -> {rhs}' AS fd,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
                AS BIGINT) AS violation_bp
    FROM (
        SELECT {lhs} AS a, COUNT(DISTINCT {rhs}) AS nd
        FROM {tbl} GROUP BY 1
    )"""
        )
    return "\n    UNION ALL".join(parts)


@register("q_fd_miner", oracle=_fd_oracle())
def q_fd_miner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236: functional-dependency miner (profiling for schema
    discovery).

    Scores candidate A -> B dependencies by the number of A-groups
    holding more than one distinct B — a dependency HOLDS iff zero
    violate (Metanome/TANE-style exact validation, restricted to
    declared candidate pairs the way a profiler seeds from column
    types). Reports group counts and the violation rate in bp: the
    schema-discovery signal that tells you which "id-like" columns are
    really keys and which relationships are 1:N in disguise.

    100 TB: per pair, one (A, B) distinct-combine + one A-keyed
    aggregate — map-side combine makes the shuffle carry distinct
    pairs, not rows; pairs evaluate independently (union of branches).
    """
    dfs = []
    for tbl, lhs, rhs in _FD_PAIRS:
        t = table(spark, sf_dir, tbl)
        grouped = t.groupBy(F.col(lhs).alias("a")).agg(
            F.countDistinct(rhs).alias("nd")
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        dfs.append(
            grouped.agg(
                F.count("*").alias("n_groups"),
                viol.cast("bigint").alias("n_violating"),
                F.expr(
                    "SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 10000 "
                    "DIV COUNT(*)"
                )
                .cast("bigint")
                .alias("violation_bp"),
            ).select(
                F.lit(f"{tbl}.{lhs} -> {rhs}").alias("fd"),
                "n_groups",
                "n_violating",
                "violation_bp",
            )
        )
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


# --- X237: percentile quarantine (distribution-relative DQ gate) -----------


@register(
    "q_percentile_quarantine",
    oracle="""
    WITH v AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders
    ),
    ranked AS (
        SELECT month, centi,
               ROW_NUMBER() OVER (PARTITION BY month ORDER BY centi) AS rn,
               COUNT(*) OVER (PARTITION BY month) AS n
        FROM v
    ),
    thresholds AS (
        SELECT month, MIN(centi) AS p99_centi
        FROM ranked WHERE 100 * rn >= 99 * n
        GROUP BY month
    )
    SELECT CAST(v.month AS DATE) AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN v.centi > t.p99_centi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(MIN(t.p99_centi) AS BIGINT) AS p99_centi
    FROM v JOIN thresholds t ON t.month = v.month
    GROUP BY 1
    """,
)
def q_percentile_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237: percentile quarantine — the distribution-relative DQ gate.

    X55's expectation suite gates on ABSOLUTE rules; this gate adapts
    to each partition's own scale: per calendar month, the p99 order
    statistic of order value (exact: smallest v with 100*rank >=
    99*n), and a census of how many orders exceed it — the rows a
    quarantine sink would divert for review. Order statistics via
    rank, never a float percentile.

    100 TB: one shuffle on the month key serves the rank window, the
    per-month count, and the census; the threshold relation
    (<= n_months rows) broadcasts back onto the same partitioning.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "centi"
        ),
    )
    wm = Window.partitionBy("month")
    ranked = v.select(
        "month",
        "centi",
        F.row_number().over(wm.orderBy("centi")).alias("rn"),
        F.count("*").over(wm).alias("n"),
    )
    thresholds = (
        ranked.where(100 * F.col("rn") >= 99 * F.col("n"))
        .groupBy("month")
        .agg(F.min("centi").alias("p99_centi"))
    )
    return (
        v.join(F.broadcast(thresholds), "month")
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("centi") > F.col("p99_centi"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.min("p99_centi").cast("bigint").alias("p99_centi"),
        )
    )


# --- X287: referential-integrity dashboard -------------------------------------

_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


@register(
    "q_fk_integrity",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{ct}.{ck}' AS fk_edge, '{pt}.{pk}' AS parent,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck}
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM {ct} c
        """
        for ct, ck, pt, pk in _FK_EDGES
    ),
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X287: referential-integrity dashboard over every FK edge.

    J3's anti-join (the reference's cross-input violation gate,
    LASERInputCheckMapper.java:138-144) generalized to the whole star
    schema: for each of the eight FK edges, the child row
    count and the orphan count (child keys with no parent). One stacked
    result — the table a data-quality dashboard renders after every
    load. The events->customer edge is a SOFT contract (event traffic
    may legitimately precede customer registration); the dashboard
    reports it rather than asserting it, which is exactly why the
    orphan count is data, not a test.

    100 TB shape: each edge is one left-anti-shaped conditional count;
    dimension parents broadcast, and the one fact-fact edge
    (lineitem->orders) joins on the bucketed warehouse key when the
    warehouse layout (X5) is in use. Counts aggregate map-side.
    """
    parts = []
    for ct, ck, pt, pk in _FK_EDGES:
        child = table(spark, sf_dir, ct).select(F.col(ck))
        parent = table(spark, sf_dir, pt).select(F.col(pk)).distinct()
        orphans = child.join(
            parent, child[ck] == parent[pk], "left"
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
        )
        parts.append(
            orphans.select(
                F.lit(f"{ct}.{ck}").alias("fk_edge"),
                F.lit(f"{pt}.{pk}").alias("parent"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_orphans").cast("bigint").alias("n_orphans"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- X296: l-diversity audit --------------------------------------------------

_LDIV_L = 4


@register(
    "q_l_diversity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                    AS BIGINT) AS l
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(nation AS INT) AS nation, segment, n, l,
           CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END AS fails
    FROM g
    ORDER BY l, n DESC, nation, segment
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X296: l-diversity audit — k-anonymity's sensitive-value axis.

    X173 counts quasi-identifier group sizes (k); this counts DISTINCT
    sensitive values per group (l): a group can be k-anonymous yet
    leak the sensitive attribute outright if all members share it
    (homogeneity attack). Quasi-identifiers (nation, segment),
    sensitive attribute = account-balance band (floor(bal/1000));
    every QI group reports its l with a fails flag at l < 4 (the
    group census stays non-empty at any scale). One exact
    distinct-aggregate.

    100 TB: a single groupBy on the QI key with a distinct-count —
    partial-aggregated, and the distinct runs on (QI, band) pairs
    whose cardinality is bounded by |QI| * |bands|, not by rows.
    """
    c = table(spark, sf_dir, "customer")
    g = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        )
        .cast("bigint")
        .alias("l"),
    )
    return (
        g.select(
            F.col("nation").cast("int").alias("nation"),
            "segment",
            "n",
            "l",
            F.when(F.col("l") < _LDIV_L, 1).otherwise(0).alias("fails"),
        )
        .orderBy("l", F.desc("n"), "nation", "segment")
    )


# --- X297: seeded DP-style noisy counts --------------------------------------


@register(
    "q_dp_noisy_counts",
    oracle="""
    WITH counts AS (
        SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ),
    seeded AS (
        SELECT n_name, n,
               CAST(('0x' || substring(md5(n_name), 1, 15)) AS BIGINT)
                   % 1000000 AS u_micro
        FROM counts
    ),
    noise AS (
        SELECT n_name, n, u_micro,
               CAST(ROUND(-1000000.0
                          * SIGN(2 * u_micro + 1 - 1000000)
                          * LN((1000000.0
                                - ABS(2 * u_micro + 1 - 1000000))
                               / 1000000.0)) AS BIGINT) AS noise_micro
        FROM seeded
    )
    SELECT n_name, noise_micro,
           CAST(n * 1000000 + noise_micro AS BIGINT) AS noisy_count_micro
    FROM noise ORDER BY n_name
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X297: seeded Laplace(1/eps) noisy counts, eps = 1.

    The differential-privacy release shape with REPLAYABLE noise: the
    uniform comes from the md5 hash of the group key (X218's
    deterministic-bootstrap idiom), and the Laplace draw is the
    closed-form inverse CDF -sign(u - 1/2) * ln(1 - 2|u - 1/2|),
    micro-rounded once — so the noisy count is an exact integer both
    engines agree on. (True DP needs nondeterministic noise; the
    seeded variant is the testable pipeline plumbing — swap the hash
    for a secure RNG at release time.)

    100 TB: one partial-aggregated count per group + a broadcast
    dimension join; noise is a scalar expression on the group relation.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    u = (
        F.conv(F.substring(F.md5(F.col("n_name")), 1, 15), 16, 10).cast("bigint")
        % 1000000
    )
    seeded = counts.select("n_name", "n", u.alias("u_micro"))
    dev = 2 * F.col("u_micro") + 1 - 1000000
    noise = F.round(
        -1000000.0
        * F.signum(dev.cast("double"))
        * F.log((1000000.0 - F.abs(dev)) / 1000000.0)
    ).cast("bigint")
    return (
        seeded.select(
            "n_name",
            noise.alias("noise_micro"),
            (F.col("n") * 1000000 + noise).cast("bigint").alias(
                "noisy_count_micro"
            ),
        )
        .orderBy("n_name")
    )


# --- X333: birthday-collision hash audit -------------------------------------


@register(
    "q_hash_collision_audit",
    oracle="""
    WITH hashed AS (
        SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                                       1, 6)) AS BIGINT) AS bucket
        FROM orders
    ),
    buckets AS (
        SELECT bucket, COUNT(*) AS k FROM hashed GROUP BY bucket
    ),
    stats AS (
        SELECT CAST(SUM(k) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
               CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS observed_pairs,
               CAST(MAX(k) AS BIGINT) AS max_bucket
        FROM buckets
    )
    SELECT n, n_buckets_used, observed_pairs, max_bucket,
           CAST(ROUND(1000000.0 * ((n * (n - 1)) // 2) / 16777216.0)
                AS BIGINT) AS expected_pairs_micro,
           CAST(ROUND((1000000.0 * (observed_pairs * 33554432))
                      / (n * (n - 1))) AS BIGINT) AS ratio_micro
    FROM stats
    """,
)
def q_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X333: birthday-bound collision audit of the engine's hash family.

    Bucket every order key by its 24-bit md5 prefix and compare the
    observed colliding-pair count sum(C(k,2)) against the birthday
    expectation C(n,2)/2^24. ratio_micro ~ 1e6 certifies the hash the
    engine's samplers / salted joins / split assignment (X139, X115,
    X4) all lean on is pairwise-uniform at this prefix width; X324
    audits the same generator's rank spacings, this audits its
    bucketing. Exact integer pair counts; the expectation and ratio
    are each one float division.

    100 TB: scan-local hashing, one bucket combine (partial aggs make
    the shuffle |buckets|-bounded), 1-row output.
    """
    o = table(spark, sf_dir, "orders")
    hashed = o.select(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        .alias("bucket")
    )
    buckets = hashed.groupBy("bucket").agg(F.count("*").alias("k"))
    k = F.col("k")
    stats = buckets.agg(
        F.sum(k).cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_buckets_used"),
        F.sum(F.expr("(k * (k - 1)) div 2")).cast("bigint").alias("observed_pairs"),
        F.max(k).cast("bigint").alias("max_bucket"),
    )
    n = F.col("n")
    return stats.select(
        "n",
        "n_buckets_used",
        "observed_pairs",
        "max_bucket",
        F.round(
            F.lit(1000000.0) * F.expr("(n * (n - 1)) div 2") / F.lit(16777216.0)
        )
        .cast("bigint")
        .alias("expected_pairs_micro"),
        F.round(
            (F.lit(1000000.0) * (F.col("observed_pairs") * 33554432))
            / (n * (n - 1))
        )
        .cast("bigint")
        .alias("ratio_micro"),
    )


# --- X346: sort-order (RLE-run) layout advisor -------------------------------


@register(
    "q_rle_advisor",
    oracle="""
    WITH rows_ AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_partkey AS VARCHAR) AS c_partkey,
               CAST(l_suppkey AS VARCHAR) AS c_suppkey,
               CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS c_shipdate,
               l_returnflag AS c_returnflag
        FROM lineitem
    ),
    nxt AS (
        SELECT c_partkey, c_suppkey, c_shipdate, c_returnflag,
               LEAD(c_partkey) OVER w AS n_partkey,
               LEAD(c_suppkey) OVER w AS n_suppkey,
               LEAD(c_shipdate) OVER w AS n_shipdate,
               LEAD(c_returnflag) OVER w AS n_returnflag
        FROM rows_
        WINDOW w AS (ORDER BY l_orderkey, l_linenumber)
    ),
    runs AS (
        SELECT
          SUM(CASE WHEN n_partkey IS NOT NULL
                    AND n_partkey <> c_partkey THEN 1 ELSE 0 END) + 1 AS r1,
          SUM(CASE WHEN n_suppkey IS NOT NULL
                    AND n_suppkey <> c_suppkey THEN 1 ELSE 0 END) + 1 AS r2,
          SUM(CASE WHEN n_shipdate IS NOT NULL
                    AND n_shipdate <> c_shipdate THEN 1 ELSE 0 END) + 1 AS r3,
          SUM(CASE WHEN n_returnflag IS NOT NULL
                    AND n_returnflag <> c_returnflag THEN 1 ELSE 0 END) + 1
              AS r4,
          COUNT(DISTINCT c_partkey) AS d1,
          COUNT(DISTINCT c_suppkey) AS d2,
          COUNT(DISTINCT c_shipdate) AS d3,
          COUNT(DISTINCT c_returnflag) AS d4
        FROM nxt
    )
    SELECT col_name,
           CAST(n_runs_natural AS BIGINT) AS n_runs_natural,
           CAST(n_runs_sorted AS BIGINT) AS n_runs_sorted,
           CAST((1000 * n_runs_natural) // n_runs_sorted AS BIGINT)
               AS rle_gain_milli
    FROM (
        SELECT 'l_partkey' AS col_name, r1 AS n_runs_natural,
               d1 AS n_runs_sorted FROM runs
        UNION ALL
        SELECT 'l_suppkey', r2, d2 FROM runs
        UNION ALL
        SELECT 'l_shipdate', r3, d3 FROM runs
        UNION ALL
        SELECT 'l_returnflag', r4, d4 FROM runs
    )
    ORDER BY col_name
    """,
)
def q_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X346: sort-key advisor from RLE run counts, natural vs sorted.

    For each candidate sort column: how many value-change runs the
    column has in NATURAL row order (what RLE/dictionary encoding
    sees today) vs the distinct count (= the runs after sorting by
    that column — the best any sort can do). The ratio is the
    expected RLE compression gain of re-clustering on that column:
    the one number that decides a table's sort key, next to X57's
    Z-order layout and X228's encoding advisor. Natural-order
    adjacency comes from the X128 discipline — two-pass global rank
    plus an rn+1 equi-join — so there is NO single-partition window
    over the fact table; all four columns ride one lead join.

    100 TB: ordered_cumsum's range partitioning + one equi-join +
    one aggregate; distinct counts are partial-agg friendly.
    """
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_partkey", "l_suppkey", "l_shipdate", "l_returnflag"]
    rows = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").cast("string").alias("c_partkey"),
        F.col("l_suppkey").cast("string").alias("c_suppkey"),
        F.col("l_shipdate").cast("date").cast("string").alias("c_shipdate"),
        F.col("l_returnflag").alias("c_returnflag"),
    )
    # checkpoint the ranked relation: both sides of the lead join AND
    # the distinct census read it, so the two-pass rank runs once
    ranked = ordered_cumsum(
        rows, order_by=["l_orderkey", "l_linenumber"], row_number_col="rn"
    ).localCheckpoint(eager=True)
    a = ranked.alias("a")
    b = ranked.select(
        (F.col("rn") - 1).alias("rn_prev"),
        *[F.col(f"c{c[1:]}").alias(f"n{c[1:]}") for c in cols],
    )
    nxt = a.join(b, F.col("a.rn") == F.col("rn_prev"), "left")
    run_aggs, dist_aggs = [], []
    for c in cols:
        cc, nc = f"c{c[1:]}", f"n{c[1:]}"
        run_aggs.append(
            (
                F.sum(
                    F.when(
                        F.col(nc).isNotNull() & (F.col(nc) != F.col(cc)), 1
                    ).otherwise(0)
                )
                + 1
            ).alias(f"r_{c}")
        )
        # distinct counts never needed the lead join — census the base
        dist_aggs.append(F.countDistinct(cc).alias(f"d_{c}"))
    runs = nxt.agg(*run_aggs).crossJoin(F.broadcast(ranked.agg(*dist_aggs)))
    stacked = runs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"r_{c}").cast("bigint").alias("n_runs_natural"),
                        F.col(f"d_{c}").cast("bigint").alias("n_runs_sorted"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    return stacked.select(
        "col_name",
        "n_runs_natural",
        "n_runs_sorted",
        F.expr("CAST((1000 * n_runs_natural) div n_runs_sorted AS BIGINT)").alias(
            "rle_gain_milli"
        ),
    ).orderBy("col_name")


# Engine-neutral md5 -> bigint (the q_naive_bayes_score idiom):
#   Spark : conv(substring(md5(x), 1, 15), 16, 10)  -> bigint
#   DuckDB: CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)


def _md5i(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _md5i_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


# --- X349: HyperLogLog register audit -----------------------------------------

_HLL_REGS = 64  # 2^6 registers
_HLL_RHO_CAP = 49
# alpha_64 * m^2 with alpha_64 = 0.709: numerator of the raw estimate,
# kept exact through DECIMAL(38,0) with scale 2^50 on the register sum
_HLL_POW50 = 1 << 50


def _rho_sql(hexexpr: str) -> str:
    """Leading-zero-bit count + 1 over a 12-hex-char (48-bit) suffix,
    in portable string ops: 4 bits per leading '0' char, plus a nibble
    lookup for the first non-zero hex digit. Identical spelling both
    engines (regexp_extract + CASE)."""
    lead = f"length(regexp_extract({hexexpr}, '^(0*)', 1))"
    first = f"substring({hexexpr}, {lead} + 1, 1)"
    nib = (
        f"(CASE {first} WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
        "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
        "WHEN '' THEN 0 ELSE 0 END)"
    )
    return f"LEAST(4 * {lead} + {nib} + 1, {_HLL_RHO_CAP})"


@register(
    "q_hll_audit",
    oracle=f"""
    WITH vals AS (
        SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
    ),
    hashed AS (
        SELECT k,
               {_md5i_sql("k")} % {_HLL_REGS} AS reg,
               {_rho_sql("substring(md5(k), 17, 12)")} AS rho
        FROM vals
    ),
    regs AS (
        SELECT j.j AS reg, COALESCE(MAX(h.rho), 0) AS m
        FROM (SELECT UNNEST(generate_series(0, {_HLL_REGS - 1})) AS j) j
        LEFT JOIN hashed h ON h.reg = j.j
        GROUP BY j.j
    ),
    s AS (
        -- HUGEINT bit-shift keeps every 2^(50-m) and the sum exact
        -- (DECIMAL // in DuckDB degrades to double and rounds)
        SELECT SUM(CAST(1 AS HUGEINT) << (50 - m)) AS ssum
        FROM regs
    ),
    est AS (
        SELECT CAST(CAST(709 AS HUGEINT) * {_HLL_REGS * _HLL_REGS}
                    * {_HLL_POW50} // (1000 * ssum) AS BIGINT) AS hll_est
        FROM s
    ),
    ex AS (SELECT COUNT(*) AS exact_distinct FROM vals)
    SELECT r.reg, CAST(r.m AS INT) AS m,
           e.hll_est, CAST(x.exact_distinct AS BIGINT) AS exact_distinct
    FROM regs r CROSS JOIN est e CROSS JOIN ex x
    ORDER BY r.reg
    """,
)
def q_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X349: HyperLogLog registers + raw estimate, exactly verified.

    Textbook HLL over the distinct part keys: 64 md5-bucketed
    registers, rho = leading-zero bits of a 48-bit md5 suffix + 1
    (portable string spelling), raw estimate alpha_64 * m^2 / sum
    2^-M_j. The register sum is kept EXACT by scaling with 2^50
    (every 2^(50-M_j) is an integer, the sum fits DECIMAL(38,0)), so
    the estimate is one integer floor-division — no float harmonic
    mean to diverge between engines. Output: the 64 registers, the
    estimate, the true distinct count. q_wau_hll / q_approx_count_
    distinct stay rows-only on Spark's built-in sketch; this pins the
    algorithm itself, so a 100 TB HLL rollup can be trusted from its
    register table alone (registers merge by MAX — the additive state
    ST23 folds in streaming).

    100 TB: one distinct-projection shuffle, then a 64-row census —
    register construction is scan-local arithmetic on md5 hex.
    """
    # Round 12: distinct on the 8-byte l_partkey BEFORE the string cast
    # (the cast is injective, so the distinct set is identical — the
    # former spelling shuffled 600k strings instead of longs), and the
    # ~20k-row distinct-key table is pinned: `hashed` and the
    # exact-distinct count both consume it, and without the checkpoint
    # the lineitem distinct ran twice. 1.55 -> 0.83 s noop at sf0.1.
    vals = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
        .select(F.col("l_partkey").cast("string").alias("k"))
        .localCheckpoint(eager=True)
    )
    hashed = vals.select(
        (_md5i(F.col("k")) % _HLL_REGS).alias("reg"),
        F.expr(_rho_sql("substring(md5(k), 17, 12)")).alias("rho"),
    )
    regs = (
        spark.range(_HLL_REGS)
        .select(F.col("id").cast("bigint").alias("reg"))
        .join(hashed, "reg", "left")
        .groupBy("reg")
        .agg(F.coalesce(F.max("rho"), F.lit(0)).alias("m"))
    )
    dec = "decimal(38,0)"
    # 2^(50-m) is exact for m <= 49: shiftleft on bigint, then the
    # 64-term sum widens into decimal(38,0)
    s = regs.agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 50 - m) AS DECIMAL(38,0))")
        ).alias("ssum_raw")
    )
    est = s.select(
        F.expr(
            f"CAST((CAST(709 AS DECIMAL(38,0)) * {_HLL_REGS * _HLL_REGS}"
            f" * {_HLL_POW50}"
            f" - (CAST(709 AS DECIMAL(38,0)) * {_HLL_REGS * _HLL_REGS}"
            f" * {_HLL_POW50}) % (1000 * ssum_raw))"
            f" / (1000 * ssum_raw) AS BIGINT)"
        ).alias("hll_est")
    )
    ex = vals.agg(F.count("*").cast("bigint").alias("exact_distinct"))
    return (
        regs.select("reg", F.col("m").cast("int").alias("m"))
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(ex))
        .orderBy("reg")
    )


# --- X368: Bloom-filter sizing advisor ----------------------------------------------

# ln-constant literals (micro), identical in both engines:
# -ln(0.01)/ln(2)^2 = 9.585059, -ln(0.001)/ln(2)^2 = 14.377589
_BLOOM_BITS_1PCT_MICRO = 9585059
_BLOOM_BITS_01PCT_MICRO = 14377589


@register(
    "q_bloom_advisor",
    oracle=f"""
    WITH ndvs AS (
        SELECT 'l_orderkey' AS col, COUNT(DISTINCT l_orderkey) AS ndv
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey', COUNT(DISTINCT l_partkey) FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey) FROM lineitem
    )
    SELECT col, CAST(ndv AS BIGINT) AS ndv,
           CAST((ndv * {_BLOOM_BITS_1PCT_MICRO} + 999999) // 1000000
                AS BIGINT) AS m_bits_fpr1pct,
           CAST(((ndv * {_BLOOM_BITS_1PCT_MICRO} + 999999) // 1000000 + 7)
                // 8 AS BIGINT) AS bytes_fpr1pct,
           7 AS k_fpr1pct,
           CAST((ndv * {_BLOOM_BITS_01PCT_MICRO} + 999999) // 1000000
                AS BIGINT) AS m_bits_fpr01pct,
           10 AS k_fpr01pct
    FROM ndvs
    ORDER BY col
    """,
)
def q_bloom_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X368: Bloom-filter sizing advisor for the lineitem join keys —
    the X346 (RLE sort-key advisor) discipline applied to the
    bloom-pruned semi-join path (X?s q_bloom_semi_join consumes these
    filters): from each column's EXACT ndv, the optimal bit count
    m = ceil(-n ln p / ln^2 2) and hash count k = round(m/n ln 2) for
    1% and 0.1% target false-positive rates. The ln constants inline
    as shared micro literals, so the whole advisory is ceiling-division
    integer arithmetic — hash-exact. k is constant per target rate
    (6.64 -> 7 and 9.97 -> 10), so it ships as a literal; the m and
    byte columns are what a planner actually allocates.

    100 TB: three partial count-distincts over one scan — the same
    cost as the statistics pass every optimizer already runs.
    """
    li = table(spark, sf_dir, "lineitem")
    # ONE scan for all three ndvs (the per-column union form scanned
    # lineitem three times); Spark plans multi-distinct via Expand
    agg = li.agg(
        *[
            F.count_distinct(F.col(c)).alias(c)
            for c in ("l_orderkey", "l_partkey", "l_suppkey")
        ]
    )
    ndvs = agg.selectExpr(
        "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey,"
        " 'l_suppkey', l_suppkey) AS (col, ndv)"
    )
    m1 = f"(ndv * {_BLOOM_BITS_1PCT_MICRO} + 999999) DIV 1000000"
    m01 = f"(ndv * {_BLOOM_BITS_01PCT_MICRO} + 999999) DIV 1000000"
    return ndvs.select(
        "col",
        F.col("ndv").cast("bigint").alias("ndv"),
        F.expr(f"CAST({m1} AS BIGINT)").alias("m_bits_fpr1pct"),
        F.expr(f"CAST(({m1} + 7) DIV 8 AS BIGINT)").alias("bytes_fpr1pct"),
        F.lit(7).alias("k_fpr1pct"),
        F.expr(f"CAST({m01} AS BIGINT)").alias("m_bits_fpr01pct"),
        F.lit(10).alias("k_fpr01pct"),
    ).orderBy("col")


# --- X372: group-median imputation census ---------------------------------------

_IMP_MASK_PCT = 5  # md5-masked "missing" share


@register(
    "q_impute_census",
    oracle=f"""
    WITH masked AS (
        SELECT c_custkey, c_mktsegment AS seg,
               CASE WHEN {_md5i_sql("'imp|' || CAST(c_custkey AS VARCHAR)")}
                         % 100 < {_IMP_MASK_PCT}
                    THEN NULL
                    ELSE CAST(ROUND(c_acctbal * 100) AS BIGINT) END AS bal
        FROM customer
    ),
    med AS (
        SELECT seg, CAST(quantile_disc(bal, 0.5) AS BIGINT) AS seg_median
        FROM masked WHERE bal IS NOT NULL GROUP BY seg
    ),
    imputed AS (
        SELECT m.seg, COALESCE(m.bal, d.seg_median) AS bal_f,
               CASE WHEN m.bal IS NULL THEN 1 ELSE 0 END AS was_null
        FROM masked m JOIN med d ON d.seg = m.seg
    )
    SELECT i.seg,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(was_null) AS BIGINT) AS n_imputed,
           d.seg_median,
           CAST(SUM(bal_f) // COUNT(*) AS BIGINT) AS mean_after_centi,
           CAST(SUM(CASE WHEN was_null = 0 THEN bal_f ELSE 0 END)
                // SUM(1 - was_null) AS BIGINT) AS mean_observed_centi
    FROM imputed i JOIN med d ON d.seg = i.seg
    GROUP BY i.seg, d.seg_median
    ORDER BY i.seg
    """,
)
def q_impute_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X372: group-median imputation + audit census — the missing-data
    operator the analytical suite assumes has already run. 5% of
    account balances are masked by a deterministic md5 rule (a REAL
    inlet feeds real NULLs into the identical plan — the mask is what
    makes the operator hash-verifiable here, the X? planted-rotation
    trick applied to missingness); each NULL fills with its market
    segment's EXACT median (percentile_disc order statistic over the
    observed values), and the census reports per segment: rows,
    imputed count, the median used, and post-vs-observed means — the
    imputation-shift audit a data-quality gate reads.

    100 TB: one scan + a per-group exact median (group-sized
    percentile merge) + one broadcast join of the 5-row median table.
    """
    c = table(spark, sf_dir, "customer")
    h = _md5i(F.concat(F.lit("imp|"), F.col("c_custkey").cast("string")))
    masked = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(
            h % 100 < _IMP_MASK_PCT, F.lit(None).cast("bigint")
        )
        .otherwise(F.round(F.col("c_acctbal") * 100).cast("bigint"))
        .alias("bal"),
    )
    med = (
        masked.where(F.col("bal").isNotNull())
        .groupBy("seg")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY bal)")
            .cast("bigint")
            .alias("seg_median")
        )
    )
    imputed = masked.join(F.broadcast(med), "seg").select(
        "seg",
        "seg_median",
        F.coalesce(F.col("bal"), F.col("seg_median")).alias("bal_f"),
        F.when(F.col("bal").isNull(), 1).otherwise(0).alias("was_null"),
    )
    return (
        imputed.groupBy("seg", "seg_median")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("was_null").cast("bigint").alias("n_imputed"),
            F.expr("CAST(SUM(bal_f) DIV COUNT(*) AS BIGINT)").alias(
                "mean_after_centi"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN was_null = 0 THEN bal_f ELSE 0 END)"
                " DIV SUM(1 - was_null) AS BIGINT)"
            ).alias("mean_observed_centi"),
        )
        .select(
            "seg",
            "n",
            "n_imputed",
            "seg_median",
            "mean_after_centi",
            "mean_observed_centi",
        )
        .orderBy("seg")
    )
