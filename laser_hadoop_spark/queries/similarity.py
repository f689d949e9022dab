"""Similarity joins and neighbour search.

Fuzzy string joins (edit distance, Jaro, Damerau, deletion
neighbourhoods), set and profile similarity, blocked record linkage,
spatial joins (grid radius, haversine, point-in-polygon, geohash,
nearest hub) and embedding-space neighbours. Candidate generation is
always blocked by a key; no query runs an unblocked cross join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_edit_distance_join",
    tags=("pairs",),
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) similarity join.

    Near-identical-name pairs within a blocking key (nation). The
    blocking join is what makes fuzzy matching feasible at scale:
    levenshtein runs only on same-block pairs (sum(|block|^2) work, one
    shuffle on the block key), never the full cross product — same
    discipline as semantic_dedup's cluster bound. Levenshtein itself is
    a codegen'd JVM expression, not a UDF.
    """
    c = table(spark, sf_dir, "customer")
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(dist <= 1)
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            dist.alias("edit_dist"),
        )
    )


# Bounded sweep variant (VERDICT_r11 item 5, q_damerau_pairs
# precedent): the DuckDB oracle is the quadratic all-pairs levenshtein
# join — 289 s at sf0.1, all oracle-side cost — so above driver scale
# BOTH sides restrict to the same deterministic md5 quarter-sample of
# custkeys (first hex nibble in {0..3} => 1/4 of rows => 1/16 of
# pairs). The Spark kernel under test is IDENTICAL — same deletion-
# neighborhood blocking, same verify — so the bounded hash match still
# certifies the blocking lossless at sf0.1; the driver (sf0.01) always
# runs the full oracle.
_HAMMING_SAMPLE_NIBBLES = ("0", "1", "2", "3")
_HAMMING_SAMPLE_SQL = (
    "substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')"
)


def _hamming_neighbors_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_hamming_neighbors restricted to the deterministic md5 sample."""
    sample = F.substring(
        F.md5(F.col("c_custkey").cast("string")), 1, 1
    ).isin(*_HAMMING_SAMPLE_NIBBLES)
    return _hamming_neighbors(spark, sf_dir, cust_filter=sample)


@register(
    "q_hamming_neighbors",
    tags=("pairs",),
    oracle="""
    SELECT a.c_custkey AS custkey,
           COUNT(*) AS n_neighbors,
           CAST(MIN(b.c_custkey) AS BIGINT) AS nearest_key
    FROM customer a JOIN customer b
      ON a.c_custkey <> b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY a.c_custkey
    """,
    bounded_fn=_hamming_neighbors_bounded,
    bounded_oracle=f"""
    WITH cs AS MATERIALIZED (SELECT * FROM customer WHERE {_HAMMING_SAMPLE_SQL})
    SELECT a.c_custkey AS custkey,
           COUNT(*) AS n_neighbors,
           CAST(MIN(b.c_custkey) AS BIGINT) AS nearest_key
    FROM cs a JOIN cs b
      ON a.c_custkey <> b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY a.c_custkey
    """,
)
def q_hamming_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: SymSpell deletion-neighborhood fuzzy join.

    For every customer, the count of other customers whose name is
    within edit distance 1. The Spark side generates candidates by the
    deletion-neighborhood trick (SymSpell / spell-correction blocking):
    each name emits ITSELF plus one key per character position with
    that character deleted, and candidates equi-join on the key alone.
    Every levenshtein<=1 pair then shares a key: equal-length
    substitution pairs share the deletion key at the differing
    position; insert/delete pairs (lengths differ by 1) share the
    longer string's deletion key at the inserted position, which IS the
    shorter string — the case a (pos,key) join on deletion keys alone
    silently drops (round-3 ADVICE). A levenshtein verify removes the
    false positives (e.g. transposition pairs that collide on a key).

    The ORACLE is the quadratic all-pairs levenshtein join — the hash
    match proves the deletion-neighborhood blocking lossless on this
    corpus (the q_prefix_filter_pairs verification pattern). At 100 TB
    the asymmetry is the point: |s|+1 keys/record vs n² comparisons.
    Above driver scale the sweep uses the registered bounded variant
    (same kernel, md5 quarter-sampled customer relation on BOTH
    engines) because the oracle-side all-pairs join is quadratic —
    see _HAMMING_SAMPLE_SQL.
    """
    return _hamming_neighbors(spark, sf_dir)


def _hamming_neighbors(
    spark: SparkSession, sf_dir: str, cust_filter=None
) -> DataFrame:
    """Shared kernel for the full + bounded forms: the only difference
    is an optional pre-filter on the customer relation."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    if cust_filter is not None:
        c = c.where(cust_filter)
    n_chars = F.length("c_name")
    # deletion key at position i: prefix before i + suffix after i
    del_keys = F.transform(
        F.sequence(F.lit(1), n_chars),
        lambda i: F.concat(
            F.expr("c_name").substr(F.lit(1), i - 1),
            F.expr("c_name").substr(i + 1, n_chars),
        ),
    )
    # SymSpell proper: the undeleted string is a key too (array_union
    # also dedups repeated deletion keys from runs of equal chars)
    keys = F.array_union(F.array(F.col("c_name")), del_keys)
    blocked = c.select("c_custkey", F.explode(keys).alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    # round-8 shuffle discipline (the ANN-candidate class): candidates
    # dedup as ID PAIRS — names are functionally determined by the keys
    # and join back for the verify — and the symmetric relation is
    # generated once per unordered pair, then mirrored by projection
    # after the levenshtein verify (levenshtein is symmetric)
    cand = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("custkey"),
            F.col("b.c_custkey").alias("neighbor"),
        )
        .distinct()
    )
    na = c.select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name_a"))
    nb = c.select(
        F.col("c_custkey").alias("neighbor"), F.col("c_name").alias("name_b")
    )
    half = (
        cand.join(na, "custkey")
        .join(nb, "neighbor")
        .where(F.levenshtein("name_a", "name_b") <= 1)
        .select("custkey", "neighbor")
    )
    verified = half.unionByName(
        half.select(
            F.col("neighbor").alias("custkey"), F.col("custkey").alias("neighbor")
        )
    )
    return verified.groupBy("custkey").agg(
        F.count("*").alias("n_neighbors"),
        F.min("neighbor").cast("bigint").alias("nearest_key"),
    )


@register(
    "q_audience_jaccard",
    tags=("pairs",),
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b,
           CAST(sa.n_users AS BIGINT) AS a_users,
           CAST(sb.n_users AS BIGINT) AS b_users,
           CAST(i.n_both AS BIGINT) AS both_users,
           (i.n_both * 1000000)
               // (sa.n_users + sb.n_users - i.n_both) AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def q_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: Jaccard similarity between audience sets.

    |A AND B| / |A OR B| for every event-type pair, from exact
    distinct-user counts — the audience-overlap matrix of segmentation
    and the exact ground truth the MinHash stack (L2/X102)
    approximates. The intersection comes from a self-equi-join on
    user_id over the DEDUPLICATED (user, type) relation (|users| x
    |types|^2 worst case, never |events|^2); union sizes derive by
    inclusion-exclusion, so only one join runs. Jaccard is
    fixed-pointed by truncating integer division to micro-units.
    """
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().cache()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("type_a") == F.col("sa.event_type"))
        .join(F.broadcast(sb), F.col("type_b") == F.col("sb.event_type"))
        .select(
            "type_a",
            "type_b",
            F.col("sa.n_users").cast("bigint").alias("a_users"),
            F.col("sb.n_users").cast("bigint").alias("b_users"),
            F.col("n_both").cast("bigint").alias("both_users"),
            F.expr(
                "(n_both * 1000000) DIV (sa.n_users + sb.n_users - n_both)"
            ).alias("jaccard_micro"),
        )
    )


@register(
    "q_profile_cosine",
    oracle="""
    WITH prof AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS prio,
               COUNT(*) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    dots AS (
        SELECT a.segment AS seg_a, b.segment AS seg_b,
               SUM(CAST(a.cnt AS HUGEINT) * b.cnt) AS dot
        FROM prof a JOIN prof b
          ON a.prio = b.prio AND a.segment < b.segment
        GROUP BY a.segment, b.segment
    ),
    norms AS (
        SELECT segment, SUM(CAST(cnt AS HUGEINT) * cnt) AS nrm FROM prof
        GROUP BY segment
    )
    SELECT d.seg_a, d.seg_b,
           CAST(d.dot * d.dot * 1000000 // (na.nrm * nb.nrm) AS BIGINT)
               AS cos2_micro
    FROM dots d
    JOIN norms na ON na.segment = d.seg_a
    JOIN norms nb ON nb.segment = d.seg_b
    """,
)
def q_profile_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: cosine similarity between segment purchase profiles.

    Each market segment's priority-count vector, compared pairwise by
    SQUARED cosine in micro-units: cos^2 = dot^2 / (|a|^2 * |b|^2) is
    a ratio of exact integers, so no sqrt ever runs — monotone in
    cosine for non-negative count vectors, hence the same similarity
    ranking, fully hash-verifiable (the trick the embedding-float
    cosine paths can't use). Wide-integer (HUGEINT / DECIMAL38)
    products; pairs via an equi-join on the vector index over the tiny
    profile aggregate.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders", "customer"))
    dec = lambda c: f"CAST({c} AS DECIMAL(38,0))"  # noqa: E731
    return spark.sql(
        f"""
    WITH prof AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS prio,
               COUNT(*) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    dots AS (
        SELECT a.segment AS seg_a, b.segment AS seg_b,
               SUM({dec('a.cnt')} * b.cnt) AS dot
        FROM prof a JOIN prof b
          ON a.prio = b.prio AND a.segment < b.segment
        GROUP BY a.segment, b.segment
    ),
    norms AS (
        SELECT segment, SUM({dec('cnt')} * cnt) AS nrm FROM prof
        GROUP BY segment
    )
    SELECT d.seg_a, d.seg_b,
           CAST((d.dot * d.dot * 1000000
                 - (d.dot * d.dot * 1000000) % (na.nrm * nb.nrm))
                / (na.nrm * nb.nrm) AS BIGINT) AS cos2_micro
    FROM dots d
    JOIN norms na ON na.segment = d.seg_a
    JOIN norms nb ON nb.segment = d.seg_b
    """
    )


# --- X204: grid-blocked spatial join ---------------------------------------

_GRID = 10_000  # coordinate domain [0, _GRID)
_RADIUS = 250  # join radius; cell width == radius


def _xy_spark(key: str):
    """Deterministic synthetic 2D point from a key column (md5-derived,
    identical in DuckDB): x from hex[1:8), y from hex[9:16)."""
    x = F.expr(
        f"CAST(conv(substring(md5(CAST({key} AS STRING)), 1, 7), 16, 10) "
        f"AS BIGINT) % {_GRID}"
    )
    y = F.expr(
        f"CAST(conv(substring(md5(CAST({key} AS STRING)), 9, 7), 16, 10) "
        f"AS BIGINT) % {_GRID}"
    )
    return x, y


@register(
    "q_grid_spatial_join",
    tags=("pairs",),
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 7))::BIGINT
                   % {_GRID} AS x,
               ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 7))::BIGINT
                   % {_GRID} AS y
        FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM pts a JOIN pts b
      ON a.id < b.id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_RADIUS * _RADIUS}
    """,
)
def q_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X204: grid-blocked spatial (radius) join, exactly verified.

    Pairs of 2D points within Euclidean distance r, found WITHOUT the
    quadratic all-pairs the oracle spells: each point maps to a grid
    cell of width r; side A keeps its home cell, side B replicates to
    its 3x3 cell neighborhood, candidates come from a cell equi-join
    (a qualifying pair is found exactly once — A's home cell is one of
    B's nine), then the exact integer squared-distance filter. Points
    are md5-derived from c_custkey so the fixture is deterministic in
    both engines.

    100 TB shape: candidates scale with local density (points per
    cell), never n² — the planar analogue of X104's 1D band join; the
    replication factor is a constant 9. Skewed cells (urban hot spots)
    would salt the cell key exactly like X24's salted join.
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    x, y = _xy_spark("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("id"), x.alias("x"), y.alias("y")
    )
    # cell id encoding: cx * K + cy with K > max neighbor cy — phantom
    # neighbor cells (cx or cy = -1 / max+1) never equal a home cell,
    # so the equi-join below only matches genuine 3x3 neighborhoods
    k_enc = _GRID // _RADIUS + 2

    def cell(cx: F.Column, cy: F.Column) -> F.Column:
        return (cx * k_enc + cy).cast("bigint")

    home = lambda v: F.expr(f"CAST({v} DIV {_RADIUS} AS BIGINT)")  # noqa: E731
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        cell(home("x"), home("y")).alias("__cell"),
    )
    dxy = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.explode(
            F.array(
                *[
                    cell(home("x") + F.lit(dx), home("y") + F.lit(dy))
                    for dx, dy in dxy
                ]
            )
        ).alias("__cell"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, "__cell")
        .where((F.col("id_a") < F.col("id_b")) & (d2 <= _RADIUS * _RADIUS))
        .select("id_a", "id_b", d2.cast("bigint").alias("dist2"))
    )


# --- X205: record-linkage (Fellegi-Sunter-style) scoring -------------------

_LINK_THRESHOLD = 30


@register(
    "q_record_linkage",
    tags=("pairs",),
    oracle=f"""
    WITH recs AS (
        SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_centi,
               length(c_name) AS name_len
        FROM customer
    ),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b,
               (CASE WHEN a.seg = b.seg THEN 20 ELSE -5 END
              + CASE WHEN ABS(a.bal_centi - b.bal_centi) <= 10000
                     THEN 25 ELSE 0 END
              + CASE WHEN a.name_len = b.name_len THEN 10 ELSE 0 END
              + CASE WHEN a.bal_centi % 100 = b.bal_centi % 100
                     THEN 15 ELSE 0 END) AS score
        FROM recs a JOIN recs b
          ON a.nk = b.nk AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(score AS BIGINT) AS score
    FROM cand WHERE score >= {_LINK_THRESHOLD}
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X205: blocked record-linkage scoring (Fellegi-Sunter shape).

    Entity resolution's two-stage loop: candidate pairs from a
    blocking key (nation — recall stage, never all-pairs), then an
    integer agreement score summing per-field match weights
    (segment +20/-5, balance within $100 +25, name length +10,
    balance cents digits +15 — stand-ins for the log-likelihood-ratio
    weights a trained FS model produces), thresholded. All integer,
    hash-verified.

    100 TB shape: the self-join shuffles on the blocking key only;
    precision fields ride along as row payload. Skewed blocks would
    composite the key (nation x segment) or salt, same as X24.
    """
    c = table(spark, sf_dir, "customer")
    recs = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("bal_centi"),
        F.length("c_name").alias("name_len"),
    )
    a, b = recs.alias("a"), recs.alias("b")
    score = (
        F.when(F.col("a.seg") == F.col("b.seg"), 20).otherwise(-5)
        + F.when(
            F.abs(F.col("a.bal_centi") - F.col("b.bal_centi")) <= 10000, 25
        ).otherwise(0)
        + F.when(F.col("a.name_len") == F.col("b.name_len"), 10).otherwise(0)
        + F.when(
            F.col("a.bal_centi") % 100 == F.col("b.bal_centi") % 100, 15
        ).otherwise(0)
    )
    return (
        a.join(
            b,
            (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            score.cast("bigint").alias("score"),
        )
        .where(F.col("score") >= _LINK_THRESHOLD)
    )


# --- X214: nearest-hub (Voronoi) assignment census -------------------------

_N_HUBS = 20


@register(
    "q_nearest_hub",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 7))::BIGINT
                   % {_GRID} AS x,
               ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 7))::BIGINT
                   % {_GRID} AS y
        FROM customer
    ),
    hubs AS (
        SELECT h AS hub_id,
               ('0x' || substring(md5('hub|' || CAST(h AS VARCHAR)), 1, 7))::BIGINT
                   % {_GRID} AS hx,
               ('0x' || substring(md5('hub|' || CAST(h AS VARCHAR)), 9, 7))::BIGINT
                   % {_GRID} AS hy
        FROM (SELECT UNNEST(generate_series(0, {_N_HUBS - 1})) AS h)
    ),
    dists AS (
        SELECT p.id, h.hub_id,
               (p.x - h.hx) * (p.x - h.hx) + (p.y - h.hy) * (p.y - h.hy) AS d2
        FROM pts p CROSS JOIN hubs h
    ),
    best AS (
        SELECT id, MIN(d2 * {_N_HUBS} + hub_id) AS packed
        FROM dists GROUP BY id
    )
    SELECT CAST(packed % {_N_HUBS} AS INT) AS hub_id,
           COUNT(*) AS n_points,
           CAST(SUM(packed // {_N_HUBS}) AS BIGINT) AS sum_d2,
           CAST(MIN(id) AS BIGINT) AS example_id
    FROM best GROUP BY 1
    """,
)
def q_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X214: nearest-hub (Voronoi cell) assignment census, exact.

    Every md5-derived customer point assigned to the nearest of 20
    md5-derived hubs by exact integer squared distance, ties broken by
    hub id (the argmin packs (d2, hub_id) into one bigint — d2*k+id —
    so a single MIN aggregate is the whole argmin, no join-back);
    census per Voronoi cell: population, total squared distance,
    example. This is IVF's (X2) assignment step made hash-verifiable.

    100 TB: the hub table broadcasts (constant rows); assignment is
    scan-local arithmetic + one aggregate per point and one per cell —
    the canonical broadcast-NL + min_by plan for small-k assignment.
    """
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.expr(
            f"CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 7), 16, 10) "
            f"AS BIGINT) % {_GRID}"
        ).alias("x"),
        F.expr(
            f"CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 9, 7), 16, 10) "
            f"AS BIGINT) % {_GRID}"
        ).alias("y"),
    )
    hubs = spark.range(_N_HUBS).select(
        F.col("id").alias("hub_id"),
        F.expr(
            f"CAST(conv(substring(md5(concat('hub|', CAST(id AS STRING))), 1, 7), "
            f"16, 10) AS BIGINT) % {_GRID}"
        ).alias("hx"),
        F.expr(
            f"CAST(conv(substring(md5(concat('hub|', CAST(id AS STRING))), 9, 7), "
            f"16, 10) AS BIGINT) % {_GRID}"
        ).alias("hy"),
    )
    d2 = (F.col("x") - F.col("hx")) * (F.col("x") - F.col("hx")) + (
        F.col("y") - F.col("hy")
    ) * (F.col("y") - F.col("hy"))
    best = (
        pts.crossJoin(F.broadcast(hubs))
        .select("id", (d2 * _N_HUBS + F.col("hub_id")).alias("scored"))
        .groupBy("id")
        .agg(F.min("scored").alias("packed"))
    )
    return best.groupBy(
        (F.col("packed") % _N_HUBS).cast("int").alias("hub_id")
    ).agg(
        F.count("*").alias("n_points"),
        F.sum(F.expr(f"packed DIV {_N_HUBS}")).cast("bigint").alias("sum_d2"),
        F.min("id").cast("bigint").alias("example_id"),
    )


# --- X226: sorted-neighborhood record linkage ------------------------------

_SN_WINDOW = 2
_SN_BAL_TOL = 50_000  # centi-units


@register(
    "q_sorted_neighborhood",
    oracle=f"""
    WITH r AS (
        SELECT c_custkey, c_nationkey, c_name, c_mktsegment,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_name, c_custkey) AS rk
        FROM customer
    ),
    pairs AS (
        SELECT a.c_nationkey AS nation,
               CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
             + CASE WHEN ABS(a.bal - b.bal) <= {_SN_BAL_TOL} THEN 1 ELSE 0 END
             + CASE WHEN substring(a.c_name, 1, 6) = substring(b.c_name, 1, 6)
                    THEN 1 ELSE 0 END AS score
        FROM r a JOIN r b
          ON b.c_nationkey = a.c_nationkey
         AND b.rk - a.rk BETWEEN 1 AND {_SN_WINDOW}
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN score >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches
    FROM pairs GROUP BY 1
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X226: sorted-neighborhood record linkage census.

    The OTHER classic blocking strategy (X205 blocks on a hash key and
    compares everything inside a block): sort each nation block by
    name and compare only records within rank distance <= 2 — O(n*w)
    candidates instead of O(sum block^2). Agreement score over
    segment / balance-within-500 / 6-char name prefix; census of
    candidates and matches (score >= 2) per nation.

    100 TB: ONE shuffle on the block key serves the rank window and
    both sides of the neighbor self-join (reused exchange); candidate
    count is linear in rows x window, immune to block skew — exactly
    why sorted-neighborhood exists.
    """
    cust = table(spark, sf_dir, "customer")
    rk = F.row_number().over(
        Window.partitionBy("c_nationkey").orderBy("c_name", "c_custkey")
    )
    r = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        "c_mktsegment",
        F.expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").alias("bal"),
        rk.alias("rk"),
    )
    a, b = r.alias("a"), r.alias("b")
    score = (
        F.when(F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), 1)
        .otherwise(0)
        + F.when(
            F.abs(F.col("a.bal") - F.col("b.bal")) <= _SN_BAL_TOL, 1
        ).otherwise(0)
        + F.when(
            F.substring(F.col("a.c_name"), 1, 6)
            == F.substring(F.col("b.c_name"), 1, 6),
            1,
        ).otherwise(0)
    )
    pairs = a.join(
        b,
        (F.col("b.c_nationkey") == F.col("a.c_nationkey"))
        & (F.col("b.rk") - F.col("a.rk")).between(1, _SN_WINDOW),
    ).select(F.col("a.c_nationkey").alias("nation"), score.alias("score"))
    return pairs.groupBy(F.col("nation").cast("bigint").alias("nation")).agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.when(F.col("score") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
    )


# --- X265: haversine radius join --------------------------------------------

_GEO_RADIUS_KM = 500
_EARTH_R_KM = 6371


@register(
    "q_haversine_join",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey AS id,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
                    ::BIGINT % 120 - 60) AS lat,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 6))
                    ::BIGINT % 360 - 180) AS lon
        FROM customer WHERE c_custkey % 10 = 0
    ),
    supp AS (
        SELECT s_suppkey AS id,
               (('0x' || substring(md5('s|' || CAST(s_suppkey AS VARCHAR)),
                 1, 6))::BIGINT % 120 - 60) AS lat,
               (('0x' || substring(md5('s|' || CAST(s_suppkey AS VARCHAR)),
                 9, 6))::BIGINT % 360 - 180) AS lon
        FROM supplier
    ),
    cgrid AS (
        SELECT id, lat, lon, (lat + 60) // 5 AS gy, (lon + 180) // 5 AS gx
        FROM cust
    ),
    sgrid AS (
        SELECT id, lat, lon, (lat + 60) // 5 AS gy, (lon + 180) // 5 AS gx
        FROM supp
    ),
    cand AS (
        SELECT c.id AS cust_id, s.id AS supp_id,
               c.lat AS clat, c.lon AS clon, s.lat AS slat, s.lon AS slon
        FROM cgrid c JOIN sgrid s
          ON s.gy BETWEEN c.gy - 1 AND c.gy + 1
         AND ((s.gx + 72) % 72) IN (((c.gx - 1 + 72) % 72),
                                    ((c.gx + 72) % 72),
                                    ((c.gx + 1 + 72) % 72))
    ),
    scored AS (
        SELECT cust_id, supp_id,
               CAST(ROUND(SIN(RADIANS(slat - clat) / 2)
                          * SIN(RADIANS(slat - clat) / 2) * 1000000000)
                    AS BIGINT)
               + CAST(ROUND(COS(RADIANS(clat)) * COS(RADIANS(slat))
                            * SIN(RADIANS(slon - clon) / 2)
                            * SIN(RADIANS(slon - clon) / 2) * 1000000000)
                      AS BIGINT) AS hav_nano
        FROM cand
    )
    SELECT cust_id, supp_id, CAST(hav_nano AS BIGINT) AS hav_nano
    FROM scored
    WHERE hav_nano <= CAST(ROUND(SIN({_GEO_RADIUS_KM} / 2.0
                                     / {_EARTH_R_KM})
                                 * SIN({_GEO_RADIUS_KM} / 2.0
                                       / {_EARTH_R_KM})
                                 * 1000000000) AS BIGINT)
    """,
)
def q_haversine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X265: grid-blocked haversine (great-circle) radius join.

    Customers to suppliers within 500 km over md5-synthesized integer
    degree coordinates (the driver schema has no geo columns; the
    OPERATOR is the point). X204's planar grid join lifted to the
    sphere: candidates come from a 5-degree grid equi-join over the
    3x3 neighborhood with LONGITUDE WRAPAROUND (the +-180 seam is
    modular, gx IN (gx-1,gx,gx+1) mod 72); the exact predicate is the
    haversine a-term, each trig factor micro-rounded once from
    identical integer degrees (X197's discipline for trig) and
    compared in nano units against the precomputed radius threshold —
    integers end to end after the rounds. 5 deg >= 500 km everywhere
    (a meridian degree is ~111 km), so blocking is lossless;
    latitudes are clamped to +-60 so no polar cell blowup.

    100 TB shape: candidates scale with local density (grid cells),
    never |C| x |S|; both sides hash on cell keys. A production skew
    fix (coastal megacities) is the X4 salted variant of the same
    grid keys.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey")
    cust = c.where(F.expr("c_custkey % 10 = 0")).select(
        F.col("c_custkey").alias("id"),
        F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 6),"
            " 16, 10) AS BIGINT) % 120 - 60"
        ).alias("lat"),
        F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 9, 6),"
            " 16, 10) AS BIGINT) % 360 - 180"
        ).alias("lon"),
    )
    supp = s.select(
        F.col("s_suppkey").alias("id"),
        F.expr(
            "CAST(conv(substring(md5('s|' || CAST(s_suppkey AS STRING)),"
            " 1, 6), 16, 10) AS BIGINT) % 120 - 60"
        ).alias("lat"),
        F.expr(
            "CAST(conv(substring(md5('s|' || CAST(s_suppkey AS STRING)),"
            " 9, 6), 16, 10) AS BIGINT) % 360 - 180"
        ).alias("lon"),
    )
    cg = cust.select(
        F.col("id").alias("cust_id"),
        F.col("lat").alias("clat"),
        F.col("lon").alias("clon"),
        F.expr("(lat + 60) DIV 5").alias("cgy"),
        F.expr("(lon + 180) DIV 5").alias("cgx"),
    )
    sg = supp.select(
        F.col("id").alias("supp_id"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
        F.expr("(lat + 60) DIV 5").alias("sgy"),
        F.expr("(lon + 180) DIV 5").alias("sgx"),
    )
    cand = cg.join(
        sg,
        F.col("sgy").between(F.col("cgy") - 1, F.col("cgy") + 1)
        & F.expr(
            "((sgx + 72) % 72) IN (((cgx - 1 + 72) % 72),"
            " ((cgx + 72) % 72), ((cgx + 1 + 72) % 72))"
        ),
    )
    hav = (
        "CAST(ROUND(SIN(RADIANS(slat - clat) / 2)"
        " * SIN(RADIANS(slat - clat) / 2) * 1000000000) AS BIGINT)"
        " + CAST(ROUND(COS(RADIANS(clat)) * COS(RADIANS(slat))"
        " * SIN(RADIANS(slon - clon) / 2)"
        " * SIN(RADIANS(slon - clon) / 2) * 1000000000) AS BIGINT)"
    )
    import math

    thr = round(
        math.sin(_GEO_RADIUS_KM / 2.0 / _EARTH_R_KM) ** 2 * 1e9
    )
    return (
        cand.select(
            "cust_id", "supp_id", F.expr(hav).alias("hav_nano")
        )
        .where(F.col("hav_nano") <= F.lit(int(thr)))
        .select(
            "cust_id",
            "supp_id",
            F.col("hav_nano").cast("bigint").alias("hav_nano"),
        )
    )


# --- X278: point-in-polygon census -------------------------------------------

# non-convex hexagon in integer (lat, lon) degrees
_POLY = [(-30, -60), (10, -80), (40, -20), (25, 30), (-5, 70), (-35, 20)]
_EDGES = [
    (y1, x1, y2, x2)
    for (y1, x1), (y2, x2) in zip(_POLY, _POLY[1:] + _POLY[:1])
]


def _pip_cond(py: str, px: str, y1: int, x1: int, y2: int, x2: int) -> str:
    """Crossing-number edge test, integer-exact: the edge straddles the
    horizontal ray at py, and the intersection lies strictly right of
    px — the division-free cross-multiplied form, with the inequality
    direction fixed by the sign of (y2 - y1)."""
    straddle = f"(({y1} > {py}) != ({y2} > {py}))"
    lhs = f"(({px}) - {x1}) * {y2 - y1}"
    rhs = f"{x2 - x1} * (({py}) - {y1})"
    cross = f"({lhs} < {rhs})" if y2 - y1 > 0 else f"({lhs} > {rhs})"
    return f"(CASE WHEN {straddle} AND {cross} THEN 1 ELSE 0 END)"


@register(
    "q_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
                    ::BIGINT % 120 - 60) AS lat,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 6))
                    ::BIGINT % 360 - 180) AS lon
        FROM customer
    ),
    hits AS (
        SELECT id, lat, lon,
               ({" + ".join(_pip_cond("lat", "lon", *e) for e in _EDGES)})
                   % 2 AS inside
        FROM pts
    )
    SELECT CAST((lat + 60) // 30 AS BIGINT) AS lat_band,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(inside) AS BIGINT) AS n_inside,
           CAST(10000 * SUM(inside) // COUNT(*) AS BIGINT) AS inside_bp
    FROM hits
    GROUP BY 1
    """,
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278: point-in-polygon (geofence) census via integer ray casting.

    Which customers (X265's md5-derived integer coordinates) fall in a
    non-convex hexagonal geofence? The crossing-number test: a point
    is inside iff a horizontal ray crosses an odd number of edges.
    Each edge test is division-free — the intersection comparison is
    cross-multiplied with the inequality direction fixed per edge's
    (y2-y1) sign at BUILD time (the polygon is a literal), so the
    whole containment check is |edges| integer comparisons inlined in
    one codegen Project — no UDF, no geometry library, exact (no
    float epsilon cases). Census by 30-degree latitude band, with the
    band key shifted nonnegative ((lat+60) DIV 30) because BOTH
    engines' integer division truncates toward zero on negatives
    (probed: DuckDB // truncates too, it does not floor) — the
    repo-wide rule stands: divide nonnegative operands only.

    100 TB shape: scan-local per-point arithmetic (the polygon is a
    compile-time constant folded into the expression tree) + one tiny
    band aggregate.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 6),"
            " 16, 10) AS BIGINT) % 120 - 60"
        ).alias("lat"),
        F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 9, 6),"
            " 16, 10) AS BIGINT) % 360 - 180"
        ).alias("lon"),
    )
    crossings = " + ".join(_pip_cond("lat", "lon", *e) for e in _EDGES)
    hits = pts.select(
        "id",
        "lat",
        F.expr(f"({crossings}) % 2").alias("inside"),
    )
    band = F.expr("CAST((lat + 60) DIV 30 AS BIGINT)").alias("lat_band")
    return hits.groupBy(band).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("inside").cast("bigint").alias("n_inside"),
        F.expr("CAST(10000 * SUM(inside) DIV COUNT(*) AS BIGINT)").alias(
            "inside_bp"
        ),
    )


# --- X302/X303: string-distance joins (Jaro, Damerau-Levenshtein) ------------


def _jaro_micro(s1: str, s2: str) -> int:
    """Textbook Jaro similarity, micro-rounded (matches DuckDB's
    jaro_similarity: MARTHA/MARHTA=0.944..., CRATE/TRACE=0.733...)."""
    if s1 == s2:
        return 1000000
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for a in range(l1):
        lo, hi = max(0, a - window), min(l2, a + window + 1)
        for bidx in range(lo, hi):
            if not m2[bidx] and s1[a] == s2[bidx]:
                m1[a] = m2[bidx] = True
                m += 1
                break
    if m == 0:
        return 0
    t = 0
    bidx = 0
    for a in range(l1):
        if m1[a]:
            while not m2[bidx]:
                bidx += 1
            if s1[a] != s2[bidx]:
                t += 1
            bidx += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    return round(1000000 * jaro)


def _damerau(s1: str, s2: str) -> int:
    """FULL (unrestricted) Damerau-Levenshtein — transposition of
    adjacent chars costs 1 even with edits in between ('CA'->'ABC'
    = 2, matching DuckDB's damerau_levenshtein probe)."""
    l1, l2 = len(s1), len(s2)
    maxdist = l1 + l2
    da: dict[str, int] = {}
    d = [[0] * (l2 + 2) for _ in range(l1 + 2)]
    d[0][0] = maxdist
    for a in range(l1 + 1):
        d[a + 1][0] = maxdist
        d[a + 1][1] = a
    for bidx in range(l2 + 1):
        d[0][bidx + 1] = maxdist
        d[1][bidx + 1] = bidx
    for a in range(1, l1 + 1):
        db = 0
        for bidx in range(1, l2 + 1):
            k = da.get(s2[bidx - 1], 0)
            lcol = db
            if s1[a - 1] == s2[bidx - 1]:
                cost = 0
                db = bidx
            else:
                cost = 1
            d[a + 1][bidx + 1] = min(
                d[a][bidx] + cost,
                d[a + 1][bidx] + 1,
                d[a][bidx + 1] + 1,
                d[k][lcol] + (a - k - 1) + 1 + (bidx - lcol - 1),
            )
        da[s1[a - 1]] = a
    return d[l1 + 1][l2 + 1]


# Round 13: the pandas UDF wrappers are MODULE-LEVEL — F.pandas_udf
# construction (py4j + function pickling) measured ~0.1 s per call
# when rebuilt inside each query fn, inside the bench's timed fn().
@F.pandas_udf(LongType())
def _jaro_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [_jaro_micro(a, b) for a, b in zip(s1, s2)], dtype="int64"
    )


@F.pandas_udf(IntegerType())
def _dl_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [_damerau(a, b) for a, b in zip(s1, s2)], dtype="int32"
    )


def _scored_blocked_pairs(
    spark: SparkSession,
    sf_dir: str,
    scored: DataFrame,
    blocking_cols: tuple[str, ...] = ("p_brand",),
    part_filter=None,
) -> DataFrame:
    """Blocked pair relation pruned THROUGH the scored dictionary.

    `blocking_cols` is the record-linkage blocking discipline as a
    parameter: every listed part column becomes an equi-join key, so
    candidates are quadratic in BLOCK size, not corpus size; when
    blocks are too big, add independent attributes to the key (the
    round-7 probe: brand-only blocks ~800 rows at sf0.1 vs 16 under
    (brand, size), candidate pairs down ~2500x, growth exponent 1.75
    vs 0.35 — see PERF_NOTES).

    Round-8 restructure of the `pairs ⨝ broadcast(scored)` shape: the
    left side expands against the broadcast ≥/≤-threshold dictionary
    slice FIRST (each record grows only to its qualifying partner
    names), and only then equi-joins the right side on
    (blocking_cols…, s2=p_name). The all-candidate pair relation —
    sum-of-block² rows that the old spelling streamed through the
    broadcast probe just to discard — never exists; every joined row
    already passes the similarity threshold, so the second join's
    output IS the answer (modulo the k1<k2 dedup residual). The join
    key also gains the name column: (brand) 25 distinct keys →
    (brand, name) ~1600, so block skew drops and parallelism rises.
    Measured sf0.1 (PERF_NOTES round 8): q_jaro_pairs compute 4.9 →
    1.8 s noop-sink (2.8x); part-x10 probe constant 2.6x down at the
    same output-bound exponent.

    100 TB: the dictionary stays broadcast-size (vocab² slice); both
    part-scale sides meet in one shuffle equi-join on
    (blocking_cols…, name) whose output is threshold-pruned by
    construction. When the name vocabulary ever grows corpus-like,
    project distinct names off the blocked relation first (see
    _name_vocab_pairs) — the decomposition, not this join, is what
    assumes a dictionary."""
    p = table(spark, sf_dir, "part")
    if part_filter is not None:
        p = p.where(part_filter)
    cols = list(blocking_cols)
    a = p.select(*cols, F.col("p_partkey").alias("k1"), F.col("p_name").alias("s1"))
    b = p.select(*cols, F.col("p_partkey").alias("k2"), F.col("p_name").alias("s2"))
    return (
        a.join(F.broadcast(scored), "s1")
        .join(b, cols + ["s2"])
        .where(F.col("k1") < F.col("k2"))
    )


def _name_vocab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ordered pairs of DISTINCT part names — the string-kernel's
    entire input under the dictionary decomposition.

    p_name draws from a small vocabulary (64 distinct values at every
    sf), so the expensive string kernel needs to score only vocab²
    combinations — a quantity bounded by the dictionary, NOT the
    corpus. The per-record pair relation then gets its scores via a
    broadcast hash join (pure JVM), which replaced a per-pair Python
    kernel that was 78% of the round-5 bench (132 s at sf0.1; the
    kernel ran 8M times for 4,096 distinct inputs). When vocab² ever
    rivals the pair count, project distinct (s1, s2) off the blocked
    pair relation instead; same join-back."""
    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("s1")).distinct()
    return names.crossJoin(names.select(F.col("s1").alias("s2")))


_JARO_MIN_MICRO = 750000


@register(
    "q_jaro_pairs",
    tags=("pairs",),
    oracle=f"""
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           CAST(ROUND(1000000 * jaro_similarity(a.p_name, b.p_name))
                AS BIGINT) AS jaro_micro
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE ROUND(1000000 * jaro_similarity(a.p_name, b.p_name))
          >= {_JARO_MIN_MICRO}
    ORDER BY k1, k2
    """,
)
def q_jaro_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X302: Jaro similarity join (brand-blocked), Arrow kernel.

    Spark ships levenshtein only; Jaro is the record-linkage
    similarity the Fellegi-Sunter stack (X205) actually weights
    name fields with. Implemented as an Arrow-batched pandas UDF of
    the textbook algorithm (match window floor(max/2)-1, half the
    unaligned matches are transpositions), micro-rounded — the
    oracle is DuckDB's BUILTIN jaro_similarity, so the hash match
    certifies the kernel against an independent implementation.

    100 TB: the kernel scores only the vocab² dictionary (corpus-size-
    independent, see _name_vocab_pairs); the blocked pair relation —
    the part that grows — is pure JVM and pruned BEFORE it expands:
    each record joins the broadcast ≥-threshold dictionary slice to
    its qualifying partner names, then one (brand, name) equi-join
    materializes only true matches (_scored_blocked_pairs). Residual
    scaling is the OUTPUT itself (within-block matches are inherently
    quadratic in block size); see PERF_NOTES for the measured bound.
    """

    scored = (
        _name_vocab_pairs(spark, sf_dir)
        .select("s1", "s2", _jaro_udf("s1", "s2").alias("jaro_micro"))
        .where(F.col("jaro_micro") >= _JARO_MIN_MICRO)
    )
    # Round 13: pin the 1.17M-row join output (lazily) before the
    # declared output sort — orderBy's range-boundary sampling job
    # otherwise re-executes the whole dictionary+join subtree a second
    # time (measured 1.59 -> 1.33 s noop at sf0.1). Lazy: the sampling
    # job materializes the checkpoint, the sort's shuffle map reads it.
    return (
        _scored_blocked_pairs(spark, sf_dir, scored)
        .select("k1", "k2", "jaro_micro")
        .localCheckpoint(eager=False)
        .orderBy("k1", "k2")
    )


@register(
    "q_jaro_blocked",
    tags=("pairs",),
    oracle=f"""
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           CAST(ROUND(1000000 * jaro_similarity(a.p_name, b.p_name))
                AS BIGINT) AS jaro_micro
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE ROUND(1000000 * jaro_similarity(a.p_name, b.p_name))
          >= {_JARO_MIN_MICRO}
    ORDER BY k1, k2
    """,
)
def q_jaro_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X477: Jaro similarity join under the FINER (brand, size) key —
    the round-6 verdict's blocking_cols demo (item 5).

    Same Arrow dictionary kernel and threshold as q_jaro_pairs; the
    only change is the blocking key, passed through
    _scored_blocked_pairs' blocking_cols parameter. Standard record-linkage discipline: when
    blocks are too big, add independent attributes to the key until
    block sizes are bounded — true duplicate part listings agree on
    size, so (brand, size) trades a little recall for a ~2500x cut in
    candidate pairs (avg block 800 -> 16 at sf0.1; output 1.17M ->
    23k). The oracle spells the identical finer key, so the hash match
    verifies the parameterized blocking end-to-end; q_jaro_pairs keeps
    the coarse key oracle-checked, proving the refactor didn't move
    it.

    100 TB: candidates are sum-of-block² — bounded blocks mean the
    join scales with the DATA, not the square of the hottest block;
    measured part-x10-with-attribute-diversity exponent in PERF_NOTES
    round 7 (coarse key stays ~quadratic on the same probe data).
    """

    scored = (
        _name_vocab_pairs(spark, sf_dir)
        .select("s1", "s2", _jaro_udf("s1", "s2").alias("jaro_micro"))
        .where(F.col("jaro_micro") >= _JARO_MIN_MICRO)
    )
    # Same lazy pin before the declared sort as q_jaro_pairs (the
    # sampling job otherwise re-runs the dictionary+join subtree).
    return (
        _scored_blocked_pairs(
            spark, sf_dir, scored, blocking_cols=("p_brand", "p_size")
        )
        .select("k1", "k2", "jaro_micro")
        .localCheckpoint(eager=False)
        .orderBy("k1", "k2")
    )


_DAMERAU_MAX = 4

# Bounded sweep variant (VERDICT_r08 item 3): the full DuckDB oracle
# runs the O(len²) DP once per brand-blocked candidate pair — ~40 min
# at sf0.1 — so above driver scale BOTH sides restrict to the same
# deterministic md5 block sample of partkeys (first hex nibble of
# md5(partkey) in {0,1} => 1/8 of rows => 1/64 of candidate pairs,
# engine-agnostic and partitioning-independent). The Spark kernel under
# test is IDENTICAL — same dictionary decomposition, same pruned
# expansion join, only the part relation is pre-filtered — so the
# bounded hash match still certifies the full-DL kernel and the
# blocking join end-to-end at sf0.1. Used by check_oracles --bounded;
# the driver (sf0.01) always runs the full oracle above.
_DAMERAU_SAMPLE_NIBBLES = ("0", "1")
_DAMERAU_SAMPLE_SQL = (
    "substring(md5(CAST(p_partkey AS VARCHAR)), 1, 1) IN ('0', '1')"
)


def _damerau_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vocab²-bounded full-DL scores (shared by full + bounded forms)."""

    return (
        _name_vocab_pairs(spark, sf_dir)
        .select("s1", "s2", _dl_udf("s1", "s2").alias("dl"))
        .where(F.col("dl") <= _DAMERAU_MAX)
    )


def _damerau_pairs_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_damerau_pairs restricted to the deterministic md5 block sample."""
    sample = F.substring(
        F.md5(F.col("p_partkey").cast("string")), 1, 1
    ).isin(*_DAMERAU_SAMPLE_NIBBLES)
    return (
        _scored_blocked_pairs(
            spark, sf_dir, _damerau_scored(spark, sf_dir), part_filter=sample
        )
        .select("k1", "k2", F.col("dl").cast("bigint").alias("dl"))
        .orderBy("k1", "k2")
    )


@register(
    "q_damerau_pairs",
    tags=("pairs",),
    oracle=f"""
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE damerau_levenshtein(a.p_name, b.p_name) <= {_DAMERAU_MAX}
    ORDER BY k1, k2
    """,
    bounded_fn=_damerau_pairs_bounded,
    bounded_oracle=f"""
    WITH ps AS (SELECT * FROM part WHERE {_DAMERAU_SAMPLE_SQL})
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl
    FROM ps a JOIN ps b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE damerau_levenshtein(a.p_name, b.p_name) <= {_DAMERAU_MAX}
    ORDER BY k1, k2
    """,
)
def q_damerau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X303: Damerau-Levenshtein distance join (brand-blocked).

    FULL (unrestricted) DL — an adjacent transposition costs 1 even
    with intervening edits, via the dictionary-of-last-positions DP
    (Lowrance-Wagner), NOT the simpler optimal-string-alignment
    variant ('CA'->'ABC': full DL 2, OSA 3 — DuckDB's builtin was
    probed to return 2). Typo-tolerant matching for transposed
    keystrokes that plain levenshtein (X35) over-penalizes. The
    oracle is DuckDB's independent builtin.

    100 TB: same dictionary decomposition and pruned-expansion join as
    X302 — the DP kernel runs vocab² times (corpus-size-independent),
    the growing pair relation is JVM-only and expands through the
    broadcast ≤-threshold dictionary slice before the (brand, name)
    equi-join (_scored_blocked_pairs). Above driver scale the sweep
    uses the registered bounded variant (same kernel, md5-sampled
    part relation on BOTH engines) because DuckDB's oracle-side DP is
    quadratic in block size — see _DAMERAU_SAMPLE_SQL.
    """
    return (
        _scored_blocked_pairs(spark, sf_dir, _damerau_scored(spark, sf_dir))
        .select("k1", "k2", F.col("dl").cast("bigint").alias("dl"))
        .orderBy("k1", "k2")
    )


# --- X307: geohash cell census ------------------------------------------------

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash4_sql(lat: str, lon: str, shift: str, idiv: str) -> str:
    """Closed-form geohash4 (20 bits): quantize to 10 bits per axis,
    interleave lon-first (lon bit b -> position 2b+1), then map four
    5-bit groups MSB-first through the base32 alphabet. ``shift`` /
    ``idiv`` are the engine's right-shift and integer-division
    spellings with {x}/{n} and {a}/{b} placeholders (Spark spells
    integer division DIV, DuckDB spells it //)."""
    latq = "(" + idiv.format(a=f"(({lat}) + 90) * 1024", b="180") + ")"
    lonq = "(" + idiv.format(a=f"(({lon}) + 180) * 1024", b="360") + ")"
    terms = []
    for b in range(10):
        terms.append(f"(({shift.format(x=lonq, n=b)}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({shift.format(x=latq, n=b)}) % 2) * {1 << (2 * b)}")
    v = "(" + " + ".join(terms) + ")"
    chars = [
        f"substring('{_GH_ALPHABET}', CAST(({shift.format(x=v, n=15 - 5 * i)}) % 32 AS INT) + 1, 1)"
        for i in range(4)
    ]
    return " || ".join(chars)


@register(
    "q_geohash_census",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
                    ::BIGINT % 120 - 60) AS lat,
               (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 6))
                    ::BIGINT % 360 - 180) AS lon
        FROM customer
    )
    SELECT {_geohash4_sql("lat", "lon", "(({x}) >> {n})", "({a}) // ({b})")} AS geohash4,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM pts
    GROUP BY 1 ORDER BY n_points DESC, geohash4 LIMIT 50
    """,
)
def q_geohash_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X307: geohash4 cell census, closed-form bit interleaving.

    The standard geospatial index cell (base32 geohash, precision 4)
    computed with NO geo library and NO loop: each axis quantizes to
    10 bits by pure integer arithmetic, the 20-bit Morton interleave
    (X57's trick, lon-first per the geohash spec) is a sum of 20
    shift-and-mask terms folded by codegen into one projection, and
    the base32 chars are four substring probes of the alphabet
    literal. Census of X278's deterministic customer points per cell,
    top-50 densest. The same cell key is what a geo-bucketed join
    (X263 haversine radius) would shuffle on at scale.

    100 TB: scan-local encoding + one partial-aggregated census.
    """
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 6),
                16,
                10,
            ).cast("bigint")
            % 120
            - 60
        ).alias("lat"),
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 9, 6),
                16,
                10,
            ).cast("bigint")
            % 360
            - 180
        ).alias("lon"),
    )
    gh = F.expr(
        _geohash4_sql(
            "lat", "lon", "SHIFTRIGHT({x}, {n})", "({a}) DIV ({b})"
        )
    ).alias("geohash4")
    return (
        pts.select(gh)
        .groupBy("geohash4")
        .agg(F.count("*").cast("bigint").alias("n_points"))
        .orderBy(F.desc("n_points"), "geohash4")
        .limit(50)
    )


_EMB_MILLI_SQL = """
    e AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    )
"""


def _emb_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
        ).alias("v"),
    )


# --- X310: embedding-space contamination -------------------------------------

_CONTAM_COS_MICRO = 350000


@register(
    "q_embedding_contamination",
    tags=("pairs",),
    oracle="WITH "
    + _EMB_MILLI_SQL
    + f""",
    prep AS (
        SELECT vec_id, label, v,
               list_inner_product(
                   list_transform(v, x -> CAST(x AS DOUBLE)),
                   list_transform(v, x -> CAST(x AS DOUBLE))) AS q
        FROM e
    ),
    pairs AS (
        SELECT t.vec_id AS train_id, ev.vec_id AS eval_id,
               CAST(ROUND(1000000
                    * list_inner_product(
                          list_transform(t.v, x -> CAST(x AS DOUBLE)),
                          list_transform(ev.v, x -> CAST(x AS DOUBLE)))
                    / SQRT(t.q * ev.q)) AS BIGINT) AS cos_micro
        FROM prep t JOIN prep ev
          ON t.label <> 0 AND ev.label = 0
    )
    SELECT train_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro,
           CAST(MIN(eval_id) AS BIGINT) AS first_eval_id
    FROM pairs WHERE cos_micro >= {_CONTAM_COS_MICRO}
    GROUP BY train_id ORDER BY train_id
    """,
)
def q_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X310: train/eval contamination in embedding space.

    X14 flags benchmark leakage by token overlap; paraphrased leaks
    survive that check but not this one — any train vector (labels
    1-9) within cosine 0.35 of an eval vector (label 0) is flagged
    (threshold tuned to the synthetic clusters' geometry — cross-label
    cosines top out near 0.49 here; real-embedding deployments set
    ~0.95)
    with its hit count and closest-match score. Cosines are one float
    expression over exact integer dot products and norms
    (milli-quantized dims), micro-rounded BEFORE the threshold so the
    boundary can't flip between engines.

    100 TB: the eval set is benchmark-sized by nature — it
    BROADCASTS; the train corpus streams through scan-locally with
    no shuffle until the per-train-vector hit aggregate. (The
    quadratic oracle is the test-scale certificate; the plan itself
    is linear in the train side.)
    """
    e = _emb_milli(spark, sf_dir)
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    prep = e.select(
        "vec_id",
        "label",
        "v",
        F.aggregate(
            F.zip_with(dbl(F.col("v")), dbl(F.col("v")), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("q"),
    )
    t = prep.where(F.col("label") != 0).alias("t")
    ev = prep.where(F.col("label") == 0).alias("ev")
    dot = F.aggregate(
        F.zip_with(
            dbl(F.col("t.v")), dbl(F.col("ev.v")), lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos_micro = F.round(
        1000000 * dot / F.sqrt(F.col("t.q") * F.col("ev.q"))
    ).cast("bigint")
    pairs = t.join(F.broadcast(ev)).select(
        F.col("t.vec_id").alias("train_id"),
        F.col("ev.vec_id").alias("eval_id"),
        cos_micro.alias("cos_micro"),
    )
    return (
        pairs.where(F.col("cos_micro") >= _CONTAM_COS_MICRO)
        .groupBy("train_id")
        .agg(
            F.count("*").cast("bigint").alias("n_eval_hits"),
            F.max("cos_micro").cast("bigint").alias("max_cos_micro"),
            F.min("eval_id").cast("bigint").alias("first_eval_id"),
        )
        .orderBy("train_id")
    )


# --- X314: sign-sketch fidelity audit ----------------------------------------

_SKETCH_STRIDE = 137


@register(
    "q_sign_sketch_fidelity",
    oracle="WITH "
    + _EMB_MILLI_SQL
    + f""",
    prep AS (
        SELECT vec_id, v,
               list_inner_product(
                   list_transform(v, x -> CAST(x AS DOUBLE)),
                   list_transform(v, x -> CAST(x AS DOUBLE))) AS q
        FROM e
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(ROUND(1000000
                    * list_inner_product(
                          list_transform(a.v, x -> CAST(x AS DOUBLE)),
                          list_transform(b.v, x -> CAST(x AS DOUBLE)))
                    / SQRT(a.q * b.q)) AS BIGINT) AS x,
               CAST(len(list_filter(
                   list_zip(a.v, b.v),
                   z -> (z[1] >= 0) = (z[2] >= 0))) AS BIGINT) AS y
        FROM prep a JOIN prep b
          ON b.vec_id = a.vec_id + {_SKETCH_STRIDE}
        WHERE a.q > 0 AND b.q > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(y) AS BIGINT) AS sum_agree,
           ROUND((COUNT(*) * SUM(CAST(x AS DOUBLE) * y)
                  - SUM(CAST(x AS DOUBLE)) * SUM(y))
                 / SQRT((COUNT(*) * SUM(CAST(x AS DOUBLE) * x)
                         - SUM(CAST(x AS DOUBLE)) * SUM(x))
                        * (COUNT(*) * SUM(CAST(y AS DOUBLE) * y)
                           - SUM(CAST(y AS DOUBLE)) * SUM(y))), 4)
               AS pearson_r
    FROM pairs
    """,
)
def q_sign_sketch_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X314: does the 1-bit sign sketch preserve cosine ordering?

    X45 quantizes embeddings to int8; the cheaper 1-bit sign sketch
    (sim-hash's storage form) keeps only sign bits and estimates
    similarity by agreement count. This audit measures the fidelity
    CLAIM instead of assuming it: over a deterministic pair sample
    (vec_id stride 137 — X203's measured-accuracy discipline), the
    exact Pearson correlation between true cosine (micro, from
    integer dot products) and sign-agreement count. Moment sums are
    pinned by the micro/integer inputs; r is one float, rounded 4.

    100 TB: the stride join is an equi-join on a computed key; all
    else is one pair-grain aggregate.
    """
    e = _emb_milli(spark, sf_dir)
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    prep = e.select(
        "vec_id",
        "v",
        F.aggregate(
            F.zip_with(dbl(F.col("v")), dbl(F.col("v")), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("q"),
    )
    a, b = prep.alias("a"), prep.alias("b")
    dot = F.aggregate(
        F.zip_with(dbl(F.col("a.v")), dbl(F.col("b.v")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("a.v"),
                F.col("b.v"),
                lambda x, y: (x >= 0) == (y >= 0),
            ),
            lambda z: z,
        )
    ).cast("bigint")
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + _SKETCH_STRIDE)
        .where((F.col("a.q") > 0) & (F.col("b.q") > 0))
        .select(
            F.round(1000000 * dot / F.sqrt(F.col("a.q") * F.col("b.q")))
            .cast("bigint")
            .alias("x"),
            agree.alias("y"),
        )
    )
    n = F.count("*")
    sx = F.sum(F.col("x").cast("double"))
    sy = F.sum(F.col("y").cast("double"))
    sxy = F.sum(F.col("x").cast("double") * F.col("y"))
    sxx = F.sum(F.col("x").cast("double") * F.col("x"))
    syy = F.sum(F.col("y").cast("double") * F.col("y"))
    return pairs.agg(
        n.cast("bigint").alias("n_pairs"),
        F.sum("y").cast("bigint").alias("sum_agree"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("pearson_r"),
    )


# --- X338: mutual top-1 neighbor census --------------------------------------


@register(
    "q_mutual_nn",
    tags=("pairs",),
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, b.label AS dst_label,
               ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
        FROM e a JOIN e b ON b.vec_id <> a.vec_id
    ),
    top1 AS (
        SELECT src, dst, sim
        FROM (SELECT src, dst, sim,
                     ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY sim DESC, dst) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    mutual AS (
        SELECT a.src AS lo, a.dst AS hi, a.sim
        FROM top1 a JOIN top1 b ON b.src = a.dst AND b.dst = a.src
        WHERE a.src < a.dst
    )
    SELECT m.lo, m.hi, m.sim,
           CASE WHEN el.label = eh.label THEN 1 ELSE 0 END AS same_label
    FROM mutual m
    JOIN embeddings el ON el.vec_id = m.lo
    JOIN embeddings eh ON eh.vec_id = m.hi
    ORDER BY m.lo
    """,
)
def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X338: mutual (reciprocal) top-1 neighbor pairs over embeddings.

    A pair (a, b) is mutual when each is the other's single nearest
    neighbor by cosine — the highest-precision merge candidates in
    semantic dedup / bitext alignment (far stronger evidence than a
    one-sided threshold like L4's). Ranking follows the L4 discipline:
    ROUND(sim, 4) with the vec_id tiebreaker keeps the float ranking
    cross-engine stable; label agreement is reported per pair as the
    cluster-purity signal.

    100 TB: one side broadcasts per X157's grid; top-1 is a keyed
    window (|vectors| partitions); the mutuality check is a self
    equi-join of the |vectors|-row top-1 relation. At scale the pair
    generation passes through the IVF cell join (X2) first — the
    mutuality algebra is unchanged.
    """
    emb = table(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(dbl(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    left = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("sv"),
        norm("embedding").alias("sn"),
    )
    right = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("dv"),
        norm("embedding").alias("dn"),
    )
    dot = F.aggregate(
        F.zip_with(dbl(F.col("sv")), dbl(F.col("dv")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        left.join(F.broadcast(right), F.col("dst") != F.col("src"))
        .select(
            "src",
            "dst",
            F.round(dot / (F.col("sn") * F.col("dn")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    top1 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("src", "dst", "sim")
        .localCheckpoint(eager=True)
    )
    a, b = top1.alias("a"), top1.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("b.src") == F.col("a.dst"))
            & (F.col("b.dst") == F.col("a.src")),
        )
        .where(F.col("a.src") < F.col("a.dst"))
        .select(
            F.col("a.src").alias("lo"),
            F.col("a.dst").alias("hi"),
            F.col("a.sim").alias("sim"),
        )
    )
    lab = emb.select("vec_id", "label")
    return (
        mutual.join(
            F.broadcast(lab.select(F.col("vec_id").alias("lo"), F.col("label").alias("ll"))),
            "lo",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("hi"), F.col("label").alias("lh"))),
            "hi",
        )
        .select(
            "lo",
            "hi",
            "sim",
            F.when(F.col("ll") == F.col("lh"), 1).otherwise(0).alias("same_label"),
        )
        .orderBy("lo")
    )


# --- X345: canopy-clustering census ------------------------------------------

_CANOPY_T1 = 0.15


@register(
    "q_canopy_census",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    centers AS (SELECT * FROM e WHERE vec_id % 37 = 0),
    assign AS (
        SELECT c.vec_id AS center_id, c.label AS center_label,
               p.vec_id AS point_id, p.label AS point_label,
               ROUND(list_cosine_similarity(c.v, p.v), 4) AS sim
        FROM centers c JOIN e p ON p.vec_id <> c.vec_id
        WHERE ROUND(list_cosine_similarity(c.v, p.v), 4) >= {_CANOPY_T1}
    ),
    per_center AS (
        SELECT center_id,
               CAST(COUNT(*) AS BIGINT) AS canopy_size,
               CAST(SUM(CASE WHEN point_label = center_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS same_label,
               CAST(ROUND(1000.0 * AVG(sim)) AS BIGINT) AS avg_sim_milli
        FROM assign GROUP BY center_id
    ),
    covered AS (SELECT COUNT(DISTINCT point_id) AS nc FROM assign),
    tot AS (SELECT COUNT(*) AS n FROM e)
    SELECT p.center_id, p.canopy_size, p.same_label, p.avg_sim_milli,
           CAST(t.n - c.nc AS BIGINT) AS uncovered_points
    FROM per_center p CROSS JOIN covered c CROSS JOIN tot t
    ORDER BY p.center_id
    """,
)
def q_canopy_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X345: canopy-clustering blocking census over embeddings.

    The McCallum-Nigam-Ungar pre-clustering pass: hash-chosen centers
    (vec_id % 37 — deterministic, ~sqrt(n) of them), every point
    joins every canopy within the LOOSE threshold (cosine >= 0.15,
    the L4 ROUND(sim,4) discipline). Canopies overlap by design —
    the expensive stage (X68's k-means, X28's semantic dedup) then
    runs only within canopies. The census reports what the blocking
    bought: per-canopy size, label purity, mean tightness, and the
    uncovered remainder that would need a fallback pass.

    100 TB: centers broadcast (they are ~sqrt(n)); assignment is one
    scan of the point set; the census is a |centers|-row aggregate.
    """
    emb = table(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(dbl(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    pts = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("point_id"),
        F.col("label").alias("point_label"),
        F.col("embedding").alias("pv"),
        norm("embedding").alias("pn"),
    )
    centers = emb.where(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("center_id"),
        F.col("label").alias("center_label"),
        F.col("embedding").alias("cv"),
        norm("embedding").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(dbl(F.col("cv")), dbl(F.col("pv")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assign = (
        pts.join(F.broadcast(centers), F.col("point_id") != F.col("center_id"))
        .select(
            "center_id",
            "center_label",
            "point_id",
            "point_label",
            F.round(dot / (F.col("cn") * F.col("pn")), 4).alias("sim"),
        )
        .where(F.col("sim") >= _CANOPY_T1)
        .localCheckpoint(eager=True)
    )
    per_center = assign.groupBy("center_id").agg(
        F.count("*").cast("bigint").alias("canopy_size"),
        F.sum(
            F.when(F.col("point_label") == F.col("center_label"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("same_label"),
        F.round(F.lit(1000.0) * F.avg("sim")).cast("bigint").alias(
            "avg_sim_milli"
        ),
    )
    covered = assign.agg(F.countDistinct("point_id").alias("nc"))
    tot = emb.agg(F.count("*").alias("n"))
    return (
        per_center.crossJoin(F.broadcast(covered))
        .crossJoin(F.broadcast(tot))
        .select(
            "center_id",
            "canopy_size",
            "same_label",
            "avg_sim_milli",
            (F.col("n") - F.col("nc")).cast("bigint").alias("uncovered_points"),
        )
        .orderBy("center_id")
    )
