"""Round-12 optimization equivalence gates.

Each optimization in this round restructures HOW an operator computes
without changing WHAT it computes; these tests pin the equivalence by
re-spelling the pre-optimization pipeline inline and asserting
bit-identical output against the optimized operator. They are the
regression guard the oracle hash check can't provide for the
parameterizations that are rows-only by design (q_ann_lsh_prod's 32x8
setting), and a faster-failing guard than the full oracle sweep for
the hash-checked ones.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _legacy_lsh_topk(df, *, id_col, vec_col, k, n_planes, n_tables, key="annlsh"):
    """The pre-round-12 JVM pipeline, verbatim: unrolled-literal HOF
    bucketing -> (table, bucket) id self-join -> dropDuplicates ->
    two vector join-backs -> HOF cosine -> mirrored union -> window."""
    from laser_hadoop_spark.operators.similarity import (
        dot_expr,
        hyperplane_bucket_expr,
        l2_norm_expr,
        rademacher_planes,
    )

    dim = len(df.select(vec_col).first()[0])
    tables = rademacher_planes(n_tables, n_planes, dim, key)
    bucket_entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_bucket_expr(vec_col, np.array(planes)).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )
    bucketed = df.select(F.col(id_col), F.explode(bucket_entries).alias("tb")).select(
        id_col, F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )
    a = bucketed.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = bucketed.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pairs = (
        a.join(b, on=["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm_expr(F.col(vec_col)).alias("norm_a"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm_expr(F.col(vec_col)).alias("norm_b"),
    )
    cos = dot_expr(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    micro = F.round(cos * 1000000).cast("bigint")
    half = (
        pairs.join(va, "id_a").join(vb, "id_b").select(
            "id_a", "id_b", micro.alias("cosine_micro")
        )
    )
    scored = half.unionByName(
        half.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cosine_micro"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine_micro"), F.col("id_b"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).where(
        F.col("rnk") <= k
    )


@pytest.mark.parametrize(
    "n_planes,n_tables",
    [(2, 8), (8, 32)],  # oracle-pinned q_ann_lsh + production q_ann_lsh_prod
)
def test_ann_lsh_numpy_kernel_matches_legacy_pipeline(spark, sf_dir, n_planes, n_tables):
    """The r12 numpy LSH kernel (ann_lsh_topk) must reproduce the
    former JVM pipeline bit-for-bit: same buckets (GEMM sign vs HOF
    fold), same min-table dedup as the dropDuplicates union, same
    micro scores (pairwise numpy row sums + HALF_UP vs
    dot_expr/F.round — float32 inputs upcast to double BEFORE any
    arithmetic, the dot_expr semantics), same top-k rows."""
    from laser_hadoop_spark.operators.similarity import ann_lsh_topk
    from laser_hadoop_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    new = (
        ann_lsh_topk(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            k=5,
            n_planes=n_planes,
            n_tables=n_tables,
        )
        .orderBy("id_a", "rnk")
        .collect()
    )
    old = (
        _legacy_lsh_topk(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            k=5,
            n_planes=n_planes,
            n_tables=n_tables,
        )
        .orderBy("id_a", "rnk")
        .collect()
    )
    assert len(new) > 0
    assert [tuple(r) for r in new] == [tuple(r) for r in old]
