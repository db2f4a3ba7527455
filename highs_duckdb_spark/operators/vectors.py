"""Vector analytics over the ``embeddings`` table: normalization, per-label
centroids, nearest-centroid classification.

Scale shape: centroid computation is posexplode → groupBy(label, dim) —
one shuffle keyed by (label, dim), partial aggregation map-side, never a
whole-vector reduce on a single node. Classification broadcasts the (tiny)
centroid matrix and scores corpus-side in a single pass.
"""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from highs_duckdb_spark.functions.presentation import present_sorted
from highs_duckdb_spark.operators.registry import register
from highs_duckdb_spark.session import ensure_shipped, load_table

#: defensive ceiling for kernels that hold an embeddings matrix on the
#: driver (v10/v11): 250k × 64 float64 ≈ 128 MB — the 100× corpus fits,
#: anything larger fails loudly instead of silently OOMing the driver
#: (VERDICT r11 item 5; read_table_arrow raises, never truncates).
_DRIVER_MATRIX_MAX_ROWS = int(os.environ.get("HDS_DRIVER_MATRIX_MAX_ROWS", "250000"))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


@register(
    "v01_normalize",
    oracle="""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 50)
    SELECT vec_id,
           round(1e-9 + sqrt(list_dot_product(v, v)), 6) AS l2_norm,
           round(1e-9 + list_dot_product([x / sqrt(list_dot_product(v, v)) FOR x IN v],
                                         [x / sqrt(list_dot_product(v, v)) FOR x IN v]), 6) AS unit_norm_sq
    FROM emb ORDER BY vec_id
    """,
    category="similarity",
    doc="L2 normalization via higher-order array ops; proves unit norm after scaling.",
)
def v01_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 50)
    v = _as_double(F.col("embedding"))
    norm = F.sqrt(_dot(v, v))
    unit = F.transform(v, lambda x: x / norm)
    return emb.select(
        "vec_id",
        F.round(F.lit(1e-9) + norm, 6).alias("l2_norm"),
        F.round(F.lit(1e-9) + _dot(unit, unit), 6).alias("unit_norm_sq"),
    ).orderBy("vec_id")


@register(
    "v02_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
    ),
    cent AS (
      SELECT label, dim, CAST(sum(val) AS DOUBLE) / count(*) AS c
      FROM flat GROUP BY label, dim
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(1e-9 + sum(c * c), 6) AS centroid_norm_sq
    FROM cent GROUP BY label ORDER BY label
    """,
    category="similarity",
    doc=(
        "Per-label centroids via posexplode → groupBy(label, dim): the "
        "shuffle key is (label, dim), so centroid math distributes across "
        "the cluster instead of reducing whole vectors to one task."
    ),
)
def v02_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    flat = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = flat.groupBy("label", "dim").agg(
        (F.sum("val").cast("double") / F.count("*")).alias("c")
    )
    return (
        cent.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").alias("n_dims"),
            F.round(F.lit(1e-9) + F.sum(F.col("c") * F.col("c")), 6).alias("centroid_norm_sq"),
        )
        .orderBy("label")
    )


@register(
    "v03_nearest_centroid",
    oracle="""
    WITH flat AS (
      SELECT label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
    ),
    cent AS (
      SELECT label AS c_label, dim, CAST(sum(val) AS DOUBLE) / count(*) AS c
      FROM flat GROUP BY label, dim
    ),
    qflat AS (
      SELECT vec_id, label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
      WHERE vec_id < 100
    ),
    scored AS (
      SELECT q.vec_id, q.label, c.c_label,
             round(1e-9 + sum(q.val * c.c), 6) AS dot
      FROM qflat q JOIN cent c ON q.dim = c.dim
      GROUP BY q.vec_id, q.label, c.c_label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c_label) AS rk
      FROM scored
    )
    SELECT vec_id, CAST(label AS BIGINT) AS true_label,
           CAST(c_label AS BIGINT) AS predicted_label
    FROM ranked WHERE rk = 1 ORDER BY vec_id
    """,
    category="similarity",
    doc=(
        "Nearest-centroid classification: centroids from the full corpus, "
        "query vectors scored against every centroid by dot product, argmax "
        "per vector (deterministic tie-break)."
    ),
)
def v03_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    flat = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
    ).select(F.col("label").alias("c_label"), (F.col("dim0") + 1).alias("dim"), "val")
    cent = flat.groupBy("c_label", "dim").agg(
        (F.sum("val").cast("double") / F.count("*")).alias("c")
    )
    qflat = (
        emb.filter(F.col("vec_id") < 100)
        .select(
            "vec_id", "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
        )
        .select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    )
    scored = (
        qflat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.round(F.lit(1e-9) + F.sum(F.col("val") * F.col("c")), 6).alias("dot"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("c_label"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("true_label"),
            F.col("c_label").cast("bigint").alias("predicted_label"),
        )
        .orderBy("vec_id")
    )


K_CLUSTERS = 5
KMEANS_ROUNDS = 5


def _kmeans_partials_factory(centroids):
    """Fused assign + per-batch partial-sum kernel: each Arrow batch yields
    at most k rows (cluster, cnt, qsum) — the map-side combine of Lloyd's.
    Assignment distances go through _seq_dists (dimension-sequential, the
    exact expression of the DuckDB oracle); the partial sums are of the
    QUANTIZED integral coordinates (floor(x·1e6 + 0.5)), so they are exact
    integers and the driver-side merge is order-independent — the property
    that makes a distributed Lloyd's round bit-reproducible at any
    partitioning. Closure-captured centroids ship by value (cloudpickle)."""
    import numpy as np
    import pandas as pd

    from highs_duckdb_spark.operators.similarity import _IVF_QSCALE, _seq_dists

    c = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            q = np.floor(mat * _IVF_QSCALE + 0.5)
            cl = _seq_dists(mat, c).argmin(axis=1)
            rows = []
            for k in np.unique(cl):
                sel = q[cl == k]
                rows.append((int(k), int(len(sel)), sel.sum(axis=0).tolist()))
            yield pd.DataFrame(rows, columns=["cluster", "cnt", "qsum"])

    return fn


def _v04_oracle_sql() -> str:
    """DuckDB replication of v04: quantized-integer Lloyd's over the FULL
    corpus (k=K_CLUSTERS, KMEANS_ROUNDS rounds — the same shared CTE
    generator as the s04 IVF oracle, with no sample bound), then one final
    nearest-cell assignment of every vector."""
    from highs_duckdb_spark.operators.similarity import _kmeans_cents_ctes

    dist = (
        "((list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.c))"
        " + list_dot_product(c.c, c.c))"
    )
    return f"""
    WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    {_kmeans_cents_ctes(k=K_CLUSTERS, rounds=KMEANS_ROUNDS, sample_where="")}
    SELECT vec_id, label, cluster FROM (
      SELECT e.vec_id, e.label, CAST(c.cell AS BIGINT) AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn
      FROM emb e CROSS JOIN c{KMEANS_ROUNDS} c
    ) WHERE rn = 1
    ORDER BY vec_id
    """


@register(
    "v04_kmeans_lite",
    oracle=_v04_oracle_sql(),
    category="similarity",
    doc=(
        "K-means (Lloyd's) over embeddings: deterministic init (vec_id 0..k-1), "
        "5 rounds where each round is ONE map-only job — a fused "
        "assign+partial-sum mapInPandas kernel emitting ≤k rows per Arrow "
        "batch (the map-side combine), collected and reduced driver-side. "
        "No shuffle per round (the old posexplode+groupBy recompute "
        "shuffled n×dim rows every round), and every round's plan hangs "
        "directly off the single checkpointed scan, so lineage depth is "
        "constant in the round count. The driver holds only k×dim floats "
        "between rounds. Hash-checked end-to-end: partial sums are of "
        "QUANTIZED integral coordinates (exact in any merge order — the "
        "property that makes a distributed Lloyd's round bit-reproducible "
        "at any partitioning), distances dimension-sequential, so the "
        "DuckDB oracle replicates every round bit-for-bit."
    ),
)
def v04_kmeans_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.operators.similarity import (
        _IVF_QSCALE,
        _assign_seq_udf_factory,
    )

    ensure_shipped(spark)
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    # NOT repartitioned before the pin (round-12 measured NEGATIVE): the
    # d13/v10 single-file spread was A/B'd here and REGRESSED —
    # 2.1 → 3.3 s at sf0.1 — because the per-ROUND mapInPandas jobs
    # multiply the per-task Python round-trip by KMEANS_ROUNDS × 32 for
    # ~62-row slices; one fat task per round is cheaper at this vector
    # count, and a multi-file corpus at scale arrives pre-split anyway.
    emb = emb.localCheckpoint(eager=True)  # scanned once per round: pin it
    import numpy as np

    init = np.array(
        [r["v"] for r in emb.filter(F.col("vec_id") < K_CLUSTERS).orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    centroids = np.floor(init * _IVF_QSCALE + 0.5) / _IVF_QSCALE
    dim = centroids.shape[1]
    for _ in range(KMEANS_ROUNDS):
        partials = emb.select("v").mapInPandas(
            _kmeans_partials_factory(centroids),
            "cluster long, cnt long, qsum array<double>",
        ).collect()
        # integral-double partial sums: exact in ANY reduce order, no sort needed
        sums = np.zeros((K_CLUSTERS, dim))
        cnts = np.zeros(K_CLUSTERS, dtype=np.int64)
        for r in partials:
            sums[r["cluster"]] += np.asarray(r["qsum"])
            cnts[r["cluster"]] += r["cnt"]
        centroids = np.array(
            [
                sums[k] / (_IVF_QSCALE * cnts[k]) if cnts[k] else centroids[k]
                for k in range(K_CLUSTERS)
            ]
        )
    assign = _assign_seq_udf_factory(centroids)
    assigned = emb.withColumn("cluster", assign(F.col("v")))
    return assigned.select("vec_id", "label", "cluster").orderBy("vec_id")


QUANT_VEC_LIMIT = 100


@register(
    "v06_int8_quantize",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id < {QUANT_VEC_LIMIT}),
    p AS (
      SELECT vec_id, v, list_min(v) AS lo,
             greatest(list_max(v) - list_min(v), 1e-12) / 254.0 AS s
      FROM emb
    ),
    q AS (
      SELECT vec_id, v, lo, s,
             [floor((x - lo) / s + 0.5) FOR x IN v] AS qs
      FROM p
    ),
    d AS (
      SELECT vec_id, lo, s, qs,
             [abs(v[i] - (qs[i] * s + lo)) FOR i IN range(1, length(v) + 1)] AS errs
      FROM q
    )
    SELECT vec_id,
           CAST(length(list_distinct(qs)) AS BIGINT) AS n_codes,
           round(1e-9 + list_max(errs), 6) AS max_abs_err,
           round(1e-9 + list_sum([e * e FOR e IN errs]) / length(errs), 6) AS mse
    FROM d ORDER BY vec_id
    """,
    category="similarity",
    doc=(
        "Int8 scalar quantization of embeddings (per-vector min/max grid, "
        "255 codes): quantize, dequantize, report code cardinality and "
        "reconstruction error — the compression step before shipping "
        "vectors to an ANN index. floor(x+0.5) keeps the code assignment "
        "engine-identical (round() half-even/half-up differs); everything "
        "is higher-order array ops in one codegen pass, no shuffle."
    ),
)
def v06_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < QUANT_VEC_LIMIT)
    v = _as_double(F.col("embedding"))
    p = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.array_min("v").alias("lo"),
        (F.greatest(F.array_max("v") - F.array_min("v"), F.lit(1e-12)) / 254.0).alias("s"),
    )
    q = p.select(
        "vec_id",
        "v",
        "lo",
        "s",
        F.transform(
            F.col("v"), lambda x: F.floor((x - F.col("lo")) / F.col("s") + 0.5)
        ).alias("qs"),
    )
    d = q.select(
        "vec_id",
        "qs",
        F.zip_with(
            "v", "qs", lambda x, c: F.abs(x - (c * F.col("s") + F.col("lo")))
        ).alias("errs"),
    )
    sq_sum = F.aggregate(F.col("errs"), F.lit(0.0), lambda acc, e: acc + e * e)
    return d.select(
        "vec_id",
        F.size(F.array_distinct("qs")).cast("bigint").alias("n_codes"),
        F.round(F.lit(1e-9) + F.array_max("errs"), 6).alias("max_abs_err"),
        F.round(F.lit(1e-9) + sq_sum / F.size("errs"), 6).alias("mse"),
    ).transform(present_sorted, "vec_id")


PROJ_DIMS = 8
PROJ_SRC_DIM = 64
_PROJ_A, _PROJ_B, _PROJ_M = 1103515245, 12345, 2001


def _proj_row_sql(j: int) -> str:
    return (
        f"[(({_PROJ_A} * ({j * PROJ_SRC_DIM} + d) + {_PROJ_B}) % {_PROJ_M} - 1000) / 1000.0 "
        f"FOR d IN range(0, {PROJ_SRC_DIM})]"
    )


@register(
    "v05_random_projection",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id < {QUANT_VEC_LIMIT}),
    proj AS (
      SELECT vec_id, v,
             [{", ".join(f"list_dot_product(v, {_proj_row_sql(j)})" for j in range(PROJ_DIMS))}] AS p
      FROM emb
    )
    SELECT vec_id,
           round(1e-9 + p[1], 4) AS p0,
           round(1e-9 + p[2], 4) AS p1,
           round(1e-9 + sqrt(list_dot_product(p, p)) / sqrt(list_dot_product(v, v)), 4) AS norm_ratio
    FROM proj ORDER BY vec_id
    """,
    category="similarity",
    doc=(
        f"Johnson-Lindenstrauss-style random projection {PROJ_SRC_DIM}->"
        f"{PROJ_DIMS} dims with a DETERMINISTIC pseudo-random matrix "
        "(affine integer formula, identical in both engines — no RNG state "
        "to ship): the dimensionality-reduction step before clustering/ANN "
        "at scale. Pure higher-order folds in codegen; the matrix is "
        "formula-generated per row, so the plan carries no literal matrix."
    ),
)
def v05_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < QUANT_VEC_LIMIT)
    v = _as_double(F.col("embedding"))

    def proj_row(j: int):
        return F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(PROJ_SRC_DIM - 1).cast("bigint")),
            lambda d: (
                (F.lit(_PROJ_A).cast("bigint") * (F.lit(j * PROJ_SRC_DIM) + d) + _PROJ_B)
                % _PROJ_M
                - 1000
            )
            / 1000.0,
        )

    base = emb.select("vec_id", v.alias("v"))
    p = F.array(*[_dot(F.col("v"), proj_row(j)) for j in range(PROJ_DIMS)])
    proj = base.select("vec_id", "v", p.alias("p"))
    return proj.select(
        "vec_id",
        F.round(F.lit(1e-9) + F.element_at("p", 1), 4).alias("p0"),
        F.round(F.lit(1e-9) + F.element_at("p", 2), 4).alias("p1"),
        F.round(
            F.lit(1e-9) + F.sqrt(_dot(F.col("p"), F.col("p"))) / F.sqrt(_dot(F.col("v"), F.col("v"))),
            4,
        ).alias("norm_ratio"),
    ).transform(present_sorted, "vec_id")


@register(
    "v07_cluster_separation",
    oracle="""
    WITH flat AS (
      SELECT label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
    ),
    cent AS (
      SELECT label AS c_label, dim, CAST(sum(val) AS DOUBLE) / count(*) AS c
      FROM flat GROUP BY label, dim
    ),
    qflat AS (
      SELECT vec_id, label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
    ),
    scored AS (
      SELECT q.vec_id, q.label, c.c_label,
             round(1e-9 + sum(q.val * c.c), 6) AS dot
      FROM qflat q JOIN cent c ON q.dim = c.dim
      GROUP BY q.vec_id, q.label, c.c_label
    ),
    margins AS (
      SELECT vec_id, label,
             max(CASE WHEN label = c_label THEN dot END)
               - max(CASE WHEN label <> c_label THEN dot END) AS margin
      FROM scored GROUP BY vec_id, label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n,
           round(1e-9 + avg(margin), 6) AS avg_margin,
           round(1e-9 + CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS frac_separated
    FROM margins GROUP BY label ORDER BY label
    """,
    category="similarity",
    doc=(
        "Cluster-separation audit (silhouette-style margin): every vector's "
        "dot product to its own label centroid minus its best other-label "
        "centroid — the per-label average margin and the fraction of "
        "vectors on the right side of the boundary. Dots are rounded to "
        "6dp before the margin so the statistic is engine-stable. Scale "
        "shape: centroids aggregate on the (label, dim) shuffle key and "
        "the labels×dim centroid table broadcasts back into one scoring "
        "pass — two corpus scans total, no per-pair work."
    ),
)
def v07_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    flat = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
    ).select(F.col("label").alias("c_label"), (F.col("dim0") + 1).alias("dim"), "val")
    cent = flat.groupBy("c_label", "dim").agg(
        (F.sum("val").cast("double") / F.count("*")).alias("c")
    )
    qflat = emb.select(
        "vec_id", "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    scored = (
        qflat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.round(F.lit(1e-9) + F.sum(F.col("val") * F.col("c")), 6).alias("dot"))
    )
    margins = scored.groupBy("vec_id", "label").agg(
        (
            F.max(F.when(F.col("label") == F.col("c_label"), F.col("dot")))
            - F.max(F.when(F.col("label") != F.col("c_label"), F.col("dot")))
        ).alias("margin")
    )
    return (
        margins.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.lit(1e-9) + F.avg("margin"), 6).alias("avg_margin"),
            F.round(
                F.lit(1e-9)
                + F.sum(F.when(F.col("margin") > 0, 1).otherwise(0)).cast("double")
                / F.count("*"),
                4,
            ).alias("frac_separated"),
        )
        .transform(present_sorted, "label")
    )


@register(
    "v08_norm_audit",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    stats AS (
      SELECT CAST(label AS BIGINT) AS label,
             CAST(count(*) AS BIGINT) AS n,
             round(1e-9 + min(nrm), 6) AS min_norm,
             round(1e-9 + max(nrm), 6) AS max_norm,
             CAST(sum(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
             CAST(sum(CASE WHEN nrm >= 0.9 AND nrm <= 1.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unit_like
      FROM norms GROUP BY label
    )
    SELECT * FROM stats ORDER BY label
    """,
    category="similarity",
    doc=(
        "Embedding-norm audit per label: L2-norm range, near-zero "
        "(degenerate) vectors, and the unit-norm share — the sanity check "
        "run before any cosine-based pipeline (a zero vector makes cosine "
        "undefined; mixed norms mean someone forgot to normalize a "
        "shard). Norms via the same sequential fold both engines use "
        "everywhere; one scan, one label-keyed aggregate."
    ),
)
def v08_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    v = _as_double(F.col("embedding"))
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.lit(1e-9) + F.min("nrm"), 6).alias("min_norm"),
            F.round(F.lit(1e-9) + F.max("nrm"), 6).alias("max_norm"),
            F.sum(F.when(F.col("nrm") < 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_degenerate"),
            F.sum(F.when((F.col("nrm") >= 0.9) & (F.col("nrm") <= 1.1), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unit_like"),
        )
        .transform(present_sorted, "label")
    )


@register(
    "v09_centroid_similarity_matrix",
    oracle="""
    WITH flat AS (
      SELECT label, u.dim, u.val FROM embeddings,
        LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                        unnest(embedding::DOUBLE[]) AS val) u
    ),
    cent AS (
      SELECT label, dim, CAST(sum(val) AS DOUBLE) / count(*) AS c
      FROM flat GROUP BY label, dim
    ),
    norms AS (SELECT label, sum(c*c) AS n2 FROM cent GROUP BY label),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2)
    SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
           round(1e-9 + dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS centroid_cosine
    FROM dots JOIN norms na ON na.label = label_a JOIN norms nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
    category="similarity",
    doc=(
        "Inter-class separation report: pairwise cosine between label "
        "centroids — the labels×labels summary that tells you which "
        "classes an embedding space confuses (complements v07's "
        "within-vs-across margins). The centroid table is computed once "
        "on the (label, dim) shuffle key and locally checkpointed before "
        "its three references (two join sides + norms); everything "
        "downstream runs over labels×dims rows, never the corpus."
    ),
)
def v09_centroid_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    flat = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = (
        flat.groupBy("label", "dim")
        .agg((F.sum("val").cast("double") / F.count("*")).alias("c"))
        .localCheckpoint(eager=True)  # referenced 3x below: never rescan the corpus
    )
    norms = cent.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            F.round(
                F.lit(1e-9) + F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6
            ).alias("centroid_cosine"),
        )
        .transform(present_sorted, "label_a", "label_b")
    )


@register(
    "v10_distance_histogram",
    oracle="""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT round(1e-9 + list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cos
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
    b AS (SELECT least(greatest(CAST(floor((cos + 1.0) / 0.1) AS BIGINT), 0), 19)
            AS bucket FROM pairs)
    SELECT bucket, count(*) AS n_pairs FROM b GROUP BY bucket ORDER BY bucket
    """,
    category="similarity",
    doc=(
        "Pairwise cosine-distribution histogram (the hubness / collapse "
        "diagnostic: a healthy embedding space shows a broad unimodal "
        "spread, a collapsed one piles into the top buckets): all vector "
        "pairs' cosines, rounded with the shared convention then bucketed "
        "into 20 bins over [−1, 1]. The corpus is bounded (the embeddings "
        "table is fixed-size at every SF) so the all-pairs form is the "
        "exact oracle; at real scale the same histogram is estimated from "
        "a hash-sampled pair subset with identical bucketing."
    ),
)
def v10_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 11: the inequality self-join evaluated THREE interpreted
    # 64-dim `_dot` folds per pair (BroadcastNestedLoopJoin over ~2M pairs
    # → 46 s at sf0.1, the slowest entry in the whole registry by 4×).
    # Same s01 kernel pattern instead: the fixed-size matrix (the v10
    # contract — "the embeddings table is fixed-size at every SF"; real
    # scale estimates this histogram from a hash-sampled subset) is read
    # driver-side like s01's query set and closed over; the corpus scan
    # stays distributed, and each Arrow batch computes its rows' pairs
    # against the closed-over matrix with DIMENSION-SEQUENTIAL
    # accumulation — float64 adds in exactly the left-to-right order of
    # `_dot` / DuckDB's list_dot_product, so every raw cosine is
    # bit-identical to the old expression (numerator fold, per-side norm
    # fold, na*nb product, one division: same ops in the same order).
    # Rounding/bucketing/aggregation stay in the JVM, structurally
    # unchanged — the kernel only replaces pair enumeration + dot.
    # Round 12 (VERDICT r11 item 5): the driver-side matrix read goes
    # through session.read_table_arrow — the load_table path/override
    # conventions, a defensive row bound instead of an unbounded pull.
    # The matrix ships as a CLOSURE-captured ndarray (compact binary
    # pickle, one buffer): the first cut of this hardening used
    # sparkContext.broadcast of the id/vector LISTS, and the per-task
    # `bc.value` fetch + unpickle of ~128k Python floats measured 1.97 s
    # best / 4–9 s typical vs 1.19 s best for the closure ndarray in an
    # interleaved same-session A/B — a regression vs round 11, reverted.
    # Per-side norms precompute once driver-side with the SAME
    # dimension-sequential loop the kernel ran per task (identical adds,
    # identical doubles).
    from highs_duckdb_spark.session import read_table_arrow

    t = read_table_arrow(
        spark,
        "embeddings",
        sf_dir,
        columns=["vec_id", "embedding"],
        max_rows=_DRIVER_MATRIX_MAX_ROWS,
    ).sort_by("vec_id")
    id_arr = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    M = np.asarray(
        [[float(x) for x in v] for v in t["embedding"].to_pylist()],
        dtype=np.float64,
    )  # n × dim
    mn = np.zeros(M.shape[0])
    for _j in range(M.shape[1]):
        mn += M[:, _j] * M[:, _j]
    mn = np.sqrt(mn)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        n, dim = M.shape
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            dot = np.zeros((m, n))
            for j in range(dim):
                dot += V[:, j : j + 1] * M[None, :, j][0]
            nv = np.zeros(m)
            for j in range(dim):
                nv += V[:, j] * V[:, j]
            nv = np.sqrt(nv)
            cos = dot / (nv[:, None] * mn[None, :])
            ia = pdf["vec_id"].to_numpy()
            mask = ia[:, None] < id_arr[None, :]
            yield pd.DataFrame({"cos_raw": cos[mask]})

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    # The kernel's cost is O(rows × matrix) pair enumeration, not scan
    # bytes: a single-file demo corpus runs it on ONE task (measured
    # 6–16 s single-core at sf0.1 vs <1 s parallel). Spread to the
    # session's parallelism when (and only when) the scan is narrower —
    # the d13 discipline; a no-op on multi-file corpora. Result-identical:
    # every pair's cosine is computed from the same row/matrix values
    # whatever the partitioning, and the downstream bucket aggregation is
    # integer counts.
    target = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < target:
        emb = emb.repartition(target)
    raw = emb.mapInPandas(kernel, "cos_raw double")
    cos = F.round(F.lit(1e-9) + F.col("cos_raw"), 6)
    bucket = F.least(
        F.greatest(F.floor((cos + 1.0) / 0.1).cast("bigint"), F.lit(0)), F.lit(19)
    )
    return (
        raw.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .transform(present_sorted, "bucket")
    )


@register(
    "v11_alignment_uniformity",
    oracle="""
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 500
    ),
    pairs AS (
      SELECT a.label AS la, b.label AS lb,
             2 - 2 * list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS d2
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE la = lb) AS BIGINT) AS n_pos_pairs,
           round(1e-9 + avg(d2) FILTER (WHERE la = lb), 6) AS alignment,
           round(1e-9 + ln(avg(exp(-2 * d2))), 6) AS uniformity
    FROM pairs
    """,
    category="vectors",
    doc=(
        "Contrastive-representation diagnostics (Wang & Isola 2020): "
        "ALIGNMENT = mean squared distance between normalized same-label "
        "pairs (how tightly classes cluster), UNIFORMITY = log of the "
        "mean Gaussian-kernel value over ALL pairs (how evenly the "
        "hypersphere is covered) — the two-number health check run on an "
        "embedding model before committing a corpus-wide re-embed. "
        "Bounded evaluation set (vec_id < 500, the s03 convention) so the "
        "pair matrix is fixed-size at any corpus scale; the cast table is "
        "checkpointed once and self-joined on the bounded key. d^2 = "
        "2 - 2cos uses the same JVM fold that bit-matches DuckDB's "
        "list_dot_product; both engines aggregate ~125k pair terms, "
        "where last-ulp libm differences stay ~9 orders below the "
        "round(6) reporting precision."
    ),
)
def v11_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 11: same fix as v10 — the inequality self-join evaluated three
    # interpreted 64-dim folds per pair (125k bounded pairs, 2.9 s at
    # sf0.1). The bounded evaluation set (vec_id < 500, the s03/s01 query
    # convention) is read driver-side and closed over; each Arrow batch of
    # the distributed scan emits its rows' raw pair d2 values with
    # dimension-sequential accumulation, bit-identical to the old
    # `2 − 2·dot/(na·nb)` expression (same add order, same product, same
    # division). Pair predicate (ia < ib) and ALL aggregation semantics
    # stay in the JVM unchanged. Round 12: driver read through
    # session.read_table_arrow (override-aware, bounded); the matrix
    # ships as a closure-captured ndarray, NOT a sparkContext.broadcast —
    # the per-task bc.value unpickle of Python-float lists measured
    # 1.6–7× slower in the interleaved A/B (see v10).
    from highs_duckdb_spark.session import read_table_arrow

    t = read_table_arrow(
        spark,
        "embeddings",
        sf_dir,
        columns=["vec_id", "label", "embedding"],
        filters=[("vec_id", "<", 500)],
        max_rows=_DRIVER_MATRIX_MAX_ROWS,
    ).sort_by("vec_id")
    id_arr = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    lab_arr = np.asarray(t["label"].to_pylist())
    M = np.asarray(
        [[float(x) for x in v] for v in t["embedding"].to_pylist()],
        dtype=np.float64,
    )
    mn = np.zeros(M.shape[0])
    for _j in range(M.shape[1]):
        mn += M[:, _j] * M[:, _j]
    mn = np.sqrt(mn)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        n, dim = M.shape
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            dot = np.zeros((m, n))
            for j in range(dim):
                dot += V[:, j : j + 1] * M[None, :, j][0]
            nv = np.zeros(m)
            for j in range(dim):
                nv += V[:, j] * V[:, j]
            nv = np.sqrt(nv)
            d2 = 2.0 - 2.0 * dot / (nv[:, None] * mn[None, :])
            ia = pdf["vec_id"].to_numpy()
            la = pdf["label"].to_numpy()
            mask = ia[:, None] < id_arr[None, :]
            ri, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {"pos": la[ri] == lab_arr[ci], "d2": d2[ri, ci]}
            )

    from highs_duckdb_spark.operators.similarity import _as_double

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") < 500)
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    )
    return (
        emb.mapInPandas(kernel, "pos boolean, d2 double")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("n_pos_pairs"),
            F.round(F.lit(1e-9) + F.avg(F.when(F.col("pos"), F.col("d2"))), 6).alias(
                "alignment"
            ),
            F.round(
                F.lit(1e-9) + F.log(F.avg(F.exp(F.lit(-2.0) * F.col("d2")))), 6
            ).alias("uniformity"),
        )
    )
