"""Embedding-matrix transforms: PCA projection / whitening.

The dimensionality-reduction step a large-scale curation pipeline runs
before semantic dedup or clustering (SemDeDup-style pipelines project
to a small PCA basis first; whitening makes cosine thresholds
comparable across dimensions). Spark ML's ``PCA`` fits via a
distributed Gramian — one pass of partial outer-products per executor,
a k×d driver-side eigensolve of the d×d Gramian — so the FIT is
corpus-scan-bounded and the PROJECTION is a narrow map, both fine at
100 TB for the d ≤ a-few-thousand embeddings this targets (the d×d
Gramian must fit on the driver, which is the standard constraint).

Not registered as an oracle query: an eigendecomposition is not
SQL-expressible, and the basis is only defined up to sign/rotation in
degenerate eigenvalue cases — the test pins subspace agreement with
numpy instead (`tests/test_embedding_pca.py`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass
class PcaResult:
    projected: DataFrame  # exactly (id_col, proj: array<double>)
    components: list[list[float]]  # k rows, each a d-dim principal axis
    explained_variance: list[float]  # length k, descending


def pca_project(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    center: bool = True,
) -> PcaResult:
    """Fit PCA on the embedding column and project every vector.

    ``center=True`` subtracts the column mean first (Spark ML's PCA
    does NOT center, which silently makes the first component point at
    the mean for uncentered corpora — the classic footgun). The mean
    comes from ONE aggregate (posexplode → per-index avg, map-side
    combined to d partial rows per partition) that also yields the
    dimensionality d = number of result rows — no separate
    ``first()`` probe job, and an empty input raises a clear error
    instead of a ``TypeError`` on ``None``.
    """
    from pyspark.ml.feature import PCA as MlPca
    from pyspark.ml.functions import array_to_vector, vector_to_array

    work = emb.select(id_col, F.col(vec_col).cast("array<double>").alias("x"))
    if center:
        mean_rows = (
            work.select(F.posexplode("x").alias("i", "v"))
            .groupBy("i")
            .agg(F.avg("v").alias("m"))
            .orderBy("i")
            .collect()
        )
        if not mean_rows:
            raise ValueError(
                "pca_project(center=True): input has no rows (or empty "
                f"'{vec_col}' arrays); nothing to center or fit"
            )
        mean_arr = F.array(*[F.lit(float(r["m"])) for r in mean_rows])
        work = work.select(
            id_col,
            F.zip_with("x", mean_arr, lambda a, b: a - b).alias("x"),
        )
    feats = work.select(id_col, array_to_vector("x").alias("fx"))
    model = MlPca(k=k, inputCol="fx", outputCol="px").fit(feats)
    projected = model.transform(feats).select(
        id_col, vector_to_array("px").alias("proj")
    )
    comps = model.pc.toArray()  # d x k
    return PcaResult(
        projected=projected,
        components=[[float(comps[r][c]) for r in range(comps.shape[0])]
                    for c in range(comps.shape[1])],
        explained_variance=[float(v) for v in model.explainedVariance],
    )
