"""Distributed dense linear algebra over embedding columns
(beyond-reference extension): single-pass covariance / Gram moments
and PCA built on them.

The 100 TB shape: one ``mapInPandas`` pass turns each Arrow batch of
vectors into ONE fixed-size moment row — count, per-dim sums, and the
full d×d Gram (``Xᵀ·X``, a single BLAS matmul per batch) flattened to
``1 + d + d²`` doubles. Everything after that is Catalyst over
O(batches) rows: posexplode → one tiny hash aggregation (shuffle
bytes are ``batches × (1+d+d²) × 8`` — independent of row count) →
a single pidx→sum map row from which every covariance entry is
computed (no joins — see covariance_long's docstring). No raw vector
ever crosses an exchange, so the plan's network cost is constant in
n, exactly like the dhdt regression's moment aggregation.

PCA reuses the same moments: the reduced covariance collapses to a
d×d driver-side matrix (fixed size, like k-means centroids), numpy
``eigh`` factors it, and the projection is a map-only Catalyst
``aggregate(zip_with(...))`` against literal component vectors — the
projection stage shuffles nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _moment_rows(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """One row per Arrow batch: moments = [n, s_0..s_{d-1}, G_00..G_{dd}]
    (length 1 + d + d²); counts are exact in double below 2^53."""
    import numpy as np
    import pandas as pd

    d = int(dims)

    def gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != d:
                raise ValueError(
                    f"expected {d}-dim vectors, got {x.shape[1]}"
                )
            m = np.concatenate(
                ([float(len(pdf))], x.sum(axis=0), (x.T @ x).ravel())
            )
            yield pd.DataFrame({"m": [m.tolist()]})

    return df.select(F.col(vec_col).alias(vec_col)).mapInPandas(
        gram, schema="m array<double>"
    )


def _reduced_moments(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """(pidx, msum): element-wise sum of the per-batch moment rows —
    the one (tiny) exchange of the whole covariance computation."""
    return (
        _moment_rows(df, vec_col, dims)
        .select(F.posexplode("m").alias("pidx", "mval"))
        .groupBy("pidx")
        .agg(F.sum("mval").alias("msum"))
    )


def covariance_long(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Population covariance of the vector dims, long form (i, j, cov)
    for i ≤ j, via cov_ij = (G_ij − s_i·s_j/n)/n over the single-pass
    moments. Rounded to ``decimals`` (the assembled-from-sums formula
    and a streaming co-moment pass differ in final ulps).

    Plan shape (asserted in tests/test_plans.py): the data is read
    ONCE — the reduced (pidx, msum) rows collapse to a single
    pidx→sum map row, and every covariance entry is computed from
    that one row by exploding the literal d² index grid. A join-based
    assembly would re-execute the whole moment pass once per joined
    branch (Spark does not share un-fenced subplans), turning a
    one-pass algorithm into four passes at 100 TB."""
    d = int(dims)
    packed = _reduced_moments(df, vec_col, d).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pidx", "msum")))
        ).alias("mm")
    )

    def entry(t):
        mm = lambda key: F.element_at(F.col("mm"), key)  # noqa: E731
        i = F.floor(t / d).cast("int")
        j = (t % d).cast("int")
        n = mm(F.lit(0))
        cov = (mm(t + 1 + d) - mm(i + 1) * mm(j + 1) / n) / n
        # + 0.0 folds IEEE -0.0 to +0.0 (DuckDB's round keeps the
        # sign on doubles, Spark's drops it — normalize both)
        return F.struct(
            i.alias("i"),
            j.alias("j"),
            (F.round(cov, decimals) + F.lit(0.0)).alias("cov"),
        )

    entries = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(d * d - 1)), entry),
        lambda s: s["i"] <= s["j"],
    )
    return (
        packed.filter(F.size(F.col("mm")) > 0)  # empty input → 0 rows
        .select(F.explode(entries).alias("e"))
        .select("e.i", "e.j", "e.cov")
    )


def covariance_matrix(df: DataFrame, vec_col: str = "embedding", dims: int = 64):
    """The same moments collapsed driver-side to (n, mean[d], cov[d,d])
    numpy values — the fixed-size collect PCA needs (d² doubles,
    independent of row count, the k-means-centroid pattern)."""
    import numpy as np

    d = int(dims)
    rows = _reduced_moments(df, vec_col, d).collect()
    m = np.zeros(1 + d + d * d)
    for r in rows:
        m[r["pidx"]] = r["msum"]
    n = m[0]
    if n <= 0:
        raise ValueError("covariance_matrix: empty input")
    s = m[1 : 1 + d]
    g = m[1 + d :].reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def pca_components(
    df: DataFrame, vec_col: str = "embedding", dims: int = 64, k: int = 2
):
    """Top-k principal components from the distributed covariance.

    Returns (components: k×d ndarray, explained_variance: k ndarray,
    mean: d ndarray). Deterministic sign: each component's
    largest-|coefficient| entry is made positive (eigh's sign is
    otherwise arbitrary)."""
    import numpy as np

    _, mean, cov = covariance_matrix(df, vec_col, dims)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in comps:
        pivot = np.argmax(np.abs(c))
        if c[pivot] < 0:
            c *= -1.0
    return comps, vals[order], mean


def project_expr(vec_col: str, weights, center=None) -> Column:
    """Catalyst dot product of ``vec_col`` against a literal weight
    vector (optionally mean-centered): map-only, codegen, no Python in
    the projection path."""
    w = ", ".join(f"{float(x)!r}D" for x in weights)
    if center is None:
        return F.expr(
            f"aggregate(zip_with({vec_col}, array({w}), "
            f"(x, y) -> cast(x as double) * y), 0.0D, (a, v) -> a + v)"
        )
    c = ", ".join(f"{float(x)!r}D" for x in center)
    return F.expr(
        f"aggregate(zip_with(zip_with({vec_col}, array({c}), "
        f"(x, m) -> cast(x as double) - m), array({w}), "
        f"(x, y) -> x * y), 0.0D, (a, v) -> a + v)"
    )


def pca_project(
    df: DataFrame,
    components,
    mean=None,
    vec_col: str = "embedding",
    out_prefix: str = "pc",
) -> DataFrame:
    """Append pc0..pc{k-1} projection columns (map-only stage)."""
    out = df
    for idx, comp in enumerate(components):
        out = out.withColumn(
            f"{out_prefix}{idx}", project_expr(vec_col, comp, mean)
        )
    return out


def _grouped_moment_rows(
    df: DataFrame, group_col: str, vec_col: str, dims: int
) -> DataFrame:
    """One row per (Arrow batch, group): diagonal moments
    [n, Σx (d), Σx² (d)] — length 1 + 2d. The grouped analogue of
    ``_moment_rows`` for per-slice mean/variance (drift detection);
    the full Gram is omitted since drift stats only need the
    diagonal."""
    import numpy as np
    import pandas as pd

    d = int(dims)

    def gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_g, out_m = [], []
            for gval, sub in pdf.groupby(group_col, sort=False):
                x = np.vstack(sub[vec_col].to_numpy()).astype(np.float64)
                if x.shape[1] != d:
                    raise ValueError(f"expected {d}-dim vectors, got {x.shape[1]}")
                out_g.append(gval)
                out_m.append(
                    np.concatenate(
                        ([float(len(sub))], x.sum(axis=0), (x * x).sum(axis=0))
                    ).tolist()
                )
            yield pd.DataFrame({"grp": out_g, "m": out_m})

    return (
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(vec_col).alias(vec_col),
        )
        # pandas groupby drops null keys silently — make the contract
        # explicit: null-group rows are excluded from every slice
        .filter(F.col(group_col).isNotNull())
        .mapInPandas(gram, schema="grp string, m array<double>")
    )


def drift_per_dim(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    vec_col: str = "embedding",
    dims: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Per-dimension dataset-shift statistics between two corpus
    slices: (i, mean_a, mean_b, var_a, var_b, smd) where smd is the
    standardized mean difference (mean_a − mean_b)/√((var_a+var_b)/2)
    — the per-dim component of a Fréchet-style embedding-drift check.

    Same one-pass plan as ``covariance_long``: each Arrow batch emits
    one (group, [n, Σx, Σx²]) moment row, a (grp, pidx) reduce and a
    group→map pack collapse to ONE map-of-maps row, and every output
    dim is computed from that row — the data is read once, no joins.
    smd derives from the ROUNDED means/vars so both engines evaluate
    the identical double expression."""
    d = int(dims)
    red = (
        _grouped_moment_rows(df, group_col, vec_col, d)
        .select("grp", F.posexplode("m").alias("pidx", "mval"))
        .groupBy("grp", "pidx")
        .agg(F.sum("mval").alias("msum"))
    )
    packed = (
        red.groupBy("grp")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("pidx", "msum")))
            ).alias("mm")
        )
        .agg(
            F.map_from_entries(F.collect_list(F.struct("grp", "mm"))).alias("gm")
        )
    )

    def entry(i):
        def stats(gname):
            mm = F.element_at(F.col("gm"), F.lit(gname))
            n = F.element_at(mm, F.lit(0))
            mean = F.round(F.element_at(mm, i + 1) / n, decimals) + F.lit(0.0)
            var = (
                F.round(
                    F.element_at(mm, i + 1 + d) / n
                    - (F.element_at(mm, i + 1) / n) ** 2,
                    decimals,
                )
                + F.lit(0.0)
            )
            return mean, var

        mean_a, var_a = stats(group_a)
        mean_b, var_b = stats(group_b)
        # try_divide: a dim whose rounded pooled variance is 0 (an
        # exactly-constant or <5e-7-variance dim) must yield NULL like
        # the DuckDB oracle's x/0.0 — plain division THROWS under the
        # session's ANSI mode
        smd = (
            F.round(
                F.try_divide(mean_a - mean_b, F.sqrt((var_a + var_b) / 2)),
                decimals,
            )
            + F.lit(0.0)
        )
        return F.struct(
            i.cast("int").alias("i"),
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            var_a.alias("var_a"),
            var_b.alias("var_b"),
            smd.alias("smd"),
        )

    entries = F.transform(F.sequence(F.lit(0), F.lit(d - 1)), entry)
    return (
        packed.filter(
            F.element_at(F.col("gm"), F.lit(group_a)).isNotNull()
            & F.element_at(F.col("gm"), F.lit(group_b)).isNotNull()
        )
        .select(F.explode(entries).alias("e"))
        .select("e.i", "e.mean_a", "e.mean_b", "e.var_a", "e.var_b", "e.smd")
    )


def frechet_distance(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    vec_col: str = "embedding",
    dims: int = 64,
) -> float:
    """Fréchet distance between the Gaussian fits of two corpus
    slices — the FID-style scalar drift metric:
    ``|μ_a−μ_b|² + tr(C_a + C_b − 2(C_a·C_b)^½)``.

    Each slice's (mean, covariance) comes from the one-pass moment
    plan (``covariance_matrix``), so the distributed cost is two data
    passes with constant-size shuffles; the matrix square root runs on
    the driver over d×d symmetric matrices via eigh (clipping the
    tiny negative eigenvalues float error produces — both C and
    S·C_b·S are PSD up to rounding)."""
    import numpy as np

    def psd_sqrtm(m):
        w, v = np.linalg.eigh((m + m.T) / 2.0)
        return (v * np.sqrt(np.clip(w, 0.0, None))) @ v.T

    _, mu_a, cov_a = covariance_matrix(
        df.filter(F.col(group_col) == group_a), vec_col, dims
    )
    _, mu_b, cov_b = covariance_matrix(
        df.filter(F.col(group_col) == group_b), vec_col, dims
    )
    s = psd_sqrtm(cov_a)
    cross = psd_sqrtm(s @ cov_b @ s)  # tr((C_a·C_b)^½) = tr((S·C_b·S)^½)
    d2 = float(
        ((mu_a - mu_b) ** 2).sum()
        + np.trace(cov_a)
        + np.trace(cov_b)
        - 2.0 * np.trace(cross)
    )
    return max(d2, 0.0)  # float error can dip an identical-pair below 0
