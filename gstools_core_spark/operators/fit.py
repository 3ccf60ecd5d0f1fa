"""Variogram model fitting + conditional field simulation.

Closes the standard GSTools workflow on the Spark engine:

    estimate (variogram_unstructured)  →  fit (this module)
      →  krige (operators/kriging)     →  conditional field (this module)

Fitting runs on the DRIVER on purpose: the empirical variogram is nbins
rows — the distributed work is producing it; fitting it is a tiny weighted
least-squares problem (reference users call scipy's curve_fit in GSTools;
this environment has no scipy, so the solver below is a grid + golden-
section search over len_scale with the (var, nugget) subproblem solved in
closed form — for fixed len_scale the variogram model
γ(h) = nugget + var·(1 − cor(h/ls)) is LINEAR in (var, nugget)).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gstools_core_spark.functions.models import CovModel
from gstools_core_spark.operators.kriging import krige


def _weighted_linear_fit(one_minus_cor, gamma, w, fit_nugget):
    """min_w Σ w·(nugget + var·a − γ)², var ≥ 0, nugget ≥ 0 (closed form)."""
    a = one_minus_cor
    if fit_nugget:
        sw, swa, swaa = w.sum(), (w * a).sum(), (w * a * a).sum()
        swg, swag = (w * gamma).sum(), (w * a * gamma).sum()
        det = sw * swaa - swa * swa
        if abs(det) < 1e-300:
            var, nug = 0.0, max(float(swg / max(sw, 1e-300)), 0.0)
        else:
            var = (sw * swag - swa * swg) / det
            nug = (swaa * swg - swa * swag) / det
        if var < 0.0 or nug < 0.0:
            # the constrained optimum lies on a boundary — solve BOTH
            # single-parameter boundary fits and keep the lower SSE
            # (forcing nug=0 when var<0 inverts the right answer: a
            # decreasing variogram wants var=0, nug=weighted mean)
            var_b = max(float(swag / max(swaa, 1e-300)), 0.0)  # nug = 0
            nug_b = max(float(swg / max(sw, 1e-300)), 0.0)  # var = 0
            r1 = var_b * a - gamma
            r2 = nug_b - gamma
            if float((w * r1 * r1).sum()) <= float((w * r2 * r2).sum()):
                var, nug = var_b, 0.0
            else:
                var, nug = 0.0, nug_b
    else:
        var = max(float((w * a * gamma).sum() / max((w * a * a).sum(), 1e-300)), 0.0)
        nug = 0.0
    resid = nug + var * a - gamma
    return float(var), float(nug), float((w * resid * resid).sum())


def fit_variogram(
    vario: DataFrame | tuple,
    model_cls: type[CovModel],
    fit_nugget: bool = True,
    **model_kwargs,
) -> CovModel:
    """Fit ``model_cls`` to an empirical variogram → fitted model instance.

    ``vario``: the output of variogram_unstructured (columns bin_id, lo,
    hi, gamma, counts) or a (h, gamma, counts) tuple of arrays.  Weighted
    least squares with weights = pair counts (empty bins drop out);
    bin center = (lo+hi)/2.  ``model_kwargs`` pass shape parameters
    (e.g. nu=1.5, alpha=1.2) through to the model.
    """
    if isinstance(vario, DataFrame):
        rows = (
            vario.where(F.col("counts") > 0)
            .select(((F.col("lo") + F.col("hi")) / 2.0).alias("h"), "gamma", "counts")
            .collect()
        )
        h = np.array([r["h"] for r in rows])
        gamma = np.array([r["gamma"] for r in rows])
        w = np.array([float(r["counts"]) for r in rows])
    else:
        h, gamma, w = (np.asarray(v, dtype=np.float64) for v in vario)
        keep = w > 0
        h, gamma, w = h[keep], gamma[keep], w[keep]
    if len(h) < 2:
        raise ValueError("need at least 2 non-empty bins to fit")

    probe = model_cls(var=1.0, len_scale=1.0, nugget=0.0, **model_kwargs)

    def sse_at(ls: float):
        a = 1.0 - probe.cor(h / ls)
        return _weighted_linear_fit(a, gamma, w, fit_nugget)

    # log-spaced grid over plausible length scales, then golden-section.
    # A zero-lag bin (h = 0, GSTools-style) stays in the weighted fit
    # (it informs the nugget) but must not drive the log grid — log(0)
    # would raise
    hpos = h[h > 0]
    if len(hpos) == 0:
        raise ValueError("need at least one bin with positive lag to fit")
    lo, hi = float(hpos.min()) / 4.0, float(hpos.max()) * 4.0
    grid = np.exp(np.linspace(math.log(lo), math.log(hi), 60))
    best_ls = min(grid, key=lambda ls: sse_at(float(ls))[2])
    gl, gh = best_ls / 1.6, best_ls * 1.6
    invphi = (math.sqrt(5.0) - 1.0) / 2.0
    a_, b_ = math.log(gl), math.log(gh)
    c_ = b_ - invphi * (b_ - a_)
    d_ = a_ + invphi * (b_ - a_)
    for _ in range(40):
        if sse_at(math.exp(c_))[2] < sse_at(math.exp(d_))[2]:
            b_, d_ = d_, c_
            c_ = b_ - invphi * (b_ - a_)
        else:
            a_, c_ = c_, d_
            d_ = a_ + invphi * (b_ - a_)
    ls = math.exp((a_ + b_) / 2.0)
    var, nugget, _ = sse_at(ls)
    return model_cls(var=var, len_scale=ls, nugget=nugget, **model_kwargs)


def conditional_field(
    targets: DataFrame,
    cond: DataFrame,
    model: CovModel,
    cov_samples: np.ndarray,
    z1: np.ndarray,
    z2: np.ndarray,
    radius: float,
    target_id: str = "id",
    coords: tuple = ("x", "y"),
    cond_val: str = "val",
    max_cond: int = 512,
) -> DataFrame:
    """Conditional simulation: an unconditional randomization-method field
    bent through the conditioning values (the classic kriging-residual
    construction GSTools calls CondSRF):

        cond_field(x) = u(x) + krige[cond_val − u(cond)](x)

    At conditioning locations the kriged residual reproduces the residual
    exactly (nugget=0), so the simulated field honors the data; away from
    them it has the model's spatial structure.  Entirely a composition of
    the engine's distributed operators — summate (mapInPandas, no shuffle)
    and krige (cogrouped applyInArrow) — so it scales like they do.
    Returns (id, x, y, cond_field, krige_var, n_cond).
    """
    from gstools_core_spark.operators.field import summate_field

    xc, yc = coords
    # u at conditioning points → residuals to krige
    u_c = summate_field(cond, cov_samples, z1, z2, id_col=target_id, coords=coords)
    cond_resid = (
        cond.join(u_c, target_id)
        .select(
            F.col(target_id),
            F.col(xc),
            F.col(yc),
            (F.col(cond_val) - F.col("u")).alias("val"),
        )
    )
    kriged = krige(
        targets, cond_resid, model, radius=radius, target_id=target_id,
        coords=coords, cond_val="val", method="ordinary", max_cond=max_cond,
    )
    u_t = summate_field(targets, cov_samples, z1, z2, id_col=target_id, coords=coords)
    return (
        kriged.join(u_t, target_id)
        .select(
            F.col(target_id),
            F.col(xc),
            F.col(yc),
            (F.col("u") + F.col("krige_mean")).alias("cond_field"),
            "krige_var",
            "n_cond",
        )
    )
