"""Pure-numpy batch kernels — the single source of truth reused inside every UDF.

These are *re-derivations* of the GSTools-Core kernel semantics (reference:
/root/reference/src/{variogram,field,krige}.rs) as vectorized numpy batch
functions, NOT translations of the rayon loop structure.  Shapes follow the
reference conventions:

* ``pos``  — ``(d, n)`` dimension-major position matrix (variogram.rs:303-304)
* ``f``    — ``(nf, n)`` field rows (variogram.rs:299-300)
* ``bin_edges`` — length ``nbins+1``, half-open bins ``[lo, hi)``
  (variogram.rs:517-519)
* masks — ``True`` means *excluded* (variogram.rs:220-223)

Estimators (variogram.rs:41-65):
  Matheron:  estimate = (Δf)²,         normalize v/(2·max(c,1))
  Cressie:   estimate = sqrt(|Δf|),    normalize 0.5·(v/c)⁴/(0.457+0.494/c+0.045/c²)

Distances (variogram.rs:90-123):
  Euclid     — sqrt(Σ Δx²), any dim
  Haversine  — central angle in *radians* (no Earth-radius scaling);
               pos[0]=lat, pos[1]=lon in degrees; dim must be 2.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "estimate",
    "normalize",
    "euclid_dist",
    "haversine_dist",
    "dir_test",
    "variogram_structured",
    "variogram_ma_structured",
    "variogram_unstructured",
    "variogram_directional",
    "summate",
    "summate_incompr",
    "summate_fourier",
    "calc_field_krige",
    "calc_field_krige_and_variance",
]


# ---------------------------------------------------------------------------
# estimator micro-ops (variogram.rs:41-65)
# ---------------------------------------------------------------------------

def estimate(f_diff: np.ndarray, estimator: str = "m") -> np.ndarray:
    """Per-pair estimator term. 'm' Matheron → diff², 'c' Cressie → sqrt(|diff|)."""
    if estimator == "c":
        return np.sqrt(np.abs(f_diff))
    return f_diff * f_diff


def normalize(value: np.ndarray, count: np.ndarray, estimator: str = "m") -> np.ndarray:
    """Bin normalization; count==0 is guarded to 1 (variogram.rs:48-51, 61-64)."""
    value = np.asarray(value, dtype=np.float64)
    cf = np.where(np.asarray(count) == 0, 1.0, np.asarray(count, dtype=np.float64))
    if estimator == "c":
        return 0.5 * (value / cf) ** 4 / (0.457 + 0.494 / cf + 0.045 / (cf * cf))
    return value / (2.0 * cf)


# ---------------------------------------------------------------------------
# distance micro-ops (variogram.rs:90-123)
# ---------------------------------------------------------------------------

def euclid_dist(pos_a: np.ndarray, pos_b: np.ndarray) -> np.ndarray:
    """Euclidean distance between column-stacked points ``(d, m)`` vs ``(d, m)``.

    Uses plain mul/add/sqrt (no pow) so results are bitwise-stable across
    engines — important because bin boundaries are half-open.
    """
    diff = np.asarray(pos_a, dtype=np.float64) - np.asarray(pos_b, dtype=np.float64)
    return np.sqrt(np.sum(diff * diff, axis=0))


def haversine_dist(pos_a: np.ndarray, pos_b: np.ndarray) -> np.ndarray:
    """Great-circle central angle in RADIANS (variogram.rs:107-118).

    ``pos[0]`` = latitude, ``pos[1]`` = longitude, both in degrees.
    """
    lat1, lat2 = np.radians(pos_a[0]), np.radians(pos_b[0])
    # radians(Δdegrees), matching variogram.rs:109 and functions/distance.py
    # operation order exactly — radians(a)-radians(b) differs by 1 ulp and
    # can flip half-open bin membership at an exact bin edge.
    dlat = np.radians(pos_a[0] - pos_b[0])
    dlon = np.radians(pos_a[1] - pos_b[1])
    sdlat = np.sin(dlat / 2.0)
    sdlon = np.sin(dlon / 2.0)
    # clamp: rounding can push arg one ulp above 1 for near-antipodal
    # pairs (sqrt(1-arg) = NaN); same least/minimum clamp in
    # functions/distance.py (Spark and oracle SQL) — all engines bitwise-match
    arg = np.minimum(
        sdlat * sdlat + np.cos(lat1) * np.cos(lat2) * sdlon * sdlon, 1.0
    )
    return 2.0 * np.arctan2(np.sqrt(arg), np.sqrt(1.0 - arg))


def haversine_dist_coslat(
    pos_a: np.ndarray,
    pos_b: np.ndarray,
    cos_a: np.ndarray,
    cos_b: np.ndarray,
) -> np.ndarray:
    """:func:`haversine_dist` with the per-POINT ``cos(radians(lat))``
    factors precomputed by the caller (``cos_x = np.cos(np.radians(lat_x))``
    broadcast to the pair shape).

    Bitwise identical to haversine_dist: the cosine is a per-point
    quantity evaluated per PAIR there — hoisting it runs the same ufunc on
    the same inputs once per point instead of once per pair, and every
    remaining operation keeps the exact operand order
    (``sdlat² + ((cos_a·cos_b)·sdlon)·sdlon``, left-associated).  On the
    kriging neighborhood blocks the two trig evaluations per pair were
    ~69% of the Python-worker time (round-6 UDF profile); this removes
    the O(pairs) share of them.  Pinned bitwise-equal in
    tests/test_property_kernels.py."""
    dlat = np.radians(pos_a[0] - pos_b[0])
    dlon = np.radians(pos_a[1] - pos_b[1])
    sdlat = np.sin(dlat / 2.0)
    sdlon = np.sin(dlon / 2.0)
    arg = np.minimum(sdlat * sdlat + cos_a * cos_b * sdlon * sdlon, 1.0)
    return 2.0 * np.arctan2(np.sqrt(arg), np.sqrt(1.0 - arg))


def dir_test(
    direction: np.ndarray,
    diff: np.ndarray,
    dist: np.ndarray,
    angles_tol: float,
    bandwidth: float,
) -> np.ndarray:
    """Vectorized direction-cone test (variogram.rs:243-291).

    ``direction`` — ``(d,)`` unit vector; ``diff`` — ``(d, m)`` = pos_i - pos_j;
    ``dist`` — ``(m,)``.  Returns boolean pass mask.  Semantics:
      * s = diff·dir (signed projection)
      * bandwidth>0: reject when ‖diff − s·dir‖ ≥ bandwidth
      * dist>0: angle = |s|/dist; if angle<1 and acos(angle) ≥ angles_tol → reject
      * dist==0 always passes (repeating points)
    """
    direction = np.asarray(direction, dtype=np.float64)
    s_prod = np.einsum("d,dm->m", direction, diff)
    passed = np.ones(dist.shape, dtype=bool)
    if bandwidth > 0.0:
        resid = diff - s_prod[None, :] * direction[:, None]
        b_dist = np.sqrt(np.sum(resid * resid, axis=0))
        passed &= b_dist < bandwidth
    nz = dist > 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        angle = np.where(nz, np.abs(s_prod) / np.where(nz, dist, 1.0), 0.0)
    # angle >= 1 → same direction (numerical guard) → accept
    reject = nz & (angle < 1.0) & (np.arccos(np.clip(angle, -1.0, 1.0)) >= angles_tol)
    passed &= ~reject
    return passed


# ---------------------------------------------------------------------------
# structured-grid variograms (variogram.rs:136-241)
# ---------------------------------------------------------------------------

def variogram_structured(f: np.ndarray, estimator: str = "m") -> np.ndarray:
    """Empirical variogram by axis-0 lag on a structured grid.

    ``f`` — ``(nx, ny)``; output ``(nx,)`` with γ[0] = 0
    (variogram.rs:136-176).
    """
    f = np.asarray(f, dtype=np.float64)
    size = f.shape[0]
    gamma = np.zeros(size, dtype=np.float64)
    for k in range(1, size):
        diff = f[: size - k] - f[k:]
        val = float(np.sum(estimate(diff, estimator)))
        gamma[k] = normalize(val, diff.size, estimator)
    return gamma


def variogram_ma_structured(
    f: np.ndarray, mask: np.ndarray, estimator: str = "m"
) -> np.ndarray:
    """Masked structured variogram; a pair is skipped when EITHER endpoint is
    masked (``True`` = excluded, variogram.rs:220-223)."""
    f = np.asarray(f, dtype=np.float64)
    mask = np.asarray(mask, dtype=bool)
    size = f.shape[0]
    gamma = np.zeros(size, dtype=np.float64)
    for k in range(1, size):
        keep = ~(mask[: size - k] | mask[k:])
        diff = (f[: size - k] - f[k:])[keep]
        val = float(np.sum(estimate(diff, estimator)))
        gamma[k] = normalize(val, diff.size, estimator)
    return gamma


# ---------------------------------------------------------------------------
# unstructured variograms (variogram.rs:315-545)
# ---------------------------------------------------------------------------

def _pair_indices(n: int) -> tuple[np.ndarray, np.ndarray]:
    return np.triu_indices(n, k=1)


def variogram_unstructured(
    f: np.ndarray,
    bin_edges: np.ndarray,
    pos: np.ndarray,
    estimator: str = "m",
    distance: str = "e",
) -> tuple[np.ndarray, np.ndarray]:
    """All-pairs (i<j) binned empirical variogram (variogram.rs:465-545).

    ``f`` — ``(nf, n)``; multi-field rows all accumulate into the same bin cell
    AND the same count (variogram.rs:521-529), so γ_multi = mean of per-field γ.
    NaN diffs are skipped.  Returns ``(gamma (nbins,), counts (nbins,) int64)``.
    """
    f = np.atleast_2d(np.asarray(f, dtype=np.float64))
    pos = np.asarray(pos, dtype=np.float64)
    bin_edges = np.asarray(bin_edges, dtype=np.float64)
    nbins = len(bin_edges) - 1
    if distance != "e" and pos.shape[0] != 2:
        raise ValueError(f"Haversine: dim = {pos.shape[0]} != 2")

    ii, jj = _pair_indices(pos.shape[1])
    dist_fn = euclid_dist if distance == "e" else haversine_dist
    dist = dist_fn(pos[:, ii], pos[:, jj])

    in_range = (dist >= bin_edges[0]) & (dist < bin_edges[-1])
    # half-open [lo, hi): searchsorted(right) gives bin index
    bin_idx = np.searchsorted(bin_edges, dist[in_range], side="right") - 1
    fd = f[:, ii[in_range]] - f[:, jj[in_range]]  # (nf, m)
    valid = ~np.isnan(fd)
    est = np.where(valid, estimate(np.nan_to_num(fd), estimator), 0.0)

    gamma = np.zeros(nbins, dtype=np.float64)
    counts = np.zeros(nbins, dtype=np.int64)
    for row in range(f.shape[0]):
        gamma += np.bincount(bin_idx, weights=est[row], minlength=nbins)[:nbins]
        counts += np.bincount(bin_idx, weights=valid[row], minlength=nbins)[:nbins].astype(np.int64)
    return normalize(gamma, counts, estimator), counts


def variogram_directional(
    f: np.ndarray,
    bin_edges: np.ndarray,
    pos: np.ndarray,
    direction: np.ndarray,
    angles_tol: float = np.pi / 8.0,
    bandwidth: float = -1.0,
    separate_dirs: bool = False,
    estimator: str = "m",
) -> tuple[np.ndarray, np.ndarray]:
    """Directional variogram (variogram.rs:315-444). Euclid only.

    ``direction`` — ``(ndir, d)`` unit rows.  ``separate_dirs=True`` credits a
    pair to the FIRST matching direction only (variogram.rs:409-415).
    Returns ``(gamma (ndir, nbins), counts (ndir, nbins))``.
    """
    f = np.atleast_2d(np.asarray(f, dtype=np.float64))
    pos = np.asarray(pos, dtype=np.float64)
    direction = np.atleast_2d(np.asarray(direction, dtype=np.float64))
    bin_edges = np.asarray(bin_edges, dtype=np.float64)
    if angles_tol <= 0:
        raise ValueError("tolerance for angle search masks must be > 0")
    ndir = direction.shape[0]
    nbins = len(bin_edges) - 1

    ii, jj = _pair_indices(pos.shape[1])
    diff = pos[:, ii] - pos[:, jj]
    dist = np.sqrt(np.sum(diff * diff, axis=0))
    in_range = (dist >= bin_edges[0]) & (dist < bin_edges[-1])
    ii, jj, diff, dist = ii[in_range], jj[in_range], diff[:, in_range], dist[in_range]
    bin_idx = np.searchsorted(bin_edges, dist, side="right") - 1

    # (ndir, m) pass matrix
    passes = np.stack(
        [dir_test(direction[r], diff, dist, angles_tol, bandwidth) for r in range(ndir)]
    )
    if separate_dirs and ndir > 1:
        # keep only first matching direction per pair
        first = np.argmax(passes, axis=0)
        any_pass = passes.any(axis=0)
        only_first = np.zeros_like(passes)
        only_first[first, np.arange(passes.shape[1])] = any_pass
        passes = only_first

    fd = f[:, ii] - f[:, jj]
    valid = ~np.isnan(fd)
    est = np.where(valid, estimate(np.nan_to_num(fd), estimator), 0.0)

    gamma = np.zeros((ndir, nbins), dtype=np.float64)
    counts = np.zeros((ndir, nbins), dtype=np.int64)
    for r in range(ndir):
        sel = passes[r]
        for row in range(f.shape[0]):
            gamma[r] += np.bincount(
                bin_idx[sel], weights=est[row, sel], minlength=nbins
            )[:nbins]
            counts[r] += np.bincount(
                bin_idx[sel], weights=valid[row, sel], minlength=nbins
            )[:nbins].astype(np.int64)
    return normalize(gamma, counts, estimator), counts


# ---------------------------------------------------------------------------
# randomization-method field summation (field.rs:37-249)
# ---------------------------------------------------------------------------

def summate(
    cov_samples: np.ndarray, z1: np.ndarray, z2: np.ndarray, pos: np.ndarray
) -> np.ndarray:
    """u(x_j) = Σ_i z1_i·cos(k_i·x_j) + z2_i·sin(k_i·x_j)  (field.rs:37-65)."""
    phase = np.asarray(cov_samples, dtype=np.float64).T @ np.asarray(pos, dtype=np.float64)
    return np.asarray(z1, dtype=np.float64) @ np.cos(phase) + np.asarray(
        z2, dtype=np.float64
    ) @ np.sin(phase)


def summate_incompr(
    cov_samples: np.ndarray, z1: np.ndarray, z2: np.ndarray, pos: np.ndarray
) -> np.ndarray:
    """Incompressible vector field with projector p(k) = e1 − k·k1/|k|²
    (field.rs:97-182); dims 2 and 3 only.  Returns ``(d, n)``."""
    k = np.asarray(cov_samples, dtype=np.float64)
    pos = np.asarray(pos, dtype=np.float64)
    d = pos.shape[0]
    if d not in (2, 3):
        raise ValueError("Only two- and three-dimensional problems are supported.")
    phase = k.T @ pos  # (N, n)
    z12 = (
        np.asarray(z1, dtype=np.float64)[:, None] * np.cos(phase)
        + np.asarray(z2, dtype=np.float64)[:, None] * np.sin(phase)
    )  # (N, n)
    k2 = k[0] / np.sum(k * k, axis=0)  # (N,)
    proj = -k * k2[None, :]  # (d, N)
    proj[0] += 1.0
    return proj @ z12  # (d, n)


def summate_fourier(
    spectrum_factor: np.ndarray,
    modes: np.ndarray,
    z1: np.ndarray,
    z2: np.ndarray,
    pos: np.ndarray,
) -> np.ndarray:
    """Fourier method: like summate with per-mode factor √(2S(kΔk))
    (field.rs:219-249)."""
    sf = np.asarray(spectrum_factor, dtype=np.float64)
    phase = np.asarray(modes, dtype=np.float64).T @ np.asarray(pos, dtype=np.float64)
    return (sf * np.asarray(z1, dtype=np.float64)) @ np.cos(phase) + (
        sf * np.asarray(z2, dtype=np.float64)
    ) @ np.sin(phase)


# ---------------------------------------------------------------------------
# kriging matrix ops (krige.rs:24-118)
# ---------------------------------------------------------------------------

def stable_matmul(M: np.ndarray, B: np.ndarray, block: int = 128) -> np.ndarray:
    """``M @ B`` with every underlying dgemm call at EXACTLY ``block``
    columns (the last chunk zero-padded): each output column is then a
    pure function of ``(M, that column)``.

    Plain ``M @ B`` is NOT: BLAS picks micro-kernels by shape, and the
    multi-RHS width is the one shape parameter that varies between
    physical plans — the same kriging target solved inside a salted
    sub-group (nrhs≈100) vs the plain cell group (nrhs≈800) drifted by
    ulps in a captured-array repro (identical ``A`` and column, different
    result; the drift sat in dgemm's remainder-row micro-kernel, which
    switches strategy with the column count).  Fixing the per-call width
    pins the kernel choice; measured cost is ~1.08× plain dgemm at
    (513×2000) and (1025×500), and a position/width-independence sweep
    over random subsets at n∈{65,268,513,1025} is pytest-pinned.  The
    per-target reduction semantics match the reference's per-target
    matvec loop (krige.rs:92-118 iterates targets independently)."""
    M = np.ascontiguousarray(M)
    B = np.ascontiguousarray(B)
    n, nt = B.shape
    out = np.empty((M.shape[0], nt))
    for s in range(0, nt, block):
        e = min(s + block, nt)
        if e - s == block:
            out[:, s:e] = M @ B[:, s:e]
        else:
            Bp = np.zeros((n, block))
            Bp[:, : e - s] = B[:, s:e]
            out[:, s:e] = (M @ Bp)[:, : e - s]
    return out


def stable_solve(A: np.ndarray, B: np.ndarray, block: int = 512) -> np.ndarray:
    """``np.linalg.solve(A, B)`` with every underlying LAPACK call at one
    FIXED RHS width (``block`` data columns, zero-padded): per-column results are
    then a pure function of ``(A, that column)`` — see stable_matmul for
    why plain multi-RHS getrs/trsm is width-dependent.  ``A`` is
    ``(..., n, n)`` and ``B`` ``(..., n, nt)``: leading dims are a batch of
    independent systems, each solved by its own LAPACK call exactly as a
    2-D call would solve it.  Re-factors A once per chunk, so for
    nt ≤ block (every bench/production cell batch) the cost is ONE getrf +
    one fixed-width trsm — measured 1.09× plain solve at (1025, 500), vs
    1.6× for inv + stable_matmul (getri's extra n³ dominates at large n
    with narrow target batches).  Raises LinAlgError when any system is
    singular, like np.linalg.solve.

    A multi-column call is padded to ``block + 8`` columns, data in the
    first ``block``: OpenBLAS (0.3.23, AVX-512 kernels) gives the columns
    of a call's LAST 8-column panel other bits than the rest for some n
    (483-511, 513, 1025, … at width 512), so no data column may sit
    there.  Width-1 calls (``block == 1``, the knn path) stay unpadded.

    Precondition: ONE BLAS thread, as in every Python worker
    (session.py).  With more threads OpenBLAS splits the right-hand side
    columns across threads by the call's width, and column bits depend on
    the split."""
    A = np.ascontiguousarray(A)
    nt = B.shape[-1]
    out = np.empty(B.shape)
    width = block + 8 if block > 1 else block
    for s in range(0, nt, block):
        e = min(s + block, nt)
        Bp = np.zeros(B.shape[:-1] + (width,))
        Bp[..., : e - s] = B[..., s:e]
        out[..., s:e] = np.linalg.solve(A, Bp)[..., : e - s]
    return out


def krige_batch(
    C: np.ndarray,
    V: np.ndarray,
    v: np.ndarray,
    Fd: np.ndarray | None,
    Ft: np.ndarray | None,
    mean: float,
    sill: float,
    block: int = 512,
) -> tuple[np.ndarray, np.ndarray]:
    """Krige ``m`` neighborhoods of ``n`` points onto ``t`` targets each
    → ``(est, kvar)``, both ``(m, t)``.

    ``C`` ``(m, n, n)`` is the Gram matrix (nugget on its diagonal), ``V``
    ``(m, n, t)`` the point-target covariances and ``v`` ``(m, n)`` the
    conditioning values.  ``Fd`` ``(m, nd, n)`` / ``Ft`` ``(m, nd, t)`` are
    the drift basis at the points / targets: the system is bordered by
    the unbiasedness rows ``Fd·w = Ft`` (ordinary = the constant row,
    universal/KED add more).  ``Fd=None`` is simple kriging about the
    known ``mean`` (ignored otherwise).

    Every target's result is a pure function of its own neighborhood and
    column — independent of ``t``, of its position among the targets and
    of the other systems in the batch (the salting/grouping bitwise pins
    rest on this):

    * the solve is ``stable_solve`` at ``block`` columns per LAPACK call;
      a batch holding a singular system is re-solved item by item, and
      the singular items take the minimum-norm ``pinv(A)·B`` (e.g.
      coincident samples with zero nugget);
    * the reductions run over one C-contiguous row per target.  A
      reduction over the point axis of an ``(n, t)`` block changes its
      summation order with the block's layout: at ``t == 1`` it becomes
      a contiguous pairwise sum, so a target alone in its salt sub-group
      would get other bits than the same target solved among others."""
    m, n, t = V.shape
    if Fd is None:
        A, B, v = C, V, v - mean
    else:
        nd = Fd.shape[1]
        A = np.zeros((m, n + nd, n + nd))
        A[:, :n, :n] = C
        A[:, n:, :n] = Fd
        A[:, :n, n:] = Fd.transpose(0, 2, 1)
        B = np.concatenate([V, Ft], axis=1)
    try:
        W = stable_solve(A, B, block)
    except np.linalg.LinAlgError:
        W = np.empty(B.shape)
        for i in range(m):
            try:
                W[i] = stable_solve(A[i], B[i], block)
            except np.linalg.LinAlgError:
                W[i] = stable_matmul(np.linalg.pinv(A[i]), B[i])
    W = np.ascontiguousarray(W.transpose(0, 2, 1))  # (m, t, n [+ nd])
    Vt = np.ascontiguousarray(V.transpose(0, 2, 1))
    est = np.einsum("mti,mi->mt", W[:, :, :n], np.ascontiguousarray(v))
    kvar = sill - np.einsum("mti,mti->mt", W[:, :, :n], Vt)
    if Fd is None:
        est = est + mean
    else:
        Ftt = np.ascontiguousarray(Ft.transpose(0, 2, 1))
        kvar = kvar - np.einsum("mti,mti->mt", W[:, :, n:], Ftt)
    return est, np.maximum(kvar, 0.0)


def calc_field_krige(
    krig_mat: np.ndarray, krig_vecs: np.ndarray, cond: np.ndarray
) -> np.ndarray:
    """field_j = Σ_i cond_i · (M[:,i]·V[:,j]) = condᵀ·Mᵀ·V  (krige.rs:92-118).

    ``krig_mat`` is the already-inverted system matrix (see
    benches/gen_benchmark_inputs.py:35-59 in the reference).  The products
    are per-target-column stable (stable_matmul + fixed-order einsum
    reduction) so the same target kriged under different task
    partitionings gets bit-identical values.
    """
    M = np.asarray(krig_mat, dtype=np.float64)
    V = np.asarray(krig_vecs, dtype=np.float64)
    c = np.asarray(cond, dtype=np.float64)
    return np.einsum("i,ij->j", c, stable_matmul(M.T, V))


def calc_field_krige_and_variance(
    krig_mat: np.ndarray, krig_vecs: np.ndarray, cond: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """field_j = condᵀMᵀv_j, error_j = v_jᵀMᵀv_j  (krige.rs:24-74).
    Per-target-column stable — see calc_field_krige/stable_matmul."""
    M = np.asarray(krig_mat, dtype=np.float64)
    V = np.asarray(krig_vecs, dtype=np.float64)
    c = np.asarray(cond, dtype=np.float64)
    MV = stable_matmul(M.T, V)
    field = np.einsum("i,ij->j", c, MV)
    error = np.einsum("ij,ij->j", V, MV)
    return field, error
