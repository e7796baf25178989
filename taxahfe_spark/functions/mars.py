"""Bagged MARS (multivariate adaptive regression splines) — the reference's
``mars`` registry entry (lib/diet_ml_funcs.R:97, 510-561: parsnip::bag_mars
with engine "earth", prod_degree/num_terms/prune_method dials, bagged by
baguette), re-derived in pure numpy.

Algorithm (Friedman 1991, as earth implements it):

- forward pass: greedily add REFLECTED HINGE PAIRS max(0, x_j - t) /
  max(0, t - x_j) (knots t from training quantiles) — optionally times an
  existing basis function up to ``prod_degree`` interaction order — picking
  the pair that most reduces training SSE, until ``max_terms`` basis
  functions exist or the relative SSE improvement stalls;
- backward pass (prune_method="backward"): repeatedly drop the single term
  whose removal minimizes GCV = SSE / (n * (1 - C(M)/n)^2) with effective
  parameters C(M) = M + penalty * (M - 1) / 2 (earth's penalty: 2 if
  prod_degree == 1 else 3), keeping the GCV-best subset;
  prune_method="none" keeps every forward-pass term.
- ``num_terms`` caps the FINAL model size (earth's nprune).

Classification fits least squares on per-class indicator columns (earth's
default multi-response trick); probabilities are softmax over the linear
scores, predictions argmax. Bagging averages ``n_bags`` bootstrap fits
(baguette default 11) — seeded, so results are deterministic.

Like earth itself this is a single-node engine: dietml.py runs it under the
small-n local fast path only (the same driver-local gate as the numpy
forest) and raises above ``dietml.LOCAL_FIT_MAX_ROWS`` train rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_MAX_KNOTS = 32  # candidate knots per feature per forward step


@dataclass
class _MarsModel:
    # each basis term is a product of hinges: list of (feature, knot, sign)
    terms: list[list[tuple[int, float, int]]]
    coef: np.ndarray  # (n_terms+1, n_out) incl. intercept row 0
    classes: np.ndarray | None


def _basis_matrix(X: np.ndarray, terms: list[list[tuple[int, float, int]]]) -> np.ndarray:
    n = X.shape[0]
    B = np.empty((n, len(terms) + 1), dtype=np.float64)
    B[:, 0] = 1.0
    for k, term in enumerate(terms, start=1):
        col = np.ones(n)
        for j, t, s in term:
            h = (X[:, j] - t) if s > 0 else (t - X[:, j])
            col *= np.maximum(h, 0.0)
        B[:, k] = col
    return B


def _lstsq(B: np.ndarray, Y: np.ndarray) -> tuple[np.ndarray, float]:
    coef, *_ = np.linalg.lstsq(B, Y, rcond=None)
    resid = Y - B @ coef
    return coef, float((resid * resid).sum())


def _gcv(sse: float, n: int, n_terms: int, penalty: float) -> float:
    c = n_terms + penalty * (n_terms - 1) / 2.0
    denom = n * (1.0 - min(c, n - 1) / n) ** 2
    return sse / max(denom, 1e-12)


def _pair_gain(
    P: np.ndarray, N: np.ndarray, Q: np.ndarray, R: np.ndarray
) -> np.ndarray:
    """Screening gain for every hinge pair (columns of P/N): the SSE drop
    from adding [p, n] to a basis with orthonormal span Q, approximated the
    standard greedy way — project the pair onto Q's orthogonal complement
    and solve each 2x2 normal system against the residual R (summed over
    response columns). Vectorized over all knots at once."""
    Pp = P - Q @ (Q.T @ P)
    Np = N - Q @ (Q.T @ N)
    a = np.einsum("nk,nk->k", Pp, Pp)
    d = np.einsum("nk,nk->k", Np, Np)
    b = np.einsum("nk,nk->k", Pp, Np)
    bp = Pp.T @ R  # (K, n_out)
    bn = Np.T @ R
    det = a * d - b * b
    # gain = [bp bn] G^-1 [bp bn]^T per knot, summed over responses
    with np.errstate(divide="ignore", invalid="ignore"):
        g = (d[:, None] * bp**2 - 2 * b[:, None] * bp * bn + a[:, None] * bn**2) / det[
            :, None
        ]
    g = np.where(np.isfinite(g), g, 0.0).sum(axis=1)
    g[det < 1e-10] = 0.0
    return g


def _forward_pass(
    X: np.ndarray,
    Y: np.ndarray,
    max_terms: int,
    prod_degree: int,
    rng: np.random.Generator,
) -> list[list[tuple[int, float, int]]]:
    n, p = X.shape
    terms: list[list[tuple[int, float, int]]] = []
    B = _basis_matrix(X, terms)
    qs = np.linspace(0.05, 0.95, _MAX_KNOTS)
    # per-feature hinge banks over shared quantile knots: H_pos[j] is
    # (n, K_j); built once, reused every step
    knots = [np.unique(np.quantile(X[:, j], qs)) for j in range(p)]
    H_pos = [np.maximum(X[:, j : j + 1] - k[None, :], 0.0) for j, k in enumerate(knots)]
    H_neg = [np.maximum(k[None, :] - X[:, j : j + 1], 0.0) for j, k in enumerate(knots)]
    while len(terms) + 1 < max_terms:
        Q, _ = np.linalg.qr(B)
        R = Y - Q @ (Q.T @ Y)
        sse = float((R * R).sum())
        p_sub = (
            list(range(p)) if p <= 128 else sorted(rng.choice(p, 128, replace=False))
        )
        best = None  # (gain, parent_idx, j, knot_idx)
        # parents: the constant term (-1) plus existing terms short enough
        # to take another hinge factor (never two hinges on one feature)
        parents = [-1] + [i for i, tm in enumerate(terms) if len(tm) < prod_degree]
        for parent in parents:
            if parent < 0:
                pc = None
            else:
                pc = _basis_matrix(X, [terms[parent]])[:, 1]
                if (pc != 0).sum() < 8:
                    continue
            used = set() if parent < 0 else {j for j, _, _ in terms[parent]}
            for j in p_sub:
                if j in used:
                    continue
                P = H_pos[j] if pc is None else H_pos[j] * pc[:, None]
                N = H_neg[j] if pc is None else H_neg[j] * pc[:, None]
                g = _pair_gain(P, N, Q, R)
                k = int(np.argmax(g))
                if best is None or g[k] > best[0]:
                    best = (float(g[k]), parent, j, k)
        if best is None or best[0] <= 0:
            break
        gain, parent, j, k = best
        if sse > 0 and gain / sse < 1e-4:
            break
        t = float(knots[j][k])
        base = [] if parent < 0 else list(terms[parent])
        terms.append(base + [(j, t, +1)])
        terms.append(base + [(j, t, -1)])
        B = _basis_matrix(X, terms)
    return terms


def _backward_prune(
    X: np.ndarray,
    Y: np.ndarray,
    terms: list[list[tuple[int, float, int]]],
    num_terms: int | None,
    penalty: float,
) -> list[list[tuple[int, float, int]]]:
    n = X.shape[0]
    keep = list(range(len(terms)))
    B = _basis_matrix(X, terms)
    _, sse = _lstsq(B, Y)
    best_keep, best_gcv = list(keep), _gcv(sse, n, len(keep) + 1, penalty)
    while keep:
        # drop the term whose removal minimizes SSE of the reduced fit
        cand = None
        for i in range(len(keep)):
            sub = keep[:i] + keep[i + 1 :]
            Bs = _basis_matrix(X, [terms[k] for k in sub])
            _, s = _lstsq(Bs, Y)
            if cand is None or s < cand[0]:
                cand = (s, sub)
        sse, keep = cand
        g = _gcv(sse, n, len(keep) + 1, penalty)
        size_ok = num_terms is None or len(keep) + 1 <= num_terms
        if size_ok and (g < best_gcv or (num_terms is not None and len(best_keep) + 1 > num_terms)):
            best_gcv, best_keep = g, list(keep)
    if num_terms is not None and len(best_keep) + 1 > num_terms:
        best_keep = best_keep[: max(num_terms - 1, 0)]
    return [terms[k] for k in best_keep]


def _fit_single(
    X: np.ndarray,
    Y: np.ndarray,
    num_terms: int | None,
    prod_degree: int,
    prune_method: str,
    rng: np.random.Generator,
) -> tuple[list[list[tuple[int, float, int]]], np.ndarray]:
    penalty = 2.0 if prod_degree == 1 else 3.0  # earth's default GCV penalty
    max_terms = min(
        21 if num_terms is None else max(2 * num_terms + 1, 5), max(X.shape[0] - 1, 3)
    )
    terms = _forward_pass(X, Y, max_terms, prod_degree, rng)
    if prune_method == "backward":
        terms = _backward_prune(X, Y, terms, num_terms, penalty)
    elif num_terms is not None and len(terms) + 1 > num_terms:
        terms = terms[: max(num_terms - 1, 0)]
    coef, _ = _lstsq(_basis_matrix(X, terms), Y)
    return terms, coef


def mars_fit(
    X: np.ndarray,
    y: np.ndarray,
    classification: bool,
    *,
    num_terms: int | None = None,
    prod_degree: int = 1,
    prune_method: str = "backward",
    n_bags: int = 11,  # baguette bag_mars default
    seed: int = 0,
    n_classes: int | None = None,
) -> list[_MarsModel]:
    """Fit a bagged MARS ensemble; returns the list of bag models."""
    if prune_method not in ("backward", "none", "forward"):
        raise ValueError(f"unsupported prune_method '{prune_method}'")
    n = X.shape[0]
    if classification:
        k = n_classes or int(y.max()) + 1
        Y = np.zeros((n, k))
        Y[np.arange(n), y.astype(np.int64)] = 1.0
        classes = np.arange(k)
    else:
        Y = y.reshape(-1, 1).astype(np.float64)
        classes = None
    rng = np.random.default_rng(seed)
    bags: list[_MarsModel] = []
    for _ in range(n_bags):
        idx = rng.integers(0, n, n)
        brng = np.random.default_rng(rng.integers(0, 2**31))
        terms, coef = _fit_single(
            X[idx],
            Y[idx],
            num_terms,
            prod_degree,
            # earth's "forward" pmethod = keep the forward pass un-pruned
            "none" if prune_method == "forward" else prune_method,
            brng,
        )
        bags.append(_MarsModel(terms, coef, classes))
    return bags


def mars_predict(bags: list[_MarsModel], X: np.ndarray) -> np.ndarray:
    """Average bag scores. Classification: softmax probabilities (n, k);
    regression: (n,) predictions."""
    acc = None
    for m in bags:
        s = _basis_matrix(X, m.terms) @ m.coef
        acc = s if acc is None else acc + s
    scores = acc / len(bags)
    if bags[0].classes is None:
        return scores[:, 0]
    z = scores - scores.max(axis=1, keepdims=True)
    e = np.exp(np.clip(z * 4.0, -30, 30))  # temper indicator-scale scores
    return e / e.sum(axis=1, keepdims=True)
