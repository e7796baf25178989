"""Pure-numpy random forest with bias-corrected impurity importance.

The reference scores competition features with ranger's ``impurity_corrected``
importance (reference: lib/tree.R:777-796 — nperm fits, ``sample.fraction=1,
replace=TRUE``, averaged). sklearn is not available in this environment, and
the competition matrices are tiny (n samples x <= dozens of features), so a
vectorized numpy CART/forest is the right tool: it runs *inside* the Arrow
pandas UDF on executors, keeping the engine free of extra dependencies.

Bias correction follows the public Sandri & Zuccolotto (2008) pseudo-variable
approach (the same family ranger's AIR method descends from, Nembrini et al.
2018, Bioinformatics): each tree is grown on [X, X_shadow] where X_shadow is
X with its ROWS permuted by one per-tree permutation (every shadow column has
the real column's marginal distribution but no relationship to y — sharing
one permutation across columns preserves the correction and removes the
per-column permutation traffic); corrected importance(j) =
impurity_importance(X_j) - impurity_importance(shadow_j). Uninformative
features score ~0 (can be negative), which the competition's "> 0" and
"> mean" thresholds rely on.

Execution shape: the forest is grown LEVEL-SYNCHRONOUSLY — all nodes of all
trees at one depth are split together with ONE fused bincount keyed by
(group, candidate-feature, bin[, class]) per depth. The previous
node-at-a-time stack walker executed ~17k numpy calls per fit; node-sized
arrays made the per-call interpreter overhead the dominant cost of the whole
competition (measured ~0.3 s/fit at the reference's 288 x 30 shape). The
batched engine runs the same histogram split search in <= max_depth fused
passes per forest.
"""

from __future__ import annotations

import numpy as np

N_BINS = 64
# cap on the per-depth histogram allocation (entries in the fused bincount);
# group batches are chunked above it so deep levels can't blow memory
_MAX_HIST = 1 << 24


def _quantile_edges(X: np.ndarray) -> list[np.ndarray]:
    """Per-column quantile bin edges of X: at most N_BINS - 1 distinct cut
    points, so every code :func:`_apply_bins` gives is in [0, N_BINS-1]."""
    qs = np.linspace(0, 1, N_BINS + 1)[1:-1]
    return [np.unique(np.quantile(X[:, j], qs)) for j in range(X.shape[1])]


def _apply_bins(X: np.ndarray, edges: list[np.ndarray]) -> np.ndarray:
    """uint8 bin codes of X's rows against per-column ``edges``."""
    codes = np.empty(X.shape, dtype=np.uint8)
    for j, e in enumerate(edges):
        codes[:, j] = np.searchsorted(e, X[:, j], side="right")
    return codes


def _best_splits_classification(
    c: np.ndarray, yrows: np.ndarray, gi: np.ndarray, sizes: np.ndarray,
    n_classes: int, min_child: int = 1,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best gini decrease for EVERY group at once.

    c: (A, m) bin codes of each active slot's candidate features; yrows: (A,)
    class codes; gi: (A,) compact group index; sizes: (S,) group sizes.
    Returns (dec, m_idx, thr_bin) arrays of shape (S,); dec <= 0 means no
    valid split. ``min_child`` (default 1 = legacy behavior) invalidates
    splits whose smaller child would hold fewer rows — pyspark.ml's
    ``minInstancesPerNode`` child-size semantics, used by the predictive
    forest (the importance kernel keeps the node-size-only rule).
    """
    A, m = c.shape
    S = len(sizes)
    C = n_classes
    key = (
        (gi[:, None] * m + np.arange(m, dtype=np.int64)[None, :]) * N_BINS
        + c.astype(np.int64)
    ).ravel()
    if C == 2:
        # binary fast path: one total + one class-1 histogram of width B —
        # half the memory traffic of the (S, m, B, C) layout and no class
        # axis in any reduction. gini(node) = n - (n1^2 + (n-n1)^2) / n.
        cnt = np.bincount(key, minlength=S * m * N_BINS).reshape(S, m, N_BINS)
        cnt1 = np.bincount(
            key, weights=(yrows == 1).astype(np.float64).repeat(m),
            minlength=S * m * N_BINS,
        ).reshape(S, m, N_BINS)
        nl = np.cumsum(cnt, axis=2)[:, :, :-1].astype(np.float64)
        c1 = np.cumsum(cnt1, axis=2)
        nl1 = c1[:, :, :-1]
        tot1 = c1[:, :, -1:]
        nr = sizes[:, None, None] - nl
        nr1 = tot1 - nl1
        valid = (nl >= min_child) & (nr >= min_child)
        gl = nl - (nl1**2 + (nl - nl1) ** 2) / np.where(nl > 0, nl, 1)
        gr = nr - (nr1**2 + (nr - nr1) ** 2) / np.where(nr > 0, nr, 1)
        g1 = tot1[:, 0, 0]
        parent = sizes - (g1**2 + (sizes - g1) ** 2) / sizes
        dec = parent[:, None, None] - (gl + gr)
        dec[~valid] = -np.inf
        flat = dec.reshape(S, -1).argmax(axis=1)
        m_idx, thr = np.divmod(flat, N_BINS - 1)
        best = dec.reshape(S, -1)[np.arange(S), flat]
        best[~np.isfinite(best)] = 0.0
        return best, m_idx, thr
    keyc = key * C + np.broadcast_to(yrows[:, None], (A, m)).ravel()
    cnt = (
        np.bincount(keyc, minlength=S * m * N_BINS * C)
        .reshape(S, m, N_BINS, C)
        .astype(np.float64)
    )
    left = np.cumsum(cnt, axis=2)[:, :, :-1, :]  # (S, m, B-1, C)
    nl = left.sum(axis=3)
    nr = sizes[:, None, None] - nl
    total = cnt.sum(axis=2)  # (S, m, C) — identical across m
    valid = (nl >= min_child) & (nr >= min_child)
    right = total[:, :, None, :] - left
    gl = nl - (left**2).sum(axis=3) / np.where(nl > 0, nl, 1)
    gr = nr - (right**2).sum(axis=3) / np.where(nr > 0, nr, 1)
    parent = sizes - (total[:, 0, :] ** 2).sum(axis=1) / sizes  # (S,)
    dec = parent[:, None, None] - (gl + gr)
    dec[~valid] = -np.inf
    flat = dec.reshape(S, -1).argmax(axis=1)
    m_idx, thr = np.divmod(flat, N_BINS - 1)
    best = dec.reshape(S, -1)[np.arange(S), flat]
    best[~np.isfinite(best)] = 0.0
    return best, m_idx, thr


def _best_splits_regression(
    c: np.ndarray, yrows: np.ndarray, gi: np.ndarray, sizes: np.ndarray,
    min_child: int = 1,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best SSE decrease for EVERY group at once (see classification)."""
    A, m = c.shape
    S = len(sizes)
    key = (
        (gi[:, None] * m + np.arange(m, dtype=np.int64)[None, :]) * N_BINS
        + c.astype(np.int64)
    ).ravel()
    yrep = np.broadcast_to(yrows[:, None], (A, m)).ravel()
    sums = np.bincount(key, weights=yrep, minlength=S * m * N_BINS).reshape(
        S, m, N_BINS
    )
    cnts = (
        np.bincount(key, minlength=S * m * N_BINS)
        .reshape(S, m, N_BINS)
        .astype(np.float64)
    )
    lsum = np.cumsum(sums, axis=2)
    lcnt = np.cumsum(cnts, axis=2)
    tot = lsum[:, :, -1:]
    nl = lcnt
    nr = sizes[:, None, None] - nl
    valid = (nl >= min_child) & (nr >= min_child)
    gain = lsum**2 / np.where(nl > 0, nl, 1) + (tot - lsum) ** 2 / np.where(
        nr > 0, nr, 1
    )
    gain = gain - tot**2 / sizes[:, None, None]
    gain[~valid] = -np.inf
    flat = gain.reshape(S, -1).argmax(axis=1)
    m_idx, thr = np.divmod(flat, N_BINS)
    best = gain.reshape(S, -1)[np.arange(S), flat]
    best[~np.isfinite(best)] = 0.0
    best[best <= 1e-12] = 0.0
    return best, m_idx, thr


def forest_importance(
    codes: np.ndarray,
    y: np.ndarray,
    classification: bool,
    num_trees: int = 100,
    mtry: int | None = None,
    min_node: int | None = None,
    seed: int = 0,
    corrected: bool = True,
    max_depth: int = 16,
) -> np.ndarray:
    """Averaged (optionally shadow-corrected) impurity importance, shape (p,).

    Mirrors ranger's call shape in the reference (bootstrap with
    sample.fraction=1, importance summed over splits, averaged over trees).

    ``codes``: the design's (n, p) uint8 bin codes
    (``_apply_bins(X, _quantile_edges(X))``). The competition runs nperm
    independent fits on the SAME design; quantile binning is a large share
    of a small-forest fit, so the caller bins once per competition and every
    fit reads the codes.

    All trees grow together, level-synchronously: the per-depth state is a
    flat slot array (one slot per bootstrap draw per tree) carrying
    (tree, node, sample) and each depth performs one fused histogram pass
    over every splittable (tree, node) group. Shadow codes are never
    materialized — a slot reading shadow column j reads
    ``codes[perm[tree, row], j]`` through the per-tree permutation.
    """
    n, p = codes.shape
    rng = np.random.default_rng(seed)
    if classification:
        _, y_enc = np.unique(y, return_inverse=True)
        n_classes = int(y_enc.max()) + 1
        yv = y_enc.astype(np.int64)
    else:
        yv = np.asarray(y, dtype=np.float64)
        n_classes = 0
    if min_node is None:
        # ranger-parity (1 / 5) for small n; adaptive floor for big n so the
        # importance competition stays tractable on 10^4+ samples (tree depth
        # and split count dominate; importance RANKING is what's consumed)
        base = 1 if classification else 5
        min_node = max(base, n // 512)
    min_size = max(2, min_node)
    P = 2 * p if corrected else p
    if mtry is None:
        mtry = max(1, int(np.floor(np.sqrt(P))))
    m_eff = min(mtry, P)

    # Trees grow in BLOCKS sized so the slot state (sample/node/active
    # arrays plus the per-depth gathers) stays cache-resident: one block of
    # all trees at n=15k measured 3.8x slower than ~128k-slot blocks purely
    # from memory traffic. Small designs (n*num_trees <= the target) keep a
    # single block — identical rng stream to the unblocked engine.
    block = max(1, -(-(1 << 17) // n))  # ceil(131072 / n) trees per block
    imp = np.zeros(P)
    for t_lo in range(0, num_trees, block):
        T = min(block, num_trees - t_lo)
        _grow_tree_block(
            rng, T, n, P, p, m_eff, min_size, codes, yv, classification,
            n_classes, corrected, max_depth, imp,
        )

    imp /= num_trees
    if corrected:
        return imp[:p] - imp[p:]
    return imp[:p]


def _grow_tree_block(
    rng, T, n, P, p, m_eff, min_size, base_codes, yv, classification,
    n_classes, corrected, max_depth, imp, rec=None, min_child=1,
) -> None:
    """Grow one block of T trees level-synchronously, accumulating into imp.

    ``rec``: when a list is passed (predictive ``forest_fit`` path, requires
    corrected=False), one entry per depth is appended:
    ``(leaf_keys, leaf_vals, split_keys, split_feat, split_thr)`` — keys are
    the (tree << (depth+1)) | node encoding, sorted ascending,
    leaf_vals are class distributions (L, C) or means (L,). A final
    depth-cap leaf level is appended for slots that survive max_depth.
    ``min_child`` feeds the split search's child-size floor (pyspark.ml
    minInstancesPerNode semantics); the importance kernel keeps 1.
    """
    # all randomness per block, in a fixed order: bootstraps, one shadow
    # permutation per tree, then one feature-subset draw per depth
    boot = rng.integers(0, n, (T, n))
    perm = np.argsort(rng.random((T, n)), axis=1) if corrected else None

    sample_idx = boot.ravel().astype(np.int64)  # (T*n,)
    tree_id = np.repeat(np.arange(T, dtype=np.int64), n)
    node_id = np.zeros(T * n, dtype=np.int64)
    active = np.ones(T * n, dtype=bool)

    for depth in range(max_depth):
        act = np.flatnonzero(active)
        if act.size == 0:
            break
        keys = (tree_id[act] << (depth + 1)) | node_id[act]
        uniq, gidx = np.unique(keys, return_inverse=True)
        G = len(uniq)
        sizes = np.bincount(gidx, minlength=G).astype(np.float64)
        rows_all = sample_idx[act]
        # stopping rules, exactly the stack walker's: size < max(2,min_node),
        # pure node (classification) / ~zero std (regression)
        if classification:
            cls = np.bincount(
                gidx * n_classes + yv[rows_all], minlength=G * n_classes
            ).reshape(G, n_classes)
            stopped = cls.max(axis=1) == sizes
        else:
            s1 = np.bincount(gidx, weights=yv[rows_all], minlength=G)
            s2 = np.bincount(gidx, weights=yv[rows_all] ** 2, minlength=G)
            var = np.maximum(s2 / sizes - (s1 / sizes) ** 2, 0.0)
            stopped = np.sqrt(var) <= 1e-15
        stopped |= sizes < min_size
        if rec is not None:
            node_vals = (
                cls / sizes[:, None] if classification else s1 / sizes
            )  # per-group leaf value if the group terminates here
        splittable = ~stopped
        sg = np.flatnonzero(splittable)
        if sg.size == 0:
            if rec is not None:
                rec.append((uniq, node_vals, uniq[:0],
                            np.zeros(0, np.int64), np.zeros(0, np.int64)))
                active[act] = False  # all-leaf level: nothing survives for
                # the post-loop depth-cap pass
            break
        # per-group candidate features (drawn for all groups to keep the rng
        # stream a pure function of (seed, depth, group count))
        feats = np.argsort(rng.random((G, P)), axis=1)[:, :m_eff]

        # compact the splittable groups and their slots
        gmap = np.full(G, -1, dtype=np.int64)
        gmap[sg] = np.arange(sg.size)
        slot_m = splittable[gidx]
        slots = act[slot_m]
        gi = gmap[gidx[slot_m]]
        rows = sample_idx[slots]
        sizes_s = sizes[sg]
        feats_s = feats[sg]

        # process group batches so the fused histogram stays within _MAX_HIST
        per_group = m_eff * N_BINS * max(n_classes, 1)
        batch = max(1, _MAX_HIST // max(per_group, 1))
        dec = np.zeros(sg.size)
        m_idx = np.zeros(sg.size, dtype=np.int64)
        thr = np.zeros(sg.size, dtype=np.int64)
        order = np.argsort(gi, kind="stable")
        slots_o = slots[order]
        gi_o = gi[order]
        rows_o = rows[order]
        bounds = np.searchsorted(gi_o, np.arange(0, sg.size + batch, batch))
        for bi in range(len(bounds) - 1):
            lo_s, hi_s = bounds[bi], bounds[bi + 1]
            if lo_s == hi_s:
                continue
            g_lo = bi * batch
            g_hi = min(g_lo + batch, sg.size)
            gi_b = gi_o[lo_s:hi_s] - g_lo
            rows_b = rows_o[lo_s:hi_s]
            f_b = feats_s[g_lo:g_hi]
            fcols = f_b[gi_b]  # (A_b, m_eff)
            if corrected:
                prow = perm[tree_id[slots_o[lo_s:hi_s]], rows_b]
                is_sh = fcols >= p
                r2 = np.where(is_sh, prow[:, None], rows_b[:, None])
                c2 = np.where(is_sh, fcols - p, fcols)
                cb = base_codes[r2, c2]
            else:
                cb = base_codes[rows_b[:, None], fcols]
            if classification:
                d_b, m_b, t_b = _best_splits_classification(
                    cb, yv[rows_b], gi_b, sizes_s[g_lo:g_hi], n_classes,
                    min_child,
                )
            else:
                d_b, m_b, t_b = _best_splits_regression(
                    cb, yv[rows_b], gi_b, sizes_s[g_lo:g_hi], min_child
                )
            dec[g_lo:g_hi] = d_b
            m_idx[g_lo:g_hi] = m_b
            thr[g_lo:g_hi] = t_b

        split_ok = dec > 0
        # importance accumulation: dec / n per split (n = bootstrap size)
        f_global = feats_s[np.arange(sg.size), m_idx]
        np.add.at(imp, f_global[split_ok], dec[split_ok] / n)

        if rec is not None:
            # leaves at this depth = stopped groups + splittable groups with
            # no valid split; masks over uniq preserve its ascending order
            leaf_mask = stopped.copy()
            leaf_mask[sg[~split_ok]] = True
            rec.append(
                (
                    uniq[leaf_mask],
                    node_vals[leaf_mask],
                    uniq[sg[split_ok]],
                    f_global[split_ok],
                    thr[split_ok],
                )
            )

        # route slots: groups that stopped or found no valid split go
        # inactive; surviving slots descend left/right on their group's
        # (feature, threshold)
        ok_slot = split_ok[gi_o]
        dead = slots_o[~ok_slot]
        active[dead] = False
        stopped_slots = act[~splittable[gidx]]
        active[stopped_slots] = False
        live = slots_o[ok_slot]
        gi_live = gi_o[ok_slot]
        rows_live = rows_o[ok_slot]
        fc = feats_s[gi_live, m_idx[gi_live]]
        if corrected:
            is_sh = fc >= p
            pr = perm[tree_id[live], rows_live]
            rr = np.where(is_sh, pr, rows_live)
            cc = np.where(is_sh, fc - p, fc)
            vals = base_codes[rr, cc]
        else:
            vals = base_codes[rows_live, fc]
        go_right = (vals > thr[gi_live]).astype(np.int64)
        node_id[live] = node_id[live] * 2 + go_right

    if rec is not None:
        # depth-cap leaves: slots that survived every split round terminate
        # with their node's distribution/mean (entry index == max_depth,
        # key shift == entry index + 1, same scheme as in-loop levels)
        act = np.flatnonzero(active)
        if act.size:
            keys = (tree_id[act] << (max_depth + 1)) | node_id[act]
            uniq, gidx = np.unique(keys, return_inverse=True)
            G = len(uniq)
            sizes = np.bincount(gidx, minlength=G).astype(np.float64)
            rows_all = sample_idx[act]
            if classification:
                cls = np.bincount(
                    gidx * n_classes + yv[rows_all], minlength=G * n_classes
                ).reshape(G, n_classes)
                vals_cap = cls / sizes[:, None]
            else:
                vals_cap = (
                    np.bincount(gidx, weights=yv[rows_all], minlength=G) / sizes
                )
            rec.append((uniq, vals_cap, uniq[:0],
                        np.zeros(0, np.int64), np.zeros(0, np.int64)))


# -- predictive forest (small-n dietML fast path) -----------------------------


class ForestModel:
    """A fitted ``forest_fit`` forest compiled into one flat node table,
    plus the training bin edges. Node ``i`` splits on bin codes
    ``codes[:, feat[i]] > thr[i]`` into ``child[2*i]`` (no) or
    ``child[2*i + 1]`` (yes); a leaf points to itself on both sides and
    carries ``value[i]``, its class distribution (C,) or mean. ``roots``
    holds each tree's root node and ``depth`` the number of steps that take
    every (tree, row) from its root to a leaf. Driver-side object, sized by
    node count — never data-sized."""

    __slots__ = (
        "classification", "n_classes", "num_trees", "edges", "importance",
        "roots", "feat", "thr", "child", "value", "depth",
    )

    def __init__(self, classification, n_classes, num_trees, edges,
                 importance, levels):
        self.classification = classification
        self.n_classes = n_classes
        self.num_trees = num_trees
        self.edges = edges
        self.importance = importance
        self._compile(levels)

    def _compile(self, levels) -> None:
        """Flatten ``_grow_tree_block``'s per-depth key tables (entry ``d``
        keys are ``(tree << (d+1)) | node``; a split's children at ``d+1``
        are keys ``2*key`` and ``2*key + 1``) into the node table, numbering
        the nodes depth by depth in key order."""
        keys = [np.sort(np.concatenate([lk, sk])) for lk, _, sk, _, _ in levels]
        offs = np.cumsum([0] + [len(k) for k in keys])
        n_nodes = int(offs[-1])
        self.feat = np.zeros(n_nodes, dtype=np.intp)
        self.thr = np.zeros(n_nodes, dtype=np.uint8)
        self.child = np.repeat(np.arange(n_nodes, dtype=np.intp), 2)
        self.value = np.zeros(
            (n_nodes, self.n_classes) if self.classification else n_nodes
        )

        def index(d: int, k: np.ndarray) -> np.ndarray:
            return offs[d] + np.searchsorted(keys[d], k)

        for d, (lk, lv, sk, sf, st) in enumerate(levels):
            self.value[index(d, lk)] = lv
            split = index(d, sk)
            self.feat[split] = sf
            self.thr[split] = st
            if len(sk):
                self.child[2 * split] = index(d + 1, 2 * sk)
                self.child[2 * split + 1] = index(d + 1, 2 * sk + 1)
        self.roots = index(0, 2 * np.arange(self.num_trees, dtype=np.int64))
        self.depth = len(levels) - 1


def forest_fit(
    X: np.ndarray,
    y: np.ndarray,
    classification: bool,
    num_trees: int = 100,
    mtry: int | None = None,
    min_node: int = 1,
    seed: int = 0,
    max_depth: int = 16,
    n_classes: int | None = None,
) -> ForestModel:
    """Predictive random forest on the SAME level-synchronous histogram
    engine as ``forest_importance`` (bootstrap n-of-n, per-depth fused split
    search), but with tree structure captured for ``forest_predict``.

    Built for the dietML small-n fast path (reference run_dietML's per-fold
    ranger/tidymodels fits, lib/diet_ml_funcs.R:686-760): a few-hundred-row
    CV frame pays more in Spark job scheduling than in compute, so
    sub-threshold fits run this kernel on the driver while large frames keep
    pyspark.ml. ``min_node`` uses pyspark.ml's minInstancesPerNode CHILD
    semantics (both children >= min_node); classification leaves carry class
    distributions so predictions expose per-class probabilities for the
    roc_auc metrics.
    """
    X = np.asarray(X, dtype=np.float64)
    n, p = X.shape
    rng = np.random.default_rng(seed)
    if classification:
        if n_classes is not None:
            # caller-supplied label space: y is ALREADY integer class codes
            # in [0, n_classes). Required by CV callers — a fold missing one
            # class must still emit probability rows aligned to the full
            # class list, which np.unique re-encoding would silently shift.
            yv = np.asarray(y, dtype=np.int64)
        else:
            _, y_enc = np.unique(y, return_inverse=True)
            n_classes = int(y_enc.max()) + 1
            yv = y_enc.astype(np.int64)
    else:
        yv = np.asarray(y, dtype=np.float64)
        n_classes = 0
    edges = _quantile_edges(X)
    codes = _apply_bins(X, edges)
    if mtry is None:
        mtry = max(1, int(np.floor(np.sqrt(p))))
    m_eff = min(mtry, p)
    min_size = max(2, 2 * min_node)  # a node smaller than 2*min_child can
    # never produce two valid children — skip its split search entirely
    imp = np.zeros(p)
    rec: list = []
    _grow_tree_block(
        rng, num_trees, n, p, p, m_eff, min_size, codes, yv, classification,
        n_classes, False, max_depth, imp, rec=rec, min_child=max(1, min_node),
    )
    return ForestModel(
        classification, n_classes, num_trees, edges, imp / num_trees, rec
    )


def forest_predict(model: ForestModel, X: np.ndarray) -> np.ndarray:
    """Predictions for X: classification -> (n, n_classes) averaged leaf
    class distributions (argmax = predicted class, ties to the lowest
    index — pyspark.ml's argmax rule); regression -> (n,) mean of per-tree
    leaf means. Every (tree, row) slot walks the node table together, one
    gather step per depth; a slot at a leaf stays there."""
    X = np.asarray(X, dtype=np.float64)
    nv, p = X.shape
    codes = _apply_bins(X, model.edges).ravel()
    T = model.num_trees
    row_at = np.tile(np.arange(nv, dtype=np.intp) * p, T)
    idx = np.repeat(model.roots, nv)
    for _ in range(model.depth):
        go = codes[row_at + model.feat[idx]] > model.thr[idx]
        idx = model.child[2 * idx + go]
    out = model.value[idx]
    if model.classification:
        return out.reshape(T, nv, model.n_classes).mean(axis=0)
    return out.reshape(T, nv).mean(axis=0)
