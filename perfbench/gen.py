"""Seeded input generators for the benchmark.

Every function here is a pure function of its arguments (numpy
``default_rng(seed)``), reads nothing from disk and writes only where it is
told. The shapes follow FIXTURES.md:

- F1/F2 (``hfe_table``): a 7-level MetaPhlAn-like abundance table with
  about 85% zeros, a share of internal rows missing (so the observed-wins
  rollup resolves them), populated parents whose value differs from the sum
  of their children, duplicate node names under different parents, and
  parent-child pairs on both sides of the correlation threshold.
- F5/F6 (``pit_corpus``): documents with a known set of injected
  near-duplicates, an event stream with gaps longer than the session gap and
  nulls for LOCF, two taxonomy snapshots with clades that move between
  them, and versioned per-user attributes for the as-of join.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

# reference level counts at sf=1 (FIXTURES.md F2): levels 1..7
LEVEL_COUNTS = (4, 14, 27, 45, 88, 243, 767)
RANKS = ("k", "p", "c", "o", "f", "g", "s")
SIGNAL_LEAVES = 10
SIGNAL_SHIFT = 6.0


@dataclass
class HfeTable:
    meta: pd.DataFrame  # subject_id, feature_of_interest
    wide: pd.DataFrame  # clade_name + one column per subject
    missing_internal: int  # internal rows dropped from the table

    def long(self) -> pd.DataFrame:
        """(clade_name, entity_id, value), zeros kept (melt_wide_matrix)."""
        return self.wide.melt(
            id_vars="clade_name", var_name="entity_id", value_name="value"
        )

    def write(self, meta_path: str, data_path: str) -> None:
        self.meta.to_csv(meta_path, sep="\t", index=False)
        self.wide.to_csv(data_path, sep="\t", index=False, float_format="%.6g")


def hfe_table(
    seed: int,
    scale: float = 1.0,
    n_samples: int = 288,
    missing_share: float = 0.2,
    shape_seed: int = 0,
) -> HfeTable:
    """F1 metadata + F2 wide table. ``scale`` multiplies the per-level node
    counts; the tree is 7 levels deep at every scale.

    The table's shape (tree, missing rows, per-leaf prevalence, which leaves
    carry the label signal, class sizes) comes from ``shape_seed``; ``seed``
    draws the samples (label order, presence, abundances), so the amount of
    work varies little from seed to seed."""
    shape = np.random.default_rng(shape_seed)
    rng = np.random.default_rng(seed)
    counts = [max(1, round(c * scale)) for c in LEVEL_COUNTS]
    counts = [max(c, counts[i - 1]) if i else c for i, c in enumerate(counts)]

    # tree: every parent keeps >= 1 child; names repeat under different
    # parents (child index within the parent), the F2 fringe case
    paths: list[list[str]] = [[f"k__kingdom_{i}" for i in range(counts[0])]]
    parent_of: list[np.ndarray] = [np.full(counts[0], -1)]
    for lvl in range(1, 7):
        n, n_par = counts[lvl], counts[lvl - 1]
        par = np.concatenate(
            [np.arange(n_par), shape.integers(0, n_par, n - n_par)]
        )
        par.sort(kind="stable")
        names, seen = [], {}
        for p in par:
            k = seen.get(p, 0)
            seen[p] = k + 1
            names.append(f"{paths[lvl - 1][p]}|{RANKS[lvl]}__{RANKS[lvl]}{k}")
        paths.append(names)
        parent_of.append(par)

    # metadata: binary label with ~65/35 imbalance, no covariates
    subjects = [f"s{j:04d}" for j in range(n_samples)]
    label = np.where(
        rng.permutation(n_samples) < round(0.35 * n_samples),
        "non_industrialized", "industrialized",
    )
    meta = pd.DataFrame({"subject_id": subjects, "feature_of_interest": label})
    y = (label == "non_industrialized").astype(float)

    # leaves: sparse lognormal abundance. A fixed handful of prevalent
    # leaves carry a strong label signal, so the competition keeps a similar
    # winner set (and dietML and SHAP a similar width) from seed to seed
    n_leaf = counts[-1]
    prevalence = shape.beta(0.6, 8.0, n_leaf)
    signal = shape.choice(n_leaf, SIGNAL_LEAVES, replace=False)
    prevalence[signal] = 0.7
    present = rng.random((n_leaf, n_samples)) < prevalence[:, None]
    present[:, 0] = True  # no leaf is all-zero
    vals = rng.lognormal(0.0, 1.0, (n_leaf, n_samples))
    vals[signal] *= 1.0 + SIGNAL_SHIFT * y[None, :]
    leaf = np.where(present, vals, 0.0)

    # observed ancestors = sums of their children, deepest first
    values = [None] * 7
    values[6] = leaf
    for lvl in range(5, -1, -1):
        acc = np.zeros((counts[lvl], n_samples))
        np.add.at(acc, parent_of[lvl + 1], values[lvl + 1])
        values[lvl] = acc

    rows, data = [], []
    n_missing = 0
    for lvl in range(7):
        keep = np.ones(counts[lvl], dtype=bool)
        if lvl < 6:
            # drop a share of internal rows (never level 1: a missing root
            # would make every kingdom an unobserved rollup)
            drop = shape.random(counts[lvl]) < missing_share
            if lvl == 0:
                drop[:] = False
            keep = ~drop
            n_missing += int(drop.sum())
        v = values[lvl].copy()
        if 0 < lvl < 6:
            # a few populated parents that differ from the sum of children
            bump = shape.random(counts[lvl]) < 0.05
            v[bump] *= 1.1
        for i in np.flatnonzero(keep):
            rows.append(paths[lvl][i])
            data.append(v[i])
    wide = pd.DataFrame(np.vstack(data), columns=subjects)
    wide.insert(0, "clade_name", rows)
    return HfeTable(meta=meta, wide=wide, missing_internal=n_missing)


# -- F5/F6 --------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class PitCorpus:
    docs: pd.DataFrame  # doc_id int64, ts int64, text
    injected: set[int]  # doc ids that are near-duplicates of a lower id
    snapshots: pd.DataFrame  # snapshot_ts int64, word, clade_path
    events: pd.DataFrame  # event_id, user_id, ts (int64 s), value (nullable)
    attrs: pd.DataFrame  # user_id, valid_ts, segment
    session_gap: int

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name in ("docs", "snapshots", "events", "attrs"):
            getattr(self, name).to_parquet(
                os.path.join(directory, f"{name}.parquet"), index=False
            )


def pit_corpus(
    seed: int,
    n_docs: int = 2000,
    dup_share: float = 0.1,
    words_per_doc: int = 50,
    vocab_size: int = 2000,
    n_users: int = 1000,
    n_events: int = 100_000,
    session_gap: int = 1800,
) -> PitCorpus:
    rng = np.random.default_rng(seed)

    # vocabulary of distinct lowercase words (3-9 letters)
    vocab: set[str] = set()
    while len(vocab) < vocab_size:
        k = int(rng.integers(3, 10))
        vocab.add("".join(rng.choice(_LETTERS, k)))
    vocab_arr = np.array(sorted(vocab))

    # documents; the injected near-duplicates copy a lower-id doc and change
    # one letter of one word (character 5-shingle Jaccard about 0.97). With
    # a whole word changed (Jaccard about 0.94) the 64-hash estimate fell
    # below the 0.8 threshold for one pair in a few thousand
    n_dup = int(n_docs * dup_share)
    word_idx = rng.integers(0, vocab_size, (n_docs, words_per_doc))
    dup_ids = np.sort(rng.choice(np.arange(n_docs // 4, n_docs), n_dup, replace=False))
    dup_set = set(int(d) for d in dup_ids)
    originals = [i for i in range(n_docs) if i not in dup_set]
    words = [list(vocab_arr[row]) for row in word_idx]
    for d in dup_ids:
        src = int(originals[rng.integers(0, np.searchsorted(originals, d))])
        words[d] = list(words[src])
        j = int(rng.integers(0, words_per_doc))
        w = words[d][j]
        k = int(rng.integers(0, len(w)))
        c = _LETTERS[(np.searchsorted(_LETTERS, w[k]) + 1 + rng.integers(0, 25)) % 26]
        words[d][j] = w[:k] + c + w[k + 1 :]
    texts = [" ".join(ws) for ws in words]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "ts": rng.integers(100, 400, n_docs).astype(np.int64),
            "text": texts,
        }
    )

    # two snapshots: v2 moves every word whose first letter is in a-f to a
    # different class, so a leaked (wrong-version) join changes the counts
    first = np.array([w[0] for w in vocab_arr])
    second = np.array([w[1] for w in vocab_arr])
    moved = np.isin(first, list("abcdef"))
    v1 = [f"root|c_{f}|o_{f}{s}" for f, s in zip(first, second)]
    v2 = [
        f"root|c_z{f}|o_{f}{s}" if m else p
        for f, s, m, p in zip(first, second, moved, v1)
    ]
    snapshots = pd.DataFrame(
        {
            "snapshot_ts": np.repeat(np.array([100, 250], dtype=np.int64), vocab_size),
            "word": np.concatenate([vocab_arr, vocab_arr]),
            "clade_path": v1 + v2,
        }
    )

    # event stream: per-user sorted times with exponential inter-arrivals,
    # a quarter of them longer than the session gap; rows are shuffled so
    # arrivals are out of order; 15% of values are null (LOCF input)
    user = rng.integers(0, n_users, n_events)
    user[:n_users] = np.arange(n_users)  # every user has events
    gaps = np.where(
        rng.random(n_events) < 0.25,
        rng.integers(session_gap + 1, 4 * session_gap, n_events),
        rng.integers(1, session_gap // 4, n_events),
    )
    order = np.argsort(user, kind="stable")
    ts = np.empty(n_events, dtype=np.int64)
    su = user[order]
    cum = np.cumsum(gaps[order])
    start_idx = np.r_[0, np.flatnonzero(np.diff(su)) + 1]
    base = np.repeat(cum[start_idx] - gaps[order][start_idx], np.diff(np.r_[start_idx, n_events]))
    ts[order] = 1_700_000_000 + cum - base
    value = np.round(rng.normal(10.0, 3.0, n_events), 3)
    value[rng.random(n_events) < 0.15] = np.nan
    perm = rng.permutation(n_events)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64)[perm],
            "user_id": user[perm].astype(np.int64),
            "ts": ts[perm],
            "value": value[perm],
        }
    )

    # versioned user attributes: 3 versions per user, one row per (user, ts)
    t_lo, t_hi = int(ts.min()), int(ts.max())
    vt = np.sort(rng.integers(t_lo - 1000, t_hi, (n_users, 3)), axis=1)
    vt[:, 1] = np.maximum(vt[:, 1], vt[:, 0] + 1)
    vt[:, 2] = np.maximum(vt[:, 2], vt[:, 1] + 1)
    attrs = pd.DataFrame(
        {
            "user_id": np.repeat(np.arange(n_users, dtype=np.int64), 3),
            "valid_ts": vt.reshape(-1).astype(np.int64),
            "segment": rng.choice(["a", "b", "c", "d"], n_users * 3),
        }
    )
    return PitCorpus(
        docs=docs,
        injected=dup_set,
        snapshots=snapshots,
        events=events,
        attrs=attrs,
        session_gap=session_gap,
    )
