"""Seeded 7-level synthetic taxonomy for the rollup tests.

A MetaPhlAn-like long table (clade_name, entity_id, value): every parent has
at least one child, child names repeat under different parents, leaves are
sparse (zeros kept as presence rows, some pairs absent), a share of internal
rows is dropped so the observed-wins rollup has missing ancestors to
resolve — runs of them several levels deep — and a few observed parents
differ from the sum of their children. Pure numpy, no Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RANKS = ("k", "p", "c", "o", "f", "g", "s")
LEVEL_COUNTS = (2, 4, 7, 11, 18, 30, 48)


def deep_tree_long(
    seed: int, n_entities: int = 12, missing_share: float = 0.4
) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    entities = [f"s{j:02d}" for j in range(n_entities)]
    paths = [[f"k__k{i}" for i in range(LEVEL_COUNTS[0])]]
    parent_of = [np.full(LEVEL_COUNTS[0], -1)]
    for lvl in range(1, 7):
        n, n_par = LEVEL_COUNTS[lvl], LEVEL_COUNTS[lvl - 1]
        par = np.sort(
            np.concatenate([np.arange(n_par), rng.integers(0, n_par, n - n_par)])
        )
        names, seen = [], {}
        for p in par:
            k = seen.get(p, 0)
            seen[p] = k + 1
            names.append(f"{paths[lvl - 1][p]}|{RANKS[lvl]}__{RANKS[lvl]}{k}")
        paths.append(names)
        parent_of.append(par)

    leaf = np.where(
        rng.random((LEVEL_COUNTS[-1], n_entities)) < 0.4,
        rng.lognormal(0.0, 1.0, (LEVEL_COUNTS[-1], n_entities)),
        0.0,
    )
    values = [None] * 6 + [leaf]
    for lvl in range(5, -1, -1):
        acc = np.zeros((LEVEL_COUNTS[lvl], n_entities))
        np.add.at(acc, parent_of[lvl + 1], values[lvl + 1])
        values[lvl] = acc * np.where(rng.random(LEVEL_COUNTS[lvl]) < 0.1, 1.1, 1.0)[:, None]

    rows = []
    for lvl in range(7):
        keep = lvl == 6 or rng.random(LEVEL_COUNTS[lvl]) >= missing_share
        for i in np.flatnonzero(np.broadcast_to(keep, LEVEL_COUNTS[lvl])):
            # leaves drop a share of their zero pairs: absent, not present-zero
            drop = (values[lvl][i] == 0.0) & (rng.random(n_entities) < 0.5)
            rows += [
                (paths[lvl][i], e, float(v))
                for e, v, d in zip(entities, values[lvl][i], drop)
                if not d
            ]
    return pd.DataFrame(rows, columns=["clade_name", "entity_id", "value"])
