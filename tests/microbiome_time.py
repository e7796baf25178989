"""Seeded stand-in for the reference's time-series example pair
(``metadata_time.txt`` / ``microbiome_time.txt``).

The reference's random-effects example follows individuals over several
time points: the metadata has one row per sample (``subject_id``, the
``Intervention`` label, ``individual``, ``time``) and the hierarchical
matrix one row per clade and one column per sample. This pair has the same
shape: the taxonomy and abundances come from ``deep_tree.deep_tree_long``
(7 levels, missing internal rows, sparse leaves), pivoted wide with absent
pairs as zeros, and each individual keeps one label over its time points.

    from microbiome_time import write_time_pair
    meta_path, data_path = write_time_pair(tmp_dir)  # TSV files, same seed every call
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from deep_tree import deep_tree_long

SEED = 2024
N_INDIVIDUALS = 12
N_TIMES = 4


def time_pair(seed: int = SEED) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(metadata, wide matrix) as pandas frames; every draw is seeded."""
    n = N_INDIVIDUALS * N_TIMES
    long = deep_tree_long(seed, n_entities=n)
    wide = (
        long.pivot_table(
            index="clade_name", columns="entity_id", values="value", fill_value=0.0
        )
        .reset_index()
        .rename_axis(columns=None)
    )
    entities = [c for c in wide.columns if c != "clade_name"]
    rng = np.random.default_rng(seed)
    labels = rng.permutation(np.array(["control", "treated"] * (N_INDIVIDUALS // 2)))
    meta = pd.DataFrame(
        {
            "subject_id": entities,
            "Intervention": [labels[i // N_TIMES] for i in range(n)],
            "individual": [f"ind{i // N_TIMES:02d}" for i in range(n)],
            "time": [i % N_TIMES for i in range(n)],
        }
    )
    return meta, wide


def write_time_pair(directory: str, seed: int = SEED) -> tuple[str, str]:
    """Write the pair as tab-separated ``metadata_time.txt`` and
    ``microbiome_time.txt`` in ``directory``; returns both paths."""
    meta, wide = time_pair(seed)
    meta_path = os.path.join(directory, "metadata_time.txt")
    data_path = os.path.join(directory, "microbiome_time.txt")
    meta.to_csv(meta_path, sep="\t", index=False)
    wide.to_csv(data_path, sep="\t", index=False)
    return meta_path, data_path
