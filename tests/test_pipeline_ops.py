"""Tests for dedup, text stats and similarity — on the
real documents/embeddings testdata plus engineered cases."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from taxahfe_spark import session
from taxahfe_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from taxahfe_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    train_ivf_centroids,
)
from taxahfe_spark.operators.textstats import (
    contamination_score,
    language_id,
    text_stats,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other"), (4, "hello world ")],
        ["doc_id", "text"],
    )
    kept = exact_dedup(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_minhash_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different content about spark engines " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sigs = minhash_signatures(df)
    pairs = minhash_lsh_pairs(sigs, threshold=0.5).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found
    kept = minhash_dedup(df, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def _lsh_pairs_reference(sigs, num_bands, max_bucket_size, threshold):
    """Band self-join in pure Python: a band bucket is the exact lane slice
    (the operator hashes it), buckets of more than max_bucket_size docs are
    dropped, and each candidate pair is scored by matching lanes."""
    from collections import defaultdict

    rows = max(1, len(next(iter(sigs.values()))) // num_bands)
    buckets = defaultdict(list)
    for doc, sig in sigs.items():
        for b in range(num_bands):
            buckets[(b, tuple(sig[b * rows:(b + 1) * rows]))].append(doc)
    cand = {
        (a, b)
        for members in buckets.values()
        if len(members) <= max_bucket_size
        for a in members
        for b in members
        if a < b
    }
    out = set()
    for a, b in cand:
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / len(sigs[a])
        if est >= threshold:
            out.add((a, b, est))
    return out


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_lsh_bucket_cap_boundary(spark, hash_fn):
    """Identical texts share every band bucket: a bucket of exactly
    max_bucket_size docs is kept, one of max_bucket_size + 1 is dropped, and
    the candidate set (threshold 0) and the scored pairs match a pure-Python
    band self-join."""
    import random

    rng = random.Random(5)
    vocab = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 7))) for _ in range(60)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(1, 21)]
    # near-duplicates: one letter of the first word changed
    rows += [(20 + i, "z" + t[1:]) for i, t in rows[:5]]
    cap = 4
    kept_text, dropped_text = (" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(2))
    rows += [(100 + i, kept_text) for i in range(cap)]
    rows += [(200 + i, dropped_text) for i in range(cap + 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, hash_fn=hash_fn)
    sig_map = {r["doc_id"]: list(r["sig"]) for r in sigs.collect()}
    kept_pairs = {(100 + i, 100 + j, 1.0) for i in range(cap) for j in range(i + 1, cap)}
    for threshold in (0.0, 0.5):
        want = _lsh_pairs_reference(sig_map, 16, cap, threshold)
        got = minhash_lsh_pairs(
            sigs, threshold=threshold, max_bucket_size=cap, hash_fn=hash_fn
        ).collect()
        got = {(r["a"], r["b"], r["est_jaccard"]) for r in got}
        assert got == want
        assert kept_pairs <= got
        assert not any(b >= 200 for _, b, _ in got)
    sigs.unpersist()


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["a", "b"]
    )
    cc = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[7] == cc[8] == 7


def test_simhash_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("dog", "dogs", 2)
    far = "unrelated text about query optimizers and shuffles " * 10
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    fp = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}

    def hamming(a, b):
        return bin((fp[a] ^ fp[b]) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(1, 2) <= 6
    assert hamming(1, 3) > 6


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    found = {(r["a"], r["b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in found
    # docs 1,2: 4 trigrams each, 3 shared -> jaccard 3/5
    assert found[(1, 2)] == pytest.approx(0.6)
    assert not any(3 in k for k in found)


def test_text_stats_and_quality(docs):
    st = text_stats(docs)
    row = st.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert st.filter("n_words <= 0").count() == 0
    assert st.count() == docs.count()


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy"),
            (2, "der Hund ist nicht mit der Katze im Haus"),
            (3, "le chat est dans la maison pour les vacances"),
            (4, "el perro es una mascota en la casa"),
            (5, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}


def test_token_counts(docs):
    tc = token_counts(docs)
    row = tc.filter("n_chars > 20").first()
    assert row["n_words"] > 0 and row["n_bpe_units"] >= row["n_words"]


def test_contamination_score_engineered(spark):
    """Hand-checkable leakage fractions: a verbatim copy scores 1.0, a
    half-leaked doc scores its exact distinct-trigram overlap, clean text
    scores 0.0 and still appears in the output."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # verbatim
            (2, "the quick brown fox went somewhere else entirely today"),
            (3, "completely clean text with no overlap whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in contamination_score(docs, bench, n=3).collect()
    }
    assert got[1]["contamination"] == 1.0
    # doc 2: 9 words -> 7 distinct trigrams, leaked = {"the quick brown",
    # "quick brown fox"} -> 2/7
    assert got[2]["n_ngrams"] == 7 and got[2]["n_matched"] == 2
    assert abs(got[2]["contamination"] - round(2 / 7, 6)) < 1e-9
    assert got[3]["n_matched"] == 0 and got[3]["contamination"] == 0.0


def test_contamination_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    """BROADCAST_MAX_ROWS=0 forces the hashed shuffle semi join; values must
    equal the broadcast path exactly (the xxhash64 key is an 1:1 stand-in for
    the gram at test scale)."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox went somewhere else entirely today"),
            (3, "completely clean text with no overlap whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    fast = contamination_score(docs, bench, n=3).orderBy("doc_id").collect()
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    slow = (
        contamination_score(docs, bench, n=3)
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_contamination_empty_docs_emit_no_grams(spark):
    """A zero-word doc must get NO output row, and an empty benchmark doc
    must not make every empty training doc score contamination 1.0 via the
    '' gram (ADVICE r5)."""
    bench = spark.createDataFrame(
        [(100, ""), (101, "real benchmark text here")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real benchmark text here")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in contamination_score(docs, bench, n=3).collect()}
    assert 1 not in got and 2 not in got  # no spurious full-leak rows
    assert got[3]["contamination"] == 1.0


def test_ivf_centroids_no_count_sample_path(emb):
    """The default (no n_rows hint) trainer samples via TakeOrdered on
    xxhash64(id) — no corpus.count() job. When the corpus exceeds
    sample_size it must keep exactly sample_size content-keyed rows and stay
    layout-invariant; the n_rows-hint path must keep working too."""
    C1 = train_ivf_centroids(emb, 4, seed=3, sample_size=50)
    C2 = train_ivf_centroids(emb.repartition(5), 4, seed=3, sample_size=50)
    np.testing.assert_array_equal(C1, C2)
    # hint path: small corpus short-circuits to the full frame
    n = emb.count()
    C3 = train_ivf_centroids(emb, 4, seed=3, n_rows=n)
    C4 = train_ivf_centroids(emb, 4, seed=3, n_rows=n, sample_size=10**9)
    np.testing.assert_array_equal(C3, C4)


def test_cosine_topk_vs_numpy(emb):
    queries = emb.filter("vec_id < 3")
    got = cosine_topk(queries, emb, k=5).toPandas()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for qid in [0, 1, 2]:
        qv = mat[ids == qid][0]
        cos = mat @ qv / (norms * np.linalg.norm(qv) + 1e-300)
        order = [
            int(ids[i])
            for i in sorted(range(len(ids)), key=lambda i: (-round(cos[i], 8), ids[i]))
            if ids[i] != qid
        ][:5]
        gq = got[got["query_id"] == qid].sort_values("rank")["match_id"].tolist()
        assert gq == order


def test_ivf_exhaustive_probe_equals_brute_force(emb):
    """nprobe == n_centroids scores every (query, row) pair exactly once —
    the IVF machinery must be bit-identical to the exact baseline
    (assignment, probe lists, local top-k pruning all exercised)."""
    queries = emb.filter("vec_id < 10")
    exact = (
        cosine_topk(queries, emb, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    ivf = (
        ivf_topk(queries, emb, k=5, n_centroids=6, nprobe=6, seed=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert exact["match_id"].tolist() == ivf["match_id"].tolist()
    np.testing.assert_allclose(
        exact["cosine"].to_numpy(), ivf["cosine"].to_numpy(), rtol=0, atol=0
    )


def test_ivf_centroids_deterministic_and_unit_norm(emb):
    C1 = train_ivf_centroids(emb, 8, seed=11)
    C2 = train_ivf_centroids(emb, 8, seed=11)
    np.testing.assert_array_equal(C1, C2)
    np.testing.assert_allclose(np.linalg.norm(C1, axis=1), 1.0, rtol=1e-9)
    # and layout-invariant: a repartitioned corpus trains the same quantizer
    C3 = train_ivf_centroids(emb.repartition(7), 8, seed=11)
    np.testing.assert_array_equal(C1, C3)


def test_ivf_recall_on_clustered_corpus(spark):
    """nprobe < n_centroids must still recall neighbors that live in the
    query's own cluster — the semantics the pruning is allowed to keep."""
    rng = np.random.default_rng(17)
    dim, per = 16, 40
    centers = rng.normal(0, 1, (5, dim))
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(per):
            v = c + rng.normal(0, 0.08, dim)
            rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist(), ci))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cluster int")
    queries = df.filter("vec_id % 40 = 0")  # one query per cluster
    exact = cosine_topk(queries, df, k=10).toPandas()
    approx = ivf_topk(
        queries, df, k=10, n_centroids=5, nprobe=2, seed=17
    ).toPandas()
    recalls = []
    for qid in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == qid]["match_id"])
        a = set(approx[approx["query_id"] == qid]["match_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.9  # tight clusters: own-list probing recalls


def test_ann_self_pairs_recall_vs_exact(spark):
    """ann_self_pairs (LSH-bucketed) must find planted near-duplicate pairs
    with precision 1 (exact rescoring) and high recall vs cosine_allpairs."""
    import numpy as np
    from taxahfe_spark.operators.similarity import ann_self_pairs, cosine_allpairs

    rng = np.random.default_rng(8)
    rows = []
    base_vecs = rng.normal(0, 1, (40, 16))
    vid = 0
    for i in range(40):
        v = base_vecs[i] / np.linalg.norm(base_vecs[i])
        rows.append((vid, [float(x) for x in v])); vid += 1
        if i % 4 == 0:  # planted near-dup: tiny perturbation
            w = v + rng.normal(0, 0.01, 16)
            rows.append((vid, [float(x) for x in w])); vid += 1
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = {
        (r["a"], r["b"])
        for r in cosine_allpairs(df, 0.95).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in ann_self_pairs(df, 0.95, n_planes=8, n_tables=8, seed=1).collect()
    }
    assert approx <= exact  # precision 1 by construction
    assert len(exact) >= 10
    assert len(approx) / len(exact) >= 0.8  # recall with 8 tables


def test_output_and_level_summary_sinks(spark, tmp_path):
    """S3/S4 sinks round-trip: winner matrix CSV and per-depth transposed
    summary CSVs (entity rows x feature cols, metadata joined, zeros for
    implicit-zero entities)."""
    import pandas as pd
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.pipeline import (
        winner_feature_matrix,
        write_level_summary_csvs,
        write_output_file,
    )
    from taxahfe_spark.taxonomy import hierarchical_rollup

    rows = [
        ("k__a|p__x", "s1", 3.0),
        ("k__a|p__x", "s2", 1.0),
        ("k__a|p__y", "s1", 2.0),
        # s3 appears in the data but has no p__x/p__y rows via k__b only
        ("k__b|p__z", "s3", 5.0),
    ]
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    meta = spark.createDataFrame(
        [("s1", "hi"), ("s2", "lo"), ("s3", "lo")],
        "subject_id string, feature_of_interest string",
    )
    resolved = hierarchical_rollup(long)
    state = (
        feature_filter_flags(resolved, 3, 0.0, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    state["winner"] = state["path"].isin(["k__a|p__x", "k__b|p__z"])
    state["sf_winner"] = False

    mat = winner_feature_matrix(resolved, state, metadata=meta)
    out_dir = str(tmp_path / "out")
    write_output_file(mat, out_dir)
    import glob

    got = pd.read_csv(glob.glob(f"{out_dir}/part*.csv")[0]).sort_values("subject_id")
    assert set(got["subject_id"]) == {"s1", "s2", "s3"}
    # implicit-zero entity s3 present with 0 for the k__a winner
    assert got.set_index("subject_id").loc["s3", "k_a_p_x"] == 0.0

    lv_dir = str(tmp_path / "levels")
    written = write_level_summary_csvs(resolved, state, meta, lv_dir)
    assert len(written) == 2  # levels 1 and 2
    l2 = pd.read_csv(glob.glob(f"{lv_dir}/level_2/part*.csv")[0])
    assert {"k_a_p_x", "k_a_p_y", "k_b_p_z", "feature_of_interest"} <= set(l2.columns)
    assert len(l2) == 3


def test_legacy_v1_and_oudah_sinks(spark, tmp_path):
    """S5/S6/T8/J3: legacy exports match the reference's file shapes
    (lib/tree.R:247-305): v1 = every node wide; oudah = 3 tab files with
    index from 1001, level columns, and a label row ordered by the
    abundance columns."""
    import glob

    import pandas as pd
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.pipeline import write_oudah_input, write_v1_input_file
    from taxahfe_spark.taxonomy import hierarchical_rollup

    rows = [
        ("k__a|p__x|s__1", "s1", 3.0), ("k__a|p__x|s__1", "s2", 1.0),
        ("k__a|p__x|s__2", "s1", 2.0), ("k__a|p__y|s__3", "s2", 4.0),
    ]
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    meta = spark.createDataFrame(
        [("s1", "hi"), ("s2", "lo")], "subject_id string, feature_of_interest string"
    )
    resolved = hierarchical_rollup(long)
    state = (
        feature_filter_flags(resolved, 2, 0.0, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )

    v1 = write_v1_input_file(resolved, str(tmp_path))
    got = pd.read_csv(glob.glob(f"{v1}/part*.csv")[0])
    assert list(got.columns) == ["clade_name", "s1", "s2"]
    assert len(got) == 6  # 3 leaves + 2 mid + 1 root-level (all nodes)

    paths = write_oudah_input(resolved, state, meta, str(tmp_path / "oudah"))
    taxa = pd.read_csv(paths["taxa"], sep="\t", header=None)
    otu = pd.read_csv(paths["otu"], sep="\t", header=None)
    lab = open(paths["label"]).read().strip().split("\t")
    assert (taxa[0] >= 1001).all() and (taxa[1] == "k__Bacteria").all()
    assert taxa.shape == (3, 4)  # index + 3 level columns, 3 leaf rows
    assert otu.shape == (3, 3)  # index + 2 entity columns
    assert lab == ["label", "hi", "lo"]


def test_connected_components_long_chain_converges(spark):
    """A duplicate CHAIN much longer than max_iters must still converge:
    pointer shortcutting makes label depth halve per round (O(log diameter)),
    so a 600-node path graph resolves to one cluster well within the default
    10 rounds (pure min-propagation would need 600)."""
    from taxahfe_spark.operators.dedup import connected_components

    n = 600
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    cc = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert len(cc) == n
    assert set(cc.values()) == {0}

def test_connected_components_nonconvergence_raises_and_extend_recovers(spark):
    """Convergence certificate at the boundary: a 300-node chain cannot
    certify convergence in 2 rounds even with shortcutting, so the default
    on_max_iters='raise' must hard-error (a partial labeling would silently
    split one duplicate cluster into many); 'extend' (4x budget = 12 rounds,
    reach 2^11 > 300 plus the certification round) must then converge to
    the single true cluster."""
    import pytest as _pytest

    from taxahfe_spark.operators.dedup import connected_components

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)
    cc = {
        r["id"]: r["cluster"]
        for r in connected_components(
            pairs, max_iters=3, on_max_iters="extend"
        ).collect()
    }
    assert len(cc) == n and set(cc.values()) == {0}


def test_connected_components_random_graphs_match_networkx_free_oracle(spark):
    """Property check on random graphs: labels equal the min id of each true
    component, computed by an independent pure-python union-find oracle."""
    import random

    from taxahfe_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(60 + 20 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = sorted({v for e in edges for v in e})
        expected = {v: find(v) for v in touched}
        # oracle roots are min ids by construction (union to min)
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["id"]: r["cluster"] for r in connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial}"


def test_embedding_dedup_chain_and_singletons(spark):
    """embedding_dedup: a near-dup CHAIN (a~b~c with no direct a~c edge)
    collapses to one component with the min-id keeper; singletons keep
    themselves; every input row appears exactly once in the output."""
    import numpy as np
    from taxahfe_spark.operators.similarity import embedding_dedup

    # chain 0~1~2 by planar rotation: consecutive cosine = cos(0.1) ~ 0.995,
    # ends cosine = cos(0.2) ~ 0.980 — a threshold of 0.99 links ONLY the
    # consecutive pairs, so the 3-node component exists purely via label
    # propagation. 7/9 are orthogonal axes: singletons.
    def planar(theta):
        v = np.zeros(8)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return [float(x) for x in v]

    e = np.eye(8)
    rows = [
        (0, planar(0.0)),
        (1, planar(0.1)),
        (2, planar(0.2)),
        (7, [float(x) for x in e[2]]),
        (9, [float(x) for x in e[3]]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in embedding_dedup(df, 0.99).collect()}
    assert set(out) == {0, 1, 2, 7, 9}
    assert [out[i]["rep_id"] for i in (0, 1, 2)] == [0, 0, 0]
    assert [out[i]["keep"] for i in (0, 1, 2)] == [True, False, False]
    for i in (7, 9):
        assert out[i]["rep_id"] == i and out[i]["keep"]


def test_embedding_dedup_lsh_matches_exact_on_planted_dups(spark):
    """The LSH candidate path agrees with the exact path on well-separated
    planted duplicates (high threshold, enough tables for recall 1 here)."""
    import numpy as np
    from taxahfe_spark.operators.similarity import embedding_dedup

    rng = np.random.default_rng(21)
    rows, vid = [], 0
    for i in range(30):
        v = rng.normal(0, 1, 16)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
        if i % 5 == 0:
            w = v + rng.normal(0, 0.005, 16)
            w /= np.linalg.norm(w)
            rows.append((vid, [float(x) for x in w])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["vec_id"], r["rep_id"], r["keep"])
        for r in embedding_dedup(df, 0.98, method="exact").collect()
    }
    lsh = {
        (r["vec_id"], r["rep_id"], r["keep"])
        for r in embedding_dedup(
            df, 0.98, method="lsh", n_planes=6, n_tables=10, seed=5
        ).collect()
    }
    assert exact == lsh
    assert sum(1 for _, _, k in exact if not k) == 6  # one dup per planted pair


def test_pii_scrub_redacts_and_counts(spark):
    from taxahfe_spark.operators.textstats import pii_scrub

    rows = [
        (1, "mail me at a.b+c@ex-am.ple.org or b@x.io thanks"),
        (2, "see https://a.example/p?q=1 and http://b.io/x"),
        (3, "call +1 (555) 010-0199 or 555 010 0199 now"),
        (4, "host 10.0.0.7 and 192.168.1.255 up"),
        (5, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_email"] == 2
    assert "<EMAIL>" in got[1]["text_scrubbed"] and "@" not in got[1]["text_scrubbed"]
    assert got[2]["n_url"] == 2
    assert "https://" not in got[2]["text_scrubbed"]
    assert got[3]["n_phone"] == 2
    assert "555" not in got[3]["text_scrubbed"]
    assert got[4]["n_ipv4"] == 2
    assert "10.0.0.7" not in got[4]["text_scrubbed"]
    assert got[5]["text_scrubbed"] == rows[4][1]
    assert all(got[5][f"n_{k}"] == 0 for k in ("email", "url", "phone", "ipv4"))


def test_gopher_rules_reasons(spark):
    from taxahfe_spark.operators.textstats import gopher_rules

    # mostly-unique words keep dup_word_frac low; "the"/"is" repeats stay
    # under 0.3; word lengths average in the 3..10 band
    long_good = " ".join(
        f"the wordalpha{i} wordbravo{i} wordcharlie{i} worddelta{i} wordecho{i} is"
        for i in range(10)
    )
    rows = [
        (1, long_good),                      # passes everything
        (2, "short text"),                   # too few words (+ too few stopwords)
        (3, "the " + "spam " * 60 + "is a thing"),  # high dup-word fraction
        (4, "the 123 456 789 000 111 222 333 444 555 666 is a " + "x1 " * 40),  # low alpha
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(df, min_words=20).collect()}
    assert got[1]["keep"] and got[1]["reject_reasons"] == []
    assert not got[2]["keep"]
    assert "too_few_words" in got[2]["reject_reasons"]
    assert not got[3]["keep"]
    assert "high_dup_word_frac" in got[3]["reject_reasons"]
    assert not got[4]["keep"]
    assert "low_alpha_ratio" in got[4]["reject_reasons"]


def test_epoch_shuffle_dense_deterministic_and_epoch_varying(spark, monkeypatch):
    from taxahfe_spark.tokens import epoch_shuffle

    rows = [(i, "s") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
    a = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=1, epoch=0).collect()}
    b = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=1, epoch=0).collect()}
    c = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=1, epoch=1).collect()}
    assert a == b                              # reproducible
    assert sorted(a.values()) == list(range(300))  # dense permutation
    assert a != c                              # epoch changes the order
    # chunked branch (TAXAHFE_DISTRIBUTED=1) produces the IDENTICAL permutation
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    d = {
        r["doc_id"]: r["shuffle_pos"]
        for r in epoch_shuffle(df, seed=1, epoch=0).collect()
    }
    assert d == a


def test_incremental_minhash_dedup(spark):
    """Cross-frame near-dup ingestion: a batch doc near-identical to a
    corpus doc is dropped, fresh content survives, and the precomputed
    corpus_sigs path (the production index shape) gives identical results.
    Within-batch duplicates are intentionally NOT this operator's job."""
    from taxahfe_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    fresh = "completely different content about spark engines " * 8
    corpus = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, near), (2, fresh), (3, base)], ["doc_id", "text"]
    )
    kept = incremental_minhash_dedup(new, corpus, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]

    sigs = minhash_signatures(corpus)
    kept2 = incremental_minhash_dedup(new, corpus, threshold=0.5, corpus_sigs=sigs)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [2]


def test_gopher_rules_zero_word_doc_matches_duckdb_oracle(spark):
    """ADVICE r6: a punctuation-only (zero-word) document must get the SAME
    filter decision from the Spark operator and the DuckDB oracle. Spark's
    F.aggregate with a 0.0 init yields mean_wl = 0.0 (rule fires); DuckDB's
    list_aggregate([], 'sum') is NULL, which the oracle now coalesces to
    0.0 so the CASE fires identically."""
    import duckdb

    from taxahfe_spark.operators.textstats import gopher_rules

    rows = [
        (1, "!!! ??? ... --- !!!"),  # zero words after tokenization
        (2, "the quick brown " + " ".join(f"fox{i}" for i in range(40)) + " is here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(df, min_words=20).collect()}
    assert not got[1]["keep"]
    assert "too_few_words" in got[1]["reject_reasons"]
    assert "mean_word_len_out_of_range" in got[1]["reject_reasons"]

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            "(%d, %s)" % (i, "'" + t.replace("'", "''") + "'") for i, t in rows
        )
        + ") AS t(doc_id, text)"
    )
    # the driver oracle uses min_words=40; the operator default compare
    # needs the same threshold, so swap the literal for this fixture
    sql = entry._GOPHER_ORACLE.replace("n_words < 40", "n_words < 20")
    oracle = {
        r[0]: (r[1], set(r[2].split(",")) if r[2] else set())
        for r in con.execute(sql).fetchall()
    }
    for i, _ in rows:
        assert oracle[i][0] == got[i]["keep"], f"keep mismatch doc {i}"
        assert oracle[i][1] == set(got[i]["reject_reasons"]), f"reasons mismatch doc {i}"


def test_incremental_minhash_dedup_keeps_caller_cache(spark):
    """ADVICE r6: a caller-provided corpus_sigs index must stay cached
    after the call — the function may not unpersist storage it does not
    own (that would destroy the cross-batch reuse the parameter exists
    for)."""
    from taxahfe_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    corpus = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    new = spark.createDataFrame([(1, base), (2, "fresh content " * 20)], ["doc_id", "text"])
    sigs = minhash_signatures(corpus).persist()
    sigs.count()
    assert sigs.storageLevel.useMemory
    kept = incremental_minhash_dedup(new, corpus, threshold=0.5, corpus_sigs=sigs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]
    assert sigs.storageLevel.useMemory, "caller-owned cache was evicted"
    sigs.unpersist()


def _hfe_inputs_with_nulls(spark, sf_dir):
    """The supplier hierarchy, plus the same frame with a null-entity row and
    a null-value row appended (the null entity is pruned by the metadata
    join; the null value routes the rollup to the distributed path)."""
    import __spark_entry__ as em

    long, meta = em.supplier_hierarchy(spark, sf_dir)
    first = long.first()
    extra = spark.createDataFrame(
        [(first["clade_name"], None, 5.0), (first["clade_name"], first["entity_id"], None)],
        long.schema,
    )
    return [(long, meta), (long.unionByName(extra), meta)]


def test_driver_prefix_parity_with_distributed(spark, sf_dir, monkeypatch):
    """The driver tree (numpy rollup/flags/vectors, fork-pool stages) must
    produce the exact same competition state and winner matrix as the
    distributed path (TAXAHFE_DISTRIBUTED=1: one-exchange rollup, vectors groupBy,
    Spark competition stages) — null inputs included."""
    import pandas as pd

    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=4, seed=7,
        super_filter_nperm_factor=2,
    )
    for long, meta in _hfe_inputs_with_nulls(spark, sf_dir):
        frames = {}
        for tag, switch in (("driver", "0"), ("distributed", "1")):
            monkeypatch.setenv("TAXAHFE_DISTRIBUTED", switch)
            tree, state = taxa_hfe(
                meta, long, params=params, filter_prevalence=0.05
            )
            mat = winner_feature_matrix(tree, state, metadata=meta).toPandas()
            frames[tag] = (
                state.reset_index(drop=True),
                mat.sort_values("subject_id").reset_index(drop=True)[
                    sorted(mat.columns)
                ],
            )
        pd.testing.assert_frame_equal(frames["driver"][0], frames["distributed"][0])
        pd.testing.assert_frame_equal(frames["driver"][1], frames["distributed"][1])


def test_driver_prefix_resolved_content_matches_distributed(spark, sf_dir, monkeypatch):
    """A driver tree's frame() is a driver-built local relation — its rows
    (incl. explicit zero-sum ancestor pairs and the observed flags) must
    equal the distributed rollup's output, null inputs included."""
    import pandas as pd

    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe

    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=3, seed=3,
        super_filter_nperm_factor=2,
    )
    for long, meta in _hfe_inputs_with_nulls(spark, sf_dir):
        frames = {}
        for tag, switch in (("driver", "0"), ("distributed", "1")):
            monkeypatch.setenv("TAXAHFE_DISTRIBUTED", switch)
            tree, _ = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
            pdf = tree.frame().toPandas()
            pdf["value"] = pdf["value"].round(9)
            frames[tag] = (
                pdf.sort_values(["path", "entity_id", "value"], kind="mergesort")
                .reset_index(drop=True)[sorted(pdf.columns)]
            )
        pd.testing.assert_frame_equal(
            frames["driver"], frames["distributed"], check_dtype=False
        )


def test_driver_prefix_resolved_is_deferred_until_consumed(spark, sf_dir, monkeypatch):
    """A driver tree's local relation must NOT be serialized to the JVM when
    the caller only needs the winner matrix (the two declared collapse
    queries) — and frame() must build it once, on first call."""
    import __spark_entry__ as em
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    long, meta = em.supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=3, seed=3,
        super_filter_nperm_factor=2,
    )
    monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
    tree, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
    assert tree.on_driver and tree._frame is None

    mat = winner_feature_matrix(tree, state, metadata=meta)
    mat.count()
    assert tree._frame is None, "winner_feature_matrix built the resolved frame"

    built = tree.frame()
    n = built.count()
    assert n > 0
    assert tree.frame() is built
    assert {r["entity_id"] for r in built.select("entity_id").distinct().collect()} == set(
        tree.entities
    )


def test_only_the_policy_function_reads_the_env():
    """Driver-vs-distributed is one policy (session.driver_side) with one
    switch: no other package module reads a TAXAHFE_* variable."""
    import ast
    import pathlib

    import taxahfe_spark

    root = pathlib.Path(taxahfe_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("TAXAHFE_")
                and node.value.isidentifier()
            ):
                found.add((path.relative_to(root).as_posix(), node.value))
    assert found == {("session.py", "TAXAHFE_DISTRIBUTED")}


def test_taxa_hfe_destroys_vector_broadcast(spark, sf_dir, monkeypatch):
    """A competition creates its broadcasts (vectors and design context)
    only when a Spark stage runs, and destroys each one it created before
    taxa_hfe returns: none on the default fork-pool path, two under
    TAXAHFE_DISTRIBUTED=1. The tree keeps the driver-side vectors either
    way, so the winner matrix still uses them."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    import __spark_entry__ as em
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    created, destroyed = [], []
    real_broadcast, real_destroy = SparkContext.broadcast, Broadcast.destroy

    def counting_broadcast(self, value):
        created.append(real_broadcast(self, value))
        return created[-1]

    def counting_destroy(self, blocking=False):
        destroyed.append(self)
        return real_destroy(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)
    monkeypatch.setattr(Broadcast, "destroy", counting_destroy)
    long, meta = em.supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=3, seed=3,
        super_filter_nperm_factor=2,
    )
    for distributed, n_broadcasts in ((False, 0), (True, 2)):
        if distributed:
            monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
        created.clear()
        destroyed.clear()
        tree, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
        assert len(created) == n_broadcasts
        assert {id(b) for b in destroyed} == {id(b) for b in created}
        assert tree.vectors is not None
        assert winner_feature_matrix(tree, state, metadata=meta).count() > 0


def test_assert_no_na_names_each_bad_column_with_its_count(spark):
    """The NA-fatal guard finds nulls (in a column whose name has a space)
    and NaN (in a double column), reports each bad column with its count,
    and passes clean and empty input."""
    from taxahfe_spark.pipeline import assert_no_na

    schema = "`s 2` string, d double, ok string"
    rows = [("x", 1.0, "k"), (None, float("nan"), "k"), (None, 2.0, "k")]
    df = spark.createDataFrame(rows, schema)
    assert df.filter(F.isnan("d")).count() == 1
    with pytest.raises(ValueError, match="NA cells") as err:
        assert_no_na(df)
    msg = str(err.value)
    assert "'s 2': 2" in msg and "'d': 1" in msg
    assert "'ok'" not in msg
    assert_no_na(spark.createDataFrame(rows[:1], schema))
    assert_no_na(spark.createDataFrame([], schema))


def test_assert_no_na_quotes_column_names(spark):
    """Column names with a dot or a back-quote are checked as names, not
    parsed as field paths (a CSV header can hold either)."""
    from taxahfe_spark.pipeline import assert_no_na

    schema = "`s.1` string, `a``b` string, d double"
    rows = [(None, "y", 1.0), (None, None, 2.0), ("x", "y", float("nan"))]
    with pytest.raises(ValueError, match="NA cells") as err:
        assert_no_na(spark.createDataFrame(rows, schema))
    msg = str(err.value)
    for col, n in (("s.1", 2), ("a`b", 1), ("d", 1)):
        assert f"{col!r}: {n}" in msg
    assert_no_na(spark.createDataFrame([("x", "y", 1.0)], schema))


def _factor_label_warnings(spark, tmp_path, labels):
    import warnings

    from taxahfe_spark.pipeline import read_metadata

    path = tmp_path / "meta.csv"
    lines = ["Sample,Category"] + [
        f"s{i},{'' if lab is None else lab}" for i, lab in enumerate(labels)
    ]
    path.write_text("\n".join(lines) + "\n")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = read_metadata(
            spark, str(path), "Sample", "Category", feature_type="factor"
        )
    assert df.count() == sum(lab is not None for lab in labels)
    return [w for w in caught if "PER VALUE" in str(w.message)]


def test_read_metadata_warns_on_numeric_factor_past_ten_levels(spark, tmp_path):
    """feature_type=factor warns for a numeric-valued label with more than
    10 levels, not at 10 and not for a non-numeric label; a null-label row
    is dropped before the levels and the numeric share are counted."""
    eleven = [str(1.5 * (i % 11)) for i in range(33)]
    ten = [str(i % 10) for i in range(30)]
    words = [f"w{i % 12}" for i in range(36)]
    (warning,) = _factor_label_warnings(spark, tmp_path, eleven)
    assert "(11 levels)" in str(warning.message)
    assert len(_factor_label_warnings(spark, tmp_path, eleven + [None])) == 1
    assert not _factor_label_warnings(spark, tmp_path, ten)
    assert not _factor_label_warnings(spark, tmp_path, ten + [None])
    assert not _factor_label_warnings(spark, tmp_path, words)
