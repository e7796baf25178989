"""Deduplication operators for large-scale training-data pipelines.

All four families are expressed shuffle-consciously:

- exact: hash the normalized text FIRST so the shuffle moves 8-byte keys,
  not document bodies; keep the min id per group.
- MinHash + LSH: shingle -> per-shingle xxhash64 with k seeds -> min per
  seed (one map-side-combinable groupBy), band the signature, collect the
  ids of each (band_idx, band_hash) bucket in one aggregate and pair them
  inside the bucket. Candidate verification by signature-estimated
  Jaccard. No driver participation at any step.
- SimHash: 64 weighted bit-sums per doc from word hashes, reassembled into
  one fingerprint per doc; near duplicates are within a small Hamming
  distance of each other.
- n-gram Jaccard: exact pairwise Jaccard via inverted-index self-join with a
  document-frequency cap (hot shingles are the skew killer at 100 TB — a
  shingle in 10^6 docs creates 10^12 candidate pairs; the cap bounds it).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark import session
from taxahfe_spark.tokens import words


def normalize_text(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row (min id) per exact normalized-text group.

    Scale shape: the aggregate shuffles 8-byte hash keys only, and what it
    materializes is the DUPLICATE-group frame (count > 1) — small whenever
    the duplicate fraction is modest — so unique rows (the bulk of the
    corpus) are kept IN PLACE via a broadcast anti join: document bodies
    never enter an exchange. Duplicate-group keepers come back via a
    broadcast semi join on (hash, min_id). Above
    ``session.BROADCAST_MAX_ROWS`` dup groups (extreme-duplication regime)
    both joins fall back to shuffles —
    the guard makes that switch explicit. Hash-keyed (64-bit) rather than
    collision-exact by design; dedup_sequences documents the collision-exact
    two-phase variant.
    """
    keyed = df.withColumn("__k", F.xxhash64(normalize_text(text_col)))
    dup_keep = (
        keyed.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__c"), F.min(id_col).alias(id_col))
        .filter(F.col("__c") > 1)
        .select("__k", id_col)
        .persist()
    )
    small = dup_keep.count() <= session.BROADCAST_MAX_ROWS
    anti_right = dup_keep.select("__k")
    semi_right = dup_keep
    if small:
        anti_right, semi_right = F.broadcast(anti_right), F.broadcast(semi_right)
    uniq = keyed.join(anti_right, "__k", "left_anti")
    kept_dup = keyed.join(semi_right, ["__k", id_col], "left_semi")
    return uniq.unionByName(kept_dup).drop("__k")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    Shingling via posexplode + substr stays inside whole-stage codegen (an
    equivalent transform() lambda is evaluated INTERPRETED per element —
    measured 3.4x slower); duplicate shingles are kept (min is idempotent,
    dedup would cost more than it saves); the shingle string is hashed once
    and the k lanes derive from the hashed value.

    ``hash_fn``: "xxhash64" (production path — ONE base hash per shingle,
    lanes derived as (a_i * h + b_i) mod 2^31 with seeded ODD multipliers:
    each lane is a true bijection of the 31-bit hash space, the same
    universal-hash-family idiom as Spark ML's own MinHashLSH (a*x+b mod p),
    and ~5x cheaper than one full hash per lane; additive-only double
    hashing does NOT work here — the base term dominates the ordering and
    every lane picks the same argmin) or "md5" (md5_hash60 lanes derived
    from the shingle's md5 hex — bit-identical to the DuckDB oracle, the
    same portability trick as simhash).
    """
    norm = normalize_text(text_col)
    # respread the NARROW doc frame before the ~1000x shingle explode: a
    # one-partition input would otherwise hash every shingle single-threaded.
    # (Repartitioning the exploded rows instead shuffles the full shingle
    # stream — measured 4x slower; map-side combine makes the post-agg
    # exchange tiny, so spreading the cheap side is strictly better.)
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(id_col, norm.alias("__norm")).repartition(par * 2)
    ex = base.select(
        id_col,
        "__norm",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("__norm") - shingle_k + 1, F.lit(1))
            )
        ).alias("__pos"),
    )
    shingle = F.substr("__norm", F.col("__pos"), F.lit(shingle_k))
    # the lanes are ONE SQL aggregate built from expression strings: the
    # same 64 Column trees built through the Python API cost ~5,000 py4j
    # round trips per call, more than the aggregate itself on small inputs
    if hash_fn == "md5":
        sh = ex.select(
            id_col,
            F.md5(
                F.concat(shingle, F.lit(f":{seed}")).cast("binary")
            ).alias("h0"),
        )
        # md5_hash60(concat(h0, ':i')), spelled out
        lanes = [
            "CAST(conv(substring(md5(CAST(concat(h0, ':%d') AS BINARY)), 1, 15), 16, 10)"
            " AS BIGINT)" % i
            for i in range(num_hashes)
        ]
    else:
        # (a_i * h + b_i) mod 2^31: 31-bit operands keep the product under
        # 2^62 (ANSI bigint arithmetic never overflows); odd a_i makes each
        # lane a bijection of Z_2^31, so lane argmins decorrelate like
        # independent permutations. a_i, b_i and 2^31 - 1 are int literals
        # and h0 is a bigint, so the lane arithmetic is bigint
        m31 = (1 << 31) - 1
        sh = ex.select(
            id_col,
            F.xxhash64(shingle, F.lit(seed)).bitwiseAND(F.lit(m31)).alias("h0"),
        )
        lanes = []
        for i in range(num_hashes):
            a = (zlib.crc32(f"{seed}:a{i}".encode()) & m31) | 1
            b = zlib.crc32(f"{seed}:b{i}".encode()) & m31
            lanes.append(f"(({a} * h0) + {b}) & {m31}")
    sig = "array(" + ", ".join(f"min({lane})" for lane in lanes) + ") AS sig"
    return sh.groupBy(id_col).agg(F.expr(sig))


def _band_keys_col(num_bands: int, rows_per_band: int, hash_fn: str):
    """Band-key array over a `sig` column — factored so one-frame self-join
    LSH (minhash_lsh_pairs) and cross-frame incremental LSH
    (incremental_minhash_dedup) band identically."""
    if hash_fn == "md5":
        # engine-portable band key: md5_hash60 over the comma-joined lane
        # values (explicit join, not an array cast, so the string is
        # byte-identical in any engine). Built as num_bands separate exprs —
        # this is the small oracle variant, portability beats codegen here.
        return F.array(
            *[
                md5_hash60(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[b * rows_per_band + i].cast("string")
                            for i in range(rows_per_band)
                        ],
                    )
                )
                for b in range(num_bands)
            ]
        )
    # transform-over-sequence, NOT an array of per-band exprs: an
    # F.array of 16 independent slice+hash expressions measured 1.6x
    # slower than the single fused lambda on the sf0.1 band job
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(
            F.slice("sig", b * rows_per_band + 1, rows_per_band).cast("string")
        ),
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    threshold: float = 0.8,
    sig_len: int | None = None,
    max_bucket_size: int = 200,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) whose signature-estimated
    Jaccard >= threshold. Band buckets are ONE aggregate: collect the ids
    per (band_idx, band_hash), then pair them inside each bucket.

    The bucket exchange moves ids and band keys only; the signatures are
    rejoined to the distinct candidate pairs afterwards. A doc appears once
    per band, so a bucket's id list is exactly its members and the pairs
    are those of a (band_idx, band_hash) self-join.

    The signature frame feeds the bucket aggregate and both sides of the
    rejoin (and sig_len when not given) — persist it so the shingle+hash
    DAG runs once, not 3x.

    ``max_bucket_size`` drops band buckets of more than that many docs
    before pairing: a bucket of m docs yields m^2/2 candidate pairs, so one
    boilerplate-heavy bucket can dominate the whole job (the documented
    coverage cap for this operator — same role as ngram max_df). ``None``
    keeps every bucket; null ids are not bucket members.
    """
    sigs = sigs.persist()
    sigs.count()  # materialize ONCE: the band job references sigs 3x and
    # concurrent tasks would otherwise race-compute the unfilled cache
    if sig_len is None:
        sig_len = sigs.select(F.size("sig")).first()[0]
    rows_per_band = max(1, sig_len // num_bands)
    bands = _band_keys_col(num_bands, rows_per_band, hash_fn)
    buckets = (
        sigs.select(
            F.col(id_col).alias("id"), F.posexplode(bands).alias("band_idx", "band_hash")
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.collect_list("id").alias("ids"))
    )
    size = F.size("ids")
    keep = size > 1 if max_bucket_size is None else (size > 1) & (size <= max_bucket_size)
    # distinct on the bare id pair (cheap), then rejoin the persisted
    # signatures once - distinct over 64-long arrays shuffles k x more bytes
    ids = (
        buckets.filter(keep)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    pairs = ids.join(sa, "a").join(sb, "b")
    est = pairs.withColumn(
        "est_jaccard",
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size("sig_a"),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select("a", "b", "est_jaccard")


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Drop near-duplicates: any doc matched (est Jaccard >= threshold) to a
    lower-id doc is removed. One-hop rule (no transitive closure — matches
    common web-pipeline practice; closure needs an iterative min-propagation,
    see connected_components). ``hash_fn="md5"`` selects the DuckDB-
    replayable lane hash (see minhash_signatures)."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, seed, hash_fn=hash_fn
    )
    pairs = minhash_lsh_pairs(
        sigs, id_col, num_bands, threshold, sig_len=num_hashes, hash_fn=hash_fn
    )
    # materialize the (duplicate-count-sized) loser set, then RELEASE the
    # signature cache lsh_pairs pinned: without this every call leaks a
    # corpus-sized cached block (measured 2x slowdown across bench reps from
    # storage-memory pressure alone)
    losers = (
        pairs.select(F.col("b").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame, max_iters: int = 10, on_max_iters: str = "raise"
) -> DataFrame:
    """Cluster ids for duplicate pairs (a,b) via min-label propagation WITH
    pointer shortcutting; returns (id, cluster).

    Each round does (1) neighbor-min over the symmetric edge set and (2) a
    shortcut step (cluster := its own cluster's cluster — the pointer-
    doubling idiom from large-star/small-star CC), so label depth halves
    per round and convergence is O(log diameter) instead of O(diameter).
    Without the shortcut, a duplicate CHAIN longer than max_iters hops
    (common in crawl data: near-dup a~b~c~... with no direct a~c pair)
    silently returned unconverged labels; with it, a 2^max_iters-long chain
    converges. Each round is three bounded shuffles over id-sized frames;
    localCheckpoint truncates the iterative lineage.

    Convergence is certified: the function returns only labelings whose
    final propagation round changed nothing. If ``max_iters`` rounds pass
    while labels are still moving, ``on_max_iters`` decides: ``"raise"``
    (default) raises RuntimeError — a partial labeling silently merges
    distinct duplicate clusters downstream; ``"extend"`` keeps iterating
    (up to 4x max_iters — with shortcutting that covers diameters up to
    ~2^(4*max_iters), so hitting the extended cap means a logic bug, and
    it raises).
    """
    if on_max_iters not in ("raise", "extend"):
        raise ValueError(f"on_max_iters must be 'raise' or 'extend', got {on_max_iters!r}")
    edges = pairs.select("a", "b").unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn(
        "cluster", F.col("id")
    )
    converged = False
    hard_cap = max_iters if on_max_iters == "raise" else 4 * max_iters
    for it in range(hard_cap):
        prop = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("cluster").alias("nbr_min"))
        )
        new = (
            labels.join(prop, labels.id == prop.a, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("nbr_min", F.col("cluster"))
                ).alias("cluster"),
            )
        )
        # shortcut: follow the label pointer one hop (cluster of cluster);
        # a cluster id always exists as an id (labels seeded from BOTH edge
        # endpoints), so the left join only misses already-root labels
        l2 = new.select(
            F.col("id").alias("c_id"), F.col("cluster").alias("c_cluster")
        )
        new = (
            new.join(l2, new.cluster == l2.c_id, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("c_cluster", F.col("cluster"))
                ).alias("cluster"),
            )
        )
        new = new.localCheckpoint(eager=True)  # truncate iterative lineage
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter("n.cluster != o.cluster")
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {hard_cap} rounds "
            f"(labels still changing after round {it + 1}); returning would "
            "silently mislabel duplicate clusters. Raise max_iters or pass "
            "on_max_iters='extend'."
        )
    return labels


def md5_hash60(col) -> F.Column:
    """Engine-portable deterministic 60-bit hash: the first 15 hex chars of
    md5 parsed as an integer. Identical in DuckDB via
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — used wherever an oracle
    must reproduce hash values exactly (xxhash64 has no DuckDB analog)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over word hashes, (id, simhash: bigint).

    Weighted bit voting entirely in built-ins: explode words with counts,
    one conditional sum per bit, reassemble the fingerprint with
    shiftleft/bitwise or. ``hash_fn``: "xxhash64" (64-bit, fastest) or
    "md5" (60-bit md5_hash60 — bit-identical to the DuckDB oracle).
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    wc = (
        words(df, text_col)
        .select(id_col, F.explode("words").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "h", F.xxhash64("w") if hash_fn == "xxhash64" else md5_hash60("w")
        )
    )
    bit_sums = wc.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                    F.col("cnt"),
                ).otherwise(-F.col("cnt"))
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bit_sums.select(id_col, fp.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity for pairs sharing >= 1 n-gram.

    Inverted-index self-join; ``max_df`` drops n-grams present in more than
    that many docs before pairing (bounds the quadratic blowup on boilerplate
    n-grams — the documented coverage cap for this operator).
    """
    ng = (
        words(df, text_col)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("words") - n + 1, F.lit(1))),
                    lambda i: F.array_join(F.slice("words", i, n), " "),
                )
            ).alias("ng"),
        )
        .distinct()
    )
    if max_df is not None:
        hot = ng.groupBy("ng").count().filter(F.col("count") > max_df).select("ng")
        ng = ng.join(hot, "ng", "left_anti")
    sizes = ng.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = ng.select(F.col(id_col).alias("a"), "ng")
    b = ng.select(F.col(id_col).alias("b"), "ng")
    inter = (
        a.join(b, "ng").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({id_col: "b", "sz": "sz_b"}), "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def incremental_minhash_dedup(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int = 200,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup ingestion: drop rows of ``new`` whose
    signature-estimated Jaccard against ANY existing corpus document is
    >= threshold — the fuzzy companion to incremental_dedup_sequences'
    exact check, and the shape a continuous crawl pipeline actually runs
    (batch-vs-index, never corpus-vs-corpus).

    Scale shape: band keys of the NEW batch join band keys of the CORPUS —
    candidate generation is |new bands| x |matching corpus buckets|, linear
    in the batch, and the corpus contributes only (id, band, 8-byte hash)
    rows. Pass ``corpus_sigs`` (from minhash_signatures, same params) to
    skip re-shingling the corpus — the production form, where the signature
    index is maintained incrementally and 100 TB of corpus text is never
    touched at ingest time. The hot-bucket cap applies to the CORPUS side
    (a degenerate boilerplate bucket there would pair with every batch
    doc); within-batch near-dups are minhash_dedup's job — compose as
    ``minhash_dedup(incremental_minhash_dedup(new, corpus, ...))``.
    """
    sn = minhash_signatures(
        new, text_col, id_col, num_hashes, shingle_k, seed, hash_fn=hash_fn
    ).persist()
    sn.count()  # fill the cache once: referenced by bands + rescore
    own_corpus_sigs = corpus_sigs is None
    if own_corpus_sigs:
        sc = minhash_signatures(
            corpus, text_col, id_col, num_hashes, shingle_k, seed, hash_fn=hash_fn
        ).persist()
        sc.count()
    else:
        # Caller-maintained incremental signature index: its storage level
        # is the caller's to manage — persisting/unpersisting it here would
        # evict the very cache the parameter exists to reuse across batches.
        sc = corpus_sigs
    rows_per_band = max(1, num_hashes // num_bands)
    keys = _band_keys_col(num_bands, rows_per_band, hash_fn)
    bn = sn.select(
        F.col(id_col).alias("a"), F.posexplode(keys).alias("band_idx", "band_hash")
    )
    bc = sc.select(
        F.col(id_col).alias("b"), F.posexplode(keys).alias("band_idx", "band_hash")
    )
    if max_bucket_size is not None:
        hot = (
            bc.groupBy("band_idx", "band_hash")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        bc = bc.join(F.broadcast(hot), ["band_idx", "band_hash"], "left_anti")
    cand = bn.join(bc, ["band_idx", "band_hash"]).select("a", "b").distinct()
    sa = sn.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sb = sc.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    est = cand.join(sa, "a").join(sb, "b").withColumn(
        "est_jaccard",
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size("sig_a"),
    )
    losers = (
        est.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("a").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sn.unpersist()
    if own_corpus_sigs:
        sc.unpersist()
    return new.join(losers, id_col, "left_anti")
